"""``registry_fixed_cost``: sub-second registry queries, each checked
against its DuckDB oracle.

An op is one query: the registry function call (plan build, including
any eager jobs it runs) and then ``.collect()``. Results are hashed the
order-insensitive way of ``tests/oracle.py`` (``_norm_rows``) and
compared with the digest of the query's oracle SQL on the same files.
"""

from __future__ import annotations

import hashlib
import json
import os
import time

from datagen import write_tables
from spans import catalyst_phases_ms

HERE = os.path.dirname(os.path.abspath(__file__))

#: generated input size: 0.1 x the sf0.1 tables (60k lineitem, 10k
#: events). Per-query time here is fixed cost, not data volume.
SCALE = 0.1


def resolved_queries() -> list[str]:
    """The workload's recorded query list. Fails if a name is no longer
    registered with an oracle, so the workload cannot shrink silently."""
    from eventstreamml_spark import queries as q

    with open(os.path.join(HERE, "workloads.json")) as f:
        names = json.load(f)[RegistryWorkload.name]["queries"]
    registered, oracles = q.queries(), q.oracle_sql()
    missing = [n for n in names if n not in registered or n not in oracles]
    if missing:
        raise SystemExit(f"queries no longer registered with an oracle: {missing}")
    return names


def digest(cols, rows) -> str:
    from tests.oracle import _norm_rows

    return hashlib.sha256(repr(_norm_rows(list(cols), rows)).encode()).hexdigest()


class RegistryWorkload:
    name = "registry_fixed_cost"
    # the second warm-up pass: timed passes right after a single one
    # still ran about 10% slower than later passes (JIT)
    warmup_passes = 2
    nominal_pass_s = 5.0  # 4 cores

    def __init__(self, spark, work_dir: str, seed: int) -> None:
        from eventstreamml_spark import queries as q

        self.spark = spark
        self.data_dir = os.path.join(work_dir, f"tables-seed{seed}")
        write_tables(self.data_dir, seed, SCALE)
        self.ops = resolved_queries()
        self._fns = q.queries()
        self._oracle_sql = q.oracle_sql()
        self.oracle_s = 0.0
        self.oracle_passes = 1  # each oracle query runs once per run

    def build(self, op: str):
        """The registry call: plan build, with any eager jobs it runs."""
        return self._fns[op](self.spark, self.data_dir)

    def action(self, df) -> list[tuple]:
        return [tuple(r) for r in df.collect()]

    def inspect(self, op: str, df, rows: list[tuple], traced: bool) -> dict:
        """Digest of the result, taken after the clock stopped."""
        out = {"rows": len(rows), "digest": digest(df.columns, rows)}
        if traced:
            out["catalyst_ms"] = catalyst_phases_ms(df)
        return out

    def verify(self, results: list[tuple[str, dict]]) -> list[bool]:
        """Compare every result with its DuckDB oracle digest. The
        oracle runs once per query, after the timed ops; its time is
        ``oracle.duckdb_s``."""
        from tests.oracle import duckdb_conn

        expected = {}
        conn = duckdb_conn(self.data_dir)
        try:
            for op in self.ops:
                t0 = time.perf_counter()
                res = conn.execute(self._oracle_sql[op])
                expected[op] = digest([d[0] for d in res.description], res.fetchall())
                self.oracle_s += time.perf_counter() - t0
        finally:
            conn.close()
        return [r["digest"] == expected[op] for op, r in results]
