"""Per-query result digests and optimized-plan hashes (``DIGESTS_SF001.json``).

For every registered query, at sf0.01, records:

- ``rows``: the row count;
- ``columns``: the sorted output columns;
- ``digest_p8`` / ``digest_p200``: an order-insensitive md5 of the rows
  under ``tests/oracle.py`` ``_norm_rows``, with 8 and with 200 shuffle
  partitions. A query whose two digests differ depends on the partition
  count;
- ``plan``: an md5 of the normalized optimized logical plan, plus the
  optimized plans of every intermediate the build pins with
  ``localCheckpoint`` (a pinned relation shows up in the final plan only
  as a ``LogicalRDD``, which would hide the code that built it).
  Normalization strips expression ids (``#12L``), the ``_common_expr_N``
  and ``_gen_alias_N`` numbering, the lambda-variable numbering
  (``lambda x_1#`` vs ``lambda x_4#``) and the per-session hash in
  bucketed table names. Every plan is stable between builds, so a
  plan that changes from one build to the next shows up as a diff.

A refactor that should not change any query re-runs the sweep and
compares it with the committed manifest:

    python scripts/digest_sweep.py           # rewrite the manifest
    python scripts/digest_sweep.py --check   # sweep, diff, exit 1 on any diff

``--check`` always sweeps every registered query and writes its own run
to ``/tmp/digest_sweep_check.json``.

Spark only (no DuckDB), one session, ``SPARK_GRAFT_CPUS`` cores. Plan
hashes compare only at the manifest's ``default_parallelism`` (the
committed manifest: ``SPARK_GRAFT_CPUS=4``).
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import re
import sys
import time
import traceback

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import DataFrame  # noqa: E402

from scripts.parity_sweep import _data_fingerprint, _tree_provenance  # noqa: E402
from tests.conftest import SF_ORACLE  # noqa: E402
from tests.oracle import _norm_rows  # noqa: E402

MANIFEST = os.path.join(REPO, "DIGESTS_SF001.json")
CHECK_OUT = os.path.join("/tmp", "digest_sweep_check.json")
PARTITIONS = (8, 200)

_PLAN_NOISE = (
    (re.compile(r"(lambda [A-Za-z_]\w*?)_\d+#"), r"\1_#"),
    # operators/storage.py bucketed_pair names its tables per session
    (re.compile(r"esml_b_[0-9a-f]{12}_"), "esml_b_"),
    (re.compile(r"_common_expr_\d+"), "_common_expr_"),
    (re.compile(r"_gen_alias_\d+"), "_gen_alias_"),
    (re.compile(r"#\d+L?"), "#"),
)


def normalize_plan(text: str) -> str:
    for pat, repl in _PLAN_NOISE:
        text = pat.sub(repl, text)
    return text


def _optimized(df) -> str:
    return normalize_plan(df._jdf.queryExecution().optimizedPlan().toString())


def build_with_plan(fn, spark, sf_dir):
    """Build one query; return ``(df, plan_md5)``. The hash covers the
    final optimized plan and, in build order, every pinned input's."""
    pinned: list[str] = []
    orig = DataFrame.localCheckpoint

    def recording(self, *args, **kwargs):
        pinned.append(_optimized(self))
        return orig(self, *args, **kwargs)

    DataFrame.localCheckpoint = recording
    try:
        df = fn(spark, sf_dir)
    finally:
        DataFrame.localCheckpoint = orig
    text = "\n====\n".join([*pinned, _optimized(df)])
    return df, hashlib.md5(text.encode()).hexdigest()


def rows_digest(df) -> tuple[int, list[str], str]:
    cols, rows = _norm_rows(df.columns, [tuple(r) for r in df.collect()])
    return len(rows), cols, hashlib.md5(repr(rows).encode()).hexdigest()


def digest_query(spark, sf_dir: str, fn) -> dict:
    rec: dict = {}
    for n in PARTITIONS:
        spark.conf.set("spark.sql.shuffle.partitions", str(n))
        df, plan = build_with_plan(fn, spark, sf_dir)
        if n == PARTITIONS[0]:
            rec["plan"] = plan
        rec["rows"], rec["columns"], rec[f"digest_p{n}"] = rows_digest(df)
    spark.conf.set("spark.sql.shuffle.partitions", str(PARTITIONS[0]))
    return rec


def sweep(spark, sf_dir: str) -> dict[str, dict]:
    """Digest every registered query, in name order."""
    from eventstreamml_spark import queries as q

    reg = q.queries()
    names = sorted(reg)
    out: dict[str, dict] = {}
    for i, name in enumerate(names, 1):
        t0 = time.perf_counter()
        try:
            out[name] = digest_query(spark, sf_dir, reg[name])
        except Exception as ex:  # noqa: BLE001 — record, don't abort
            out[name] = {
                "error": "".join(
                    traceback.format_exception_only(type(ex), ex)
                ).strip()[:500]
            }
        print(
            f"[{i}/{len(names)}] {name} {time.perf_counter() - t0:.1f}s",
            file=sys.stderr,
            flush=True,
        )
    return out


def diff(base: dict[str, dict], new: dict[str, dict]) -> list[str]:
    """Human-readable differences of ``new`` against ``base``."""
    lines = []
    for name in sorted(new):
        a, b = base.get(name), new[name]
        if a is None:
            lines.append(f"{name}: not in the base manifest")
            continue
        for key in sorted(set(a) | set(b)):
            if a.get(key) != b.get(key):
                lines.append(f"{name}.{key}: {a.get(key)!r} -> {b.get(key)!r}")
    return lines


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument(
        "--check",
        action="store_true",
        help="diff against the committed manifest instead of rewriting it",
    )
    args = ap.parse_args()

    from eventstreamml_spark.session import get_spark

    sha, tree, dirty = _tree_provenance()
    spark = get_spark("digest-sweep", shuffle_partitions=PARTITIONS[0])
    parallelism = spark.sparkContext.defaultParallelism
    t0 = time.perf_counter()
    results = sweep(spark, SF_ORACLE)
    spark.stop()
    artifact = {
        "sf_dir": SF_ORACLE,
        "commit": sha,
        "verified_tree": tree,
        "working_tree_dirty": dirty,
        "partitions": list(PARTITIONS),
        "default_parallelism": parallelism,
        "n_queries": len(results),
        "n_error": sum("error" in r for r in results.values()),
        "n_partition_dependent": sum(
            r.get("digest_p8") != r.get("digest_p200")
            for r in results.values()
            if "error" not in r
        ),
        "sweep_s": round(time.perf_counter() - t0, 1),
        "data_md5": _data_fingerprint(SF_ORACLE),
        "results": results,
    }
    out = CHECK_OUT if args.check else MANIFEST
    with open(out, "w") as f:
        json.dump(artifact, f, indent=1, sort_keys=True)
        f.write("\n")
    print(
        f"digest sweep: {len(results)} queries, {artifact['n_error']} errors, "
        f"{artifact['n_partition_dependent']} partition-dependent -> {out}"
    )
    if not args.check:
        return 0
    with open(MANIFEST) as f:
        base = json.load(f)
    for key in ("data_md5", "default_parallelism"):
        if base[key] != artifact[key]:
            # spark.range splits default to the core count and print in
            # the plan, so plan hashes compare only at equal parallelism
            print(f"{key} differs from the manifest's", file=sys.stderr)
            return 1
    lines = diff(base["results"], results)
    for line in lines:
        print(line)
    print(f"{len(lines)} differences against {MANIFEST}")
    return 1 if lines else 0


if __name__ == "__main__":
    raise SystemExit(main())
