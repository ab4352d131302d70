"""Codegen census: the largest generated method of every registered
query, or, with ``--compile``, the classes each query compiles.

Usage:
  python scripts/codegen_census.py --sf-dir DIR [name ...]
  python scripts/codegen_census.py --sf-dir DIR --compile [name ...]

Default mode builds each registered query (all of them when no names
are given) on the test data in ``DIR`` (an sf0.001 set keeps the builds'
eager jobs small), plans it with AQE off, compiles its whole-stage
codegen stages and prints one line per query, largest first:

  <bytes>  <name>

followed by the queries whose largest method is over HotSpot's JIT
limit (``JIT_METHOD_LIMIT``, 8000 bytes): those stages run their
per-row loop in the JVM's interpreter. The whole registry takes about
5 minutes on 4 cores at sf0.001.

``--compile`` runs the queries the way the benchmark does, build and
``collect()`` with the session's own confs, in two passes over the same
list in one session: a cold pass, then a warm one. For each query it
prints the generated classes Janino compiled and the compile ms, cold
then warm, most cold classes first:

  <cold classes> <cold ms>  <warm classes> <warm ms>  <name>

A warm class is a miss in the codegen cache
(``spark.sql.codegen.cache.maxEntries``, set in ``session.get_spark``).
It has one of two causes: the query generated different source on its
second build, or the list compiled more distinct classes than the cache
holds, so the LRU evicted them before the warm pass came back. The
summary line gives the cold total (with a cache that evicts nothing,
the list's distinct classes) and the cache size, so the two can be told
apart.

In both modes a query that fails is printed as ``error`` with the
exception's first line.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _first_line(exc: Exception) -> str:
    return (str(exc).strip().splitlines() or [type(exc).__name__])[0][:160]


def method_sizes(spark, registry, names, sf_dir) -> None:
    from eventstreamml_spark.plans.inspect import JIT_METHOD_LIMIT, max_generated_method_bytes

    sizes: dict[str, int] = {}
    errors: dict[str, str] = {}
    for name in names:
        try:
            sizes[name] = max_generated_method_bytes(registry[name](spark, sf_dir))
        except Exception as exc:  # noqa: BLE001 — report and go on
            errors[name] = _first_line(exc)
    for name, n in sorted(sizes.items(), key=lambda kv: (-kv[1], kv[0])):
        print(f"{n:7d}  {name}")
    for name, msg in sorted(errors.items()):
        print(f"  error  {name}: {msg}")
    over = [name for name, n in sizes.items() if n > JIT_METHOD_LIMIT]
    print(f"# {len(sizes)} queries measured, {len(errors)} failed, "
          f"{len(over)} over the {JIT_METHOD_LIMIT}-byte JIT limit: {', '.join(sorted(over)) or '-'}")


def compile_passes(spark, registry, names, sf_dir) -> None:
    from eventstreamml_spark.plans.inspect import codegen_compiles

    passes: list[dict[str, tuple[int, float]]] = [{}, {}]
    errors: dict[str, str] = {}
    for per_query in passes:
        for name in names:
            if name in errors:
                continue
            n0, ms0 = codegen_compiles(spark)
            try:
                registry[name](spark, sf_dir).collect()
            except Exception as exc:  # noqa: BLE001 — report and go on
                errors[name] = _first_line(exc)
                continue
            n1, ms1 = codegen_compiles(spark)
            per_query[name] = (n1 - n0, ms1 - ms0)
    cold, warm = passes
    done = [n for n in names if n in warm]
    for name in sorted(done, key=lambda n: (-cold[n][0], n)):
        (cn, cms), (wn, wms) = cold[name], warm[name]
        print(f"{cn:5d} {cms:9.1f}  {wn:5d} {wms:9.1f}  {name}")
    for name, msg in sorted(errors.items()):
        print(f"  error  {name}: {msg}")
    entries = spark.conf.get("spark.sql.codegen.cache.maxEntries")
    recompiled = sorted(n for n in done if warm[n][0])
    print(f"# {len(done)} queries, {len(errors)} failed, codegen cache {entries} entries; "
          f"cold pass {sum(cold[n][0] for n in done)} classes in "
          f"{sum(cold[n][1] for n in done):.0f} ms; warm pass "
          f"{sum(warm[n][0] for n in done)} classes in {sum(warm[n][1] for n in done):.0f} ms; "
          f"recompiled warm: {', '.join(recompiled) or '-'}")


def main() -> None:
    from eventstreamml_spark import queries as q
    from eventstreamml_spark.session import get_spark

    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("names", nargs="*", help="query names (default: all registered)")
    ap.add_argument("--sf-dir", required=True, help="test data directory, e.g. an sf0.001 set")
    ap.add_argument("--compile", action="store_true",
                    help="classes and compile ms of a cold and a warm build+collect pass")
    ns = ap.parse_args()

    spark = get_spark("codegen_census")
    spark.sparkContext.setLogLevel("ERROR")
    registry = q.queries()
    census = compile_passes if ns.compile else method_sizes
    census(spark, registry, ns.names or list(registry), ns.sf_dir)
    spark.stop()


if __name__ == "__main__":
    main()
