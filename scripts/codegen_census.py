"""Codegen census: the largest generated method of every registered query.

Usage:
  python scripts/codegen_census.py --sf-dir DIR [name ...]

Builds each registered query (all of them when no names are given) on
the test data in ``DIR`` (an sf0.001 set keeps the builds' eager jobs
small), plans it with AQE off, compiles its whole-stage codegen stages
and prints one line per query, largest first:

  <bytes>  <name>

followed by the queries whose largest method is over HotSpot's JIT
limit (``JIT_METHOD_LIMIT``, 8000 bytes): those stages run their
per-row loop in the JVM's interpreter. A query that fails to build is
printed as ``error`` with the exception's first line. The whole
registry takes about 5 minutes on 4 cores at sf0.001.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    from eventstreamml_spark import queries as q
    from eventstreamml_spark.plans.inspect import JIT_METHOD_LIMIT, max_generated_method_bytes
    from eventstreamml_spark.session import get_spark

    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("names", nargs="*", help="query names (default: all registered)")
    ap.add_argument("--sf-dir", required=True, help="test data directory, e.g. an sf0.001 set")
    ns = ap.parse_args()

    spark = get_spark("codegen_census")
    spark.sparkContext.setLogLevel("ERROR")
    registry = q.queries()
    sizes: dict[str, int] = {}
    errors: dict[str, str] = {}
    for name in ns.names or list(registry):
        try:
            sizes[name] = max_generated_method_bytes(registry[name](spark, ns.sf_dir))
        except Exception as exc:  # noqa: BLE001 — report and go on
            errors[name] = (str(exc).strip().splitlines() or [type(exc).__name__])[0][:160]
    for name, n in sorted(sizes.items(), key=lambda kv: (-kv[1], kv[0])):
        print(f"{n:7d}  {name}")
    for name, msg in sorted(errors.items()):
        print(f"  error  {name}: {msg}")
    over = [name for name, n in sizes.items() if n > JIT_METHOD_LIMIT]
    print(f"# {len(sizes)} queries measured, {len(errors)} failed, "
          f"{len(over)} over the {JIT_METHOD_LIMIT}-byte JIT limit: {', '.join(sorted(over)) or '-'}")
    spark.stop()


if __name__ == "__main__":
    main()
