"""Draw the registry workload's query list and record it in
``workloads.json``.

    python3 perfbench/resolve.py BENCH_FULL.json

Candidates are the oracle-paired, non-streaming registry queries with
a median in the given bench file. The draw is stratified by that
median: 7 below 0.5 s and 5 from 0.5 to 1 s, with a fixed draw seed,
so the list only changes when this script is re-run. The benchmark
itself reads only ``workloads.json``.
"""

from __future__ import annotations

import json
import os
import random
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
STRATA = [(0.0, 0.5, 7), (0.5, 1.0, 5)]
DRAW_SEED = 0


def main(bench_path: str) -> None:
    sys.path.insert(0, os.path.dirname(HERE))
    from eventstreamml_spark import queries as q

    with open(bench_path) as f:
        medians = json.load(f)["queries"]
    registered, oracles = q.queries(), q.oracle_sql()
    paired = sorted(
        n for n in medians
        if n in registered and n in oracles and not n.startswith("streaming_")
    )
    rng = random.Random(DRAW_SEED)
    picked = []
    for lo, hi, k in STRATA:
        stratum = [n for n in paired if lo <= medians[n] < hi]
        picked += rng.sample(stratum, k)
    record = {
        "registry_fixed_cost": {
            "source": os.path.basename(bench_path),
            "strata_s": [[lo, hi, k] for lo, hi, k in STRATA],
            "draw_seed": DRAW_SEED,
            "queries": sorted(picked),
            "source_median_s": {n: medians[n] for n in sorted(picked)},
        }
    }
    with open(os.path.join(HERE, "workloads.json"), "w") as f:
        json.dump(record, f, indent=1)
        f.write("\n")


if __name__ == "__main__":
    main(sys.argv[1])
