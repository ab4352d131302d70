"""Bench-scale parity sweep with a COMMITTED artifact.

Runs every DuckDB-oracle-checked registry query at sf0.1 (the scale
where round-5's KS round-vs-floor grid bug first diverged — sf0.01
agreement can be coincidental) and writes ``PARITY_SF01.json`` at the
repo root: per-query green/fail, the repo commit SHA the sweep ran
against, and an md5 fingerprint of every input parquet file. The
artifact is regenerated and committed alongside any window rotation or
binning/rounding change, so "the sweep ran before the rotation" is
provable from the repo history rather than asserted.

Usage:  python scripts/parity_sweep.py [sf_dir] [out_json]
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys
import traceback

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tests"))


def _data_fingerprint(sf_dir: str) -> dict[str, str]:
    out = {}
    for name in sorted(os.listdir(sf_dir)):
        if not name.endswith(".parquet"):
            continue
        h = hashlib.md5()
        with open(os.path.join(sf_dir, name), "rb") as f:
            for chunk in iter(lambda: f.read(1 << 20), b""):
                h.update(chunk)
        out[name] = h.hexdigest()
    return out


def _tree_provenance() -> tuple[str, str, bool]:
    """``(commit, verified_tree, dirty)`` of the checkout a sweep runs on.

    A sweep necessarily runs BEFORE the commit that carries its
    artifact, so the verified tree is pinned bit-exactly via a
    `git stash create`-style tree hash (includes uncommitted tracked
    changes) rather than parent+dirty."""
    sha = subprocess.run(
        ["git", "rev-parse", "HEAD"], cwd=REPO, capture_output=True, text=True
    ).stdout.strip()
    dirty = bool(
        subprocess.run(
            ["git", "status", "--porcelain"],
            cwd=REPO,
            capture_output=True,
            text=True,
        ).stdout.strip()
    )
    tree = subprocess.run(
        ["git", "stash", "create"], cwd=REPO, capture_output=True, text=True
    ).stdout.strip()
    if not tree:  # clean tree: stash create emits nothing
        tree = subprocess.run(
            ["git", "rev-parse", "HEAD^{tree}"],
            cwd=REPO,
            capture_output=True,
            text=True,
        ).stdout.strip()
    return sha, tree, dirty


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    out_path = (
        sys.argv[2]
        if len(sys.argv) > 2
        else os.path.join(REPO, "PARITY_SF01.json")
    )

    from eventstreamml_spark import queries as q
    from eventstreamml_spark.session import get_spark
    from tests.oracle import compare

    sha, tree, dirty = _tree_provenance()
    spark = get_spark("parity-sweep", shuffle_partitions=16)
    results: dict[str, dict] = {}
    fails = 0
    oracles = q.oracle_sql()
    for name in sorted(oracles):
        try:
            compare(spark, sf_dir, q.queries()[name], oracles[name])
            results[name] = {"green": True}
        except Exception as ex:  # noqa: BLE001 — record, don't abort
            fails += 1
            results[name] = {
                "green": False,
                "err": "".join(
                    traceback.format_exception_only(type(ex), ex)
                ).strip()[:500],
            }
            print(f"FAIL {name}: {ex}", file=sys.stderr)
    spark.stop()

    artifact = {
        "sf_dir": sf_dir,
        "commit": sha,
        "verified_tree": tree,
        "working_tree_dirty": dirty,
        "n_queries": len(results),
        "n_green": len(results) - fails,
        "n_fail": fails,
        "data_md5": _data_fingerprint(sf_dir),
        "results": results,
    }
    with open(out_path, "w") as f:
        json.dump(artifact, f, indent=1, sort_keys=True)
        f.write("\n")
    print(
        f"parity sweep: {len(results) - fails}/{len(results)} green "
        f"at {sf_dir} (commit {sha[:9]}{'+dirty' if dirty else ''}) "
        f"-> {out_path}"
    )
    return 1 if fails else 0


if __name__ == "__main__":
    raise SystemExit(main())
