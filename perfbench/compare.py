"""Parent-vs-change verdict over paired benchmark runs.

    python3 perfbench/compare.py PARENT_RESULTS CHANGE_RESULTS

Each argument is a ``.perfbench/results`` directory (or a copy of one)
from a checkout of one side. Runs pair up by (workload, seed); run the
two sides alternately, with the same seeds, so that drift in the
machine hits both. The comparison is refused when a pair's environment
stamps differ in anything but the code (commit and source digest).
For each workload and end-to-end metric it prints the verdict of
``stats.verdict``: a win needs the change to be better in at least
nine tenths of the pairs and the medians to differ by more than the
parent's interquartile distance.
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

from stats import verdict

CODE_KEYS = {"commit", "source_digest"}


def load(directory: str) -> dict[tuple[str, int], dict]:
    runs = {}
    for p in sorted(Path(directory).glob("*-t0.json")):
        r = json.loads(p.read_text())
        runs[(r["stamp"]["workload"], r["stamp"]["seed"])] = r
    return runs


def stamp_mismatch(a: dict, b: dict) -> list[str]:
    keys = (set(a) | set(b)) - CODE_KEYS
    return sorted(k for k in keys if a.get(k) != b.get(k))


def compare(parent: dict, change: dict) -> dict:
    pairs = sorted(set(parent) & set(change))
    if not pairs:
        raise SystemExit("compare: no (workload, seed) pairs in common")
    for key in pairs:
        bad = stamp_mismatch(parent[key]["stamp"], change[key]["stamp"])
        if bad:
            raise SystemExit(f"compare: refusing pair {key}: stamps differ in {bad}")
    out: dict[str, dict] = {}
    for workload in sorted({w for w, _ in pairs}):
        keys = [k for k in pairs if k[0] == workload]
        metrics = parent[keys[0]]["end_to_end"]
        out[workload] = {
            name: verdict(
                [parent[k]["end_to_end"][name]["value"] for k in keys],
                [change[k]["end_to_end"][name]["value"] for k in keys],
            )
            for name in metrics
        }
    return out


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    result = compare(load(argv[0]), load(argv[1]))
    for workload, metrics in result.items():
        for name, v in metrics.items():
            print(f"{workload:12s} {name:14s} {v['outcome']:5s} "
                  f"parent {v['parent_median']:.4g} change {v['change_median']:.4g} "
                  f"(better in {v['change_better']}/{v['pairs']}, parent IQR {v['parent_iqr']:.3g})")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
