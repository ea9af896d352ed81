"""Compare two sets of benchmark runs, like with like.

    python3 perfbench/compare.py BASE.log NEW.log

Each file holds the standard output of one or more ``perfbench/run.py``
runs (append with ``>>``). Runs are grouped by workload and trace mode.
A workload whose runs differ in core count, master, input size or input
rows between the two files is refused: a number taken on another box or
another corpus is not a baseline. For each metric the tool prints both
medians, the change and each side's spread (interquartile range over
median); an end-to-end metric that got worse by more than its bound in
BENCHMARK.json is a regression. Exit code: 0 clean, 1 regression,
2 refused or unreadable input.
"""

from __future__ import annotations

import json
import statistics
import sys
from collections import defaultdict
from pathlib import Path

# environment fields that must match before two runs are compared
KEY_FIELDS = ("nproc", "master", "size", "input_rows", "page_scale", "buckets")


def load(path: str) -> dict:
    """(workload, trace) -> {"keys": set of key tuples, "metrics": name -> values}."""
    groups: dict = defaultdict(lambda: {"keys": set(), "metrics": defaultdict(list)})
    env = None
    for line in Path(path).read_text().splitlines():
        if line.startswith('{"environment"'):
            env = json.loads(line)["environment"]
        elif line.startswith('{"correct"') and env is not None:
            result = json.loads(line)
            g = groups[env["workload"], "traced" if env["trace"] else "untraced"]
            g["keys"].add(tuple(env.get(k) for k in KEY_FIELDS))
            for name, m in result["metrics"].items():
                g["metrics"][name].append(m["value"])
            env = None
    return groups


def spread(values: list[float]) -> float:
    if len(values) < 2:
        return float("nan")
    q = statistics.quantiles(values, n=4)
    return (q[2] - q[0]) / statistics.median(values)


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    spec = json.loads((Path(__file__).resolve().parent.parent / "BENCHMARK.json").read_text())
    declared = {m["name"]: m for m in spec["end_to_end"] + spec["per_layer"]}
    base, new = load(argv[0]), load(argv[1])
    status = 0
    for group in sorted(set(base) & set(new)):
        b, n = base[group], new[group]
        if len(b["keys"] | n["keys"]) != 1:
            print(f"{group[0]}: refused, runs differ in {KEY_FIELDS}: {sorted(b['keys'] | n['keys'])}")
            status = max(status, 2)
            continue
        print(f"{group[0]} ({group[1]}): {len(next(iter(b['metrics'].values())))} vs "
              f"{len(next(iter(n['metrics'].values())))} runs")
        for name in b["metrics"]:
            if name not in n["metrics"] or name not in declared:
                continue
            mb = statistics.median(b["metrics"][name])
            mn = statistics.median(n["metrics"][name])
            worse = (mn - mb) / abs(mb) if mb else 0.0
            if declared[name]["better"] == "higher":
                worse = -worse
            bound = declared[name].get("bound")
            verdict = ""
            if bound is not None:
                verdict = "REGRESSION" if worse > bound else "ok"
                if worse > bound:
                    status = max(status, 1)
            print(f"  {name:48s} {mb:12.6g} -> {mn:12.6g}  worse {worse:+.3f}"
                  f"  spread {spread(b['metrics'][name]):.3f}/{spread(n['metrics'][name]):.3f}"
                  f"  {verdict}")
    if not set(base) & set(new):
        print("no workload appears in both files", file=sys.stderr)
        status = 2
    return status


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
