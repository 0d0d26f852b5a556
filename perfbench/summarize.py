"""Summary of a set of benchmark runs: per workload and metric, the median,
quartiles, spread ((Q3 - Q1) / median), the tail (the highest percentile
with at least ten runs beyond it) and the run count, and the failed and
attempted operations.

    for seed in 1 2 3 4 5 6 7 8 9 10; do
        python3 perfbench/run.py --workload qf_batch --seed $seed --seconds 45 \\
            --trace 0 | tail -n 2 >> set.jsonl
    done
    python3 perfbench/summarize.py set.jsonl

Each run contributes its last two lines: the details line (which names the
workload) and the result line.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from harness import summarize  # noqa: E402


def summarize_runs(lines: list[str]) -> dict:
    """(workload, trace) -> {"runs", "attempted", "failed", "metrics":
    {name: summary}} over the (details, result) line pairs."""
    out: dict = {}
    details = None
    for line in lines:
        obj = json.loads(line)
        if "details" in obj:
            details = obj["details"]
            continue
        key = f"{details['workload']} trace={details['trace']}"
        group = out.setdefault(key, {"runs": 0, "attempted": 0, "failed": 0, "values": {}})
        group["runs"] += 1
        group["attempted"] += obj["attempted"]
        group["failed"] += obj["failed"]
        for name, m in obj["metrics"].items():
            group["values"].setdefault(name, []).append(m["value"])
    for group in out.values():
        group["metrics"] = {k: summarize(v) for k, v in group.pop("values").items()}
    return out


def main() -> int:
    lines = []
    for path in sys.argv[1:]:
        with open(path) as f:
            lines += [ln for ln in f if ln.strip()]
    print(json.dumps(summarize_runs(lines), indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
