#!/usr/bin/env python3
"""Print the clinical stage table of a saved traced run beside the
reference's published pandas and polars timings (BASELINE.md).

    python3 perfbench/stage_table.py perfbench/results/clinical.trace.json
"""
import json
import sys

# BASELINE.md, first-run rows: (polars, pandas) seconds.
BASELINE = {
    "load_s": (0.0330, 0.0656),
    "join_s": (0.0097, 0.0363),
    "sort_s": (0.0121, 0.0176),
    "full_s": (0.0518, 0.1421),
}
LABELS = {
    "load_s": "Load 3 CSVs",
    "join_s": "2 left joins (users⟕weights⟕treatments)",
    "sort_s": "Global 6-key sort",
    "metrics_s": "Derive + window metrics",
    "full_s": "Full pipeline end-to-end",
}
# Each engine stage includes the stages it is built on; the reference
# timed each step on its own, so the marginal column subtracts those.
BUILT_ON = {"join_s": "load_s", "sort_s": "join_s", "metrics_s": "join_s"}


def main(path):
    with open(path) as f:
        saved = json.load(f)
    stages = saved["raw"]["stages"]
    users = saved["clinical_users"]
    rows = saved["input_rows"]
    print(f"Clinical stages, {users} users / {rows} weigh-ins, local[{saved['cores']}], "
          "median of 3 after one untimed call; config (week, Male, 18-18, 5066).\n")
    print("| stage | engine (s) | engine marginal (s) | polars (s) | pandas (s) |")
    print("|---|---|---|---|---|")
    for k, label in LABELS.items():
        v = stages[k]
        base = BUILT_ON.get(k)
        marginal = f"{v - stages[base]:.4f}" if base else f"{v:.4f}"
        polars, pandas = (f"{x:.4f}" for x in BASELINE[k]) if k in BASELINE else ("—", "—")
        print(f"| {label} | {v:.4f} | {marginal} | {polars} | {pandas} |")


if __name__ == "__main__":
    main(sys.argv[1])
