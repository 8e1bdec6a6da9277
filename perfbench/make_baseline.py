"""Record the committed baseline: one traced and one untraced run of each
workload, written to perfbench/baseline/.

    python3 perfbench/make_baseline.py [--seed 1] [--seconds 20]

``layers.json`` keeps the raw result lines; ``BASELINE.md`` is the layer
table, the end-to-end figures, each catalog workload's build share, the
tracing overhead (traced operations against the untraced ones of the
same traced run) and the error rate.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("catalog_relational", "catalog_operators", "etl_ingest")


def run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    p = subprocess.run(cmd, capture_output=True, text=True, check=True)
    return json.loads(p.stdout.strip().splitlines()[-1])


def fmt(v: float) -> str:
    return f"{v:.4g}" if isinstance(v, float) else str(v)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=20)
    args = ap.parse_args()
    results = {
        w: {"traced": run(w, args.seed, args.seconds, 1),
            "untraced": run(w, args.seed, args.seconds, 0)}
        for w in WORKLOADS
    }
    out_dir = os.path.join(HERE, "baseline")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, "layers.json"), "w") as fh:
        json.dump(results, fh, indent=1)
        fh.write("\n")

    layer = {w: {k: v["value"] for k, v in r["traced"]["metrics"].items()} for w, r in results.items()}
    e2e = {w: {k: v["value"] for k, v in r["untraced"]["metrics"].items()} for w, r in results.items()}
    units = {k: v["unit"] for k, v in results[WORKLOADS[0]]["traced"]["metrics"].items()}
    lines = [
        "# Benchmark baseline",
        "",
        f"`python3 perfbench/make_baseline.py --seed {args.seed} --seconds {args.seconds}`: "
        "one traced and one untraced run per workload.",
        "",
        "## End to end (untraced run)",
        "",
        "| metric | unit | " + " | ".join(WORKLOADS) + " |",
        "|---|---|" + "---|" * len(WORKLOADS),
    ]
    e2e_units = {k: v["unit"] for k, v in results[WORKLOADS[0]]["untraced"]["metrics"].items()}
    for k, u in e2e_units.items():
        lines.append(f"| {k} | {u} | " + " | ".join(fmt(e2e[w][k]) for w in WORKLOADS) + " |")
    lines += [
        "",
        "Correctness: " + ", ".join(
            f"{w} {r[t]['failed']}/{r[t]['attempted']} failed ({t})"
            for w, r in results.items() for t in ("untraced", "traced")
        ) + ".",
        "",
        "## Per layer (traced run; per pass for catalog workloads, per interval for etl_ingest)",
        "",
        "| metric | unit | " + " | ".join(WORKLOADS) + " |",
        "|---|---|" + "---|" * len(WORKLOADS),
    ]
    for k, u in units.items():
        lines.append(f"| {k} | {u} | " + " | ".join(fmt(layer[w][k]) for w in WORKLOADS) + " |")
    lines += ["", "## Build share and tracing overhead", ""]
    for w in WORKLOADS:
        m = layer[w]
        if w != "etl_ingest":
            total = m["plans.build_s"] + m["spark.plan_s"] + m["spark.exec_s"]
            lines.append(
                f"- {w}: plans.build_s is {m['plans.build_s'] / total:.1%} of build + plan + exec "
                f"({m['plans.build_jobs']:.3g} jobs launched during build per pass, "
                f"{m['plans.build_job_s']:.3g} s of build covered by jobs)."
            )
        lines.append(
            f"- {w}: trace.overhead_frac {m['trace.overhead_frac']:+.3f} inside the traced run; "
            f"error_rate {m['error_rate']:.3g}."
        )
    with open(os.path.join(out_dir, "BASELINE.md"), "w") as fh:
        fh.write("\n".join(lines) + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
