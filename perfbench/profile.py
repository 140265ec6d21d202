#!/usr/bin/env python3
"""Traced profile of the current commit, as a markdown table.

    python3 perfbench/profile.py [--seed 1] [--seconds 12] > perfbench/PROFILE.md

Runs `run.py --trace 1` once per workload and splits each workload's
traced wall time (per pass) into the layers the trace separates. Shares
overlap where layers nest: Catalyst planning happens inside build and
inside sink writes, and executor time is spread over every core.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def traced(workload, seed, seconds):
    r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "1"],
                       cwd=os.path.dirname(HERE), capture_output=True, text=True)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or len(lines) < 2:
        sys.exit(f"{workload}: traced run failed\n{r.stdout[-2000:]}\n{r.stderr[-2000:]}")
    return json.loads(lines[-2]), {k: v["value"] for k, v in json.loads(lines[-1])["metrics"].items()}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=12)
    a = ap.parse_args()
    pct = lambda x: f"{100 * x:.1f}%"
    rows = []
    for wl in ("etl_batch", "stream_panes"):
        detail, m = traced(wl, a.seed, a.seconds)
        wall, cpus = detail["traced_wall_s"], detail["cpus"]
        plan = m["catalyst.analysis_s"] + m["catalyst.optimization_s"] + m["catalyst.planning_s"]
        stream = (m["streaming.addbatch_s"] + m["streaming.query_planning_s"]
                  + m["streaming.walcommit_s"] + m["streaming.commit_offsets_s"])
        rows.append((wl, wall, detail, m, {
            "config": m["config.resolve_s"] / wall,
            "build": m["pipeline.build_s"] / wall,
            "plan": plan / wall,
            "exec": m["exec.task_run_s"] / (wall * cpus),
            "stream phases": stream / wall,
            "sink": m["sinks.write_s"] / wall,
            "idle": 1 - m["exec.busy_frac"],
        }, plan))
    print(f"# Traced profile (seed {a.seed}, `--seconds {a.seconds}`, {rows[0][2]['cpus']} cores)\n")
    print("Per pass: a warm etl_batch pass (16 pipelines) or the whole measured stream_panes run.")
    print("`exec` is executor task time over wall x cores; `stream phases` sums the micro-batch")
    print("phases of all queries, so it can exceed 100% when queries overlap; `idle` is 1 - exec.\n")
    keys = list(rows[0][4])
    print("| workload | wall per pass | " + " | ".join(keys) + " | jobs per pipeline | jobs per micro-batch |")
    print("|---|---|" + "---|" * len(keys) + "---|---|")
    for wl, wall, detail, m, shares, _ in rows:
        print(f"| {wl} | {wall:.2f} s | " + " | ".join(pct(shares[k]) for k in keys)
              + f" | {m['exec.jobs_per_op']:.2f} | {m['streaming.jobs_per_batch']:.2f} |")
    print("\n| workload | Catalyst actions | analysis + optimization + planning | per action | "
          "build (Pipeline.execute) | jobs during build | trace overhead |")
    print("|---|---|---|---|---|---|---|")
    for wl, wall, detail, m, shares, plan in rows:
        n = max(m["catalyst.actions"], 1)
        print(f"| {wl} | {m['catalyst.actions']:.0f} | {plan:.3f} s | {plan / n * 1000:.1f} ms | "
              f"{m['pipeline.build_s']:.2f} s | {m['pipeline.build_jobs']:.0f} | "
              f"{pct(m['trace.overhead_frac'])} |")
    print("\nAll per-layer metrics, as `run.py --trace 1` printed them:\n")
    print("| metric | " + " | ".join(r[0] for r in rows) + " |")
    print("|---|" + "---|" * len(rows))
    for k in rows[0][3]:
        print(f"| `{k}` | " + " | ".join(f"{r[3][k]:.4g}" for r in rows) + " |")


if __name__ == "__main__":
    main()
