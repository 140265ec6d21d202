#!/usr/bin/env python3
"""graft benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a graft checkout. The first run builds the engine
and the harness from source with sbt (perfbench/build.sbt); later runs
reuse the build while the sources are unchanged. Each run:

1. generates its inputs from the seed (gen.py), outside every timed window;
2. launches the JVM several times to sample set-up time, then once for
   the measured run (perfbench.Main), which drives graft through its
   public entry points for `--seconds` seconds;
3. checks every output against DuckDB over the same generated inputs;
4. prints, as its last stdout line, one JSON object with `correct`,
   `attempted`, `failed` and `metrics` (end-to-end metrics with
   `--trace 0`, per-layer metrics with `--trace 1`).

Everything it writes stays under `.bench_run/` in the checkout and is
deleted at the end. It exits non-zero when an output is wrong or the
engine's sources are missing.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

# Inputs are TPC-H-shaped at scale `sf` (lineitem = 6M x sf rows).
# `setups` is how many JVMs a run launches to sample set-up time (the
# measured JVM is one of them); in batch workloads each also runs a
# cold pass.
WORKLOADS = {
    "etl_batch": {"sf": 0.02, "setups": 2},
    "stream_panes": {"sf": 0.01, "setups": 2},
}
# Stream schedule: one events file (an hour of event time, 2% of its rows
# held back to the next tick) and one documents file per tick. At 0.5
# ticks/s the engine cannot keep up (its slowest query needs ~4 s per
# micro-batch on 4 cores), so the generator paces on the drain: the
# calendar-pane query is then always busy, the join about half the time
# and the dedup about a third.
STREAM = {"warm_ticks": 2, "rate_per_s": 0.5, "backlog_ticks": 8,
          "events_per_tick": 1500, "docs_per_tick": 30, "slice_s": 3600,
          "late_share": 0.02}

END_TO_END = {"setup_s": "s", "cold_s": "s", "pass_s": "s", "latency_p50_s": "s",
              "latency_p90_s": "s", "ops_per_s": "1/s", "peak_rss_mb": "MB"}
JVM_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
# A run must end within 180 s of its start (not counting a build): every
# JVM is killed at this deadline, leaving time to report the failure.
RUN_DEADLINE_S = 165


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources_digest():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(p[len(ROOT):].encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compiles engine + harness once per source state; returns the classpath."""
    target = os.path.join(HERE, "target")
    stamp, cp_file = os.path.join(target, "bench-stamp"), os.path.join(target, "classpath.txt")
    digest = sources_digest()
    if os.path.exists(stamp) and os.path.exists(cp_file) and open(stamp).read() == digest:
        return open(cp_file).read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.forcestart=false", "-Dsbt.log.noformat=true"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    os.makedirs(target, exist_ok=True)
    log = os.path.join(target, "build.log")
    with open(log, "w") as out:
        r = subprocess.run(["sbt", "--batch"] + opts + ["writeClasspath"], cwd=HERE, env=env,
                           stdout=out, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                           timeout=840)
    if r.returncode != 0 or not os.path.exists(cp_file):
        sys.stderr.write(open(log).read()[-4000:])
        die("build failed")
    with open(stamp, "w") as f:
        f.write(digest)
    return open(cp_file).read().strip()


def run_jvm(cp, run_dir, tag, args, deadline):
    result = os.path.join(run_dir, f"{tag}.json")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dderby.system.home=" + tmp]
           + [x for p in JVM_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main"])
    for k, v in args.items():
        cmd += [f"--{k}", str(v)]
    cmd += ["--result", result, "--launched-at", str(int(time.time() * 1000))]
    with open(os.path.join(run_dir, f"{tag}.log"), "w") as log:
        p = subprocess.Popen(cmd, cwd=run_dir, stdout=log, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
        try:
            p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
    if not os.path.exists(result):
        sys.stderr.write(open(os.path.join(run_dir, f"{tag}.log")).read()[-4000:])
        die(f"{tag} JVM produced no result (exit {p.returncode})", 3)
    with open(result) as f:
        return json.load(f)


def canon(v):
    if isinstance(v, float):
        return "nan" if math.isnan(v) else f"{v:.10g}"
    if hasattr(v, "tolist"):
        v = v.tolist()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return str(v)


def frame_rows(df):
    """Rows of a frame as sorted tuples of canonical strings, columns by name."""
    cols = sorted(df.columns)
    rows = [tuple(canon(v) for v in row) for row in df[cols].itertuples(index=False)]
    return cols, sorted(rows)


def check_outputs(checks, inputs_dir):
    """Compares each output with its DuckDB oracle; returns mismatch messages.

    A check names the output directory (`path`), the oracle SQL, and
    optionally the query that selects the output's checked part (`got`,
    over view `out`) and its own input views (`views`: name -> parquet
    glob) in place of the generated tables."""
    import duckdb
    bad = []
    for c in checks:
        try:
            con = duckdb.connect()
            views = c.get("views") or {f[:-8]: f"{inputs_dir}/{f}" for f in os.listdir(inputs_dir)
                                       if f.endswith(".parquet")}
            for name, glob in views.items():
                con.sql(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{glob}')")
            con.sql(f"CREATE VIEW out AS SELECT * FROM read_parquet('{c['path']}/**/*.parquet')")
            got = con.sql(c.get("got") or "SELECT * FROM out").df()
            if c.get("oracle") is None:
                if len(got) == 0:
                    bad.append(f"{c['name']}: empty output")
                continue
            exp = con.sql(c["oracle"]).df()
            gc, gr = frame_rows(got)
            ec, er = frame_rows(exp)
            if gc != ec:
                bad.append(f"{c['name']}: columns {gc} vs {ec}")
            elif gr != er:
                diff = next((i for i in range(min(len(gr), len(er))) if gr[i] != er[i]), None)
                bad.append(f"{c['name']}: {len(gr)} vs {len(er)} rows, first diff at {diff}: "
                           f"{gr[diff] if diff is not None else ''} vs {er[diff] if diff is not None else ''}")
        except Exception as e:  # an unreadable output is a mismatch too
            bad.append(f"{c['name']}: {str(e)[:300]}")
    return bad


def quantile(xs, q):
    xs = sorted(xs)
    if not xs:
        return float("nan")
    k = (len(xs) - 1) * q
    lo = math.floor(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def median(xs):
    return quantile(xs, 0.5)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--keep", action="store_true",
                    help="keep the run directory (its main.json holds the traced spans)")
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die("graft sources not found next to perfbench/; run from a graft checkout")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        die("sbt and java are required")
    import gen

    cfg = WORKLOADS[a.workload]
    cp = build()
    deadline = time.time() + RUN_DEADLINE_S
    run_dir = os.path.join(ROOT, ".bench_run", f"{a.workload}-s{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        inputs = os.path.join(run_dir, "inputs")
        info = gen.tables(a.seed, cfg["sf"], inputs)
        jargs = {"workload": a.workload, "seconds": a.seconds, "trace": a.trace,
                 "inputs": inputs, "configs": os.path.join(HERE, "configs")}
        if a.workload == "stream_panes":
            n = STREAM["warm_ticks"] + int(STREAM["rate_per_s"] * a.seconds) + 2 + STREAM["backlog_ticks"]
            ticks = gen.stream_ticks(a.seed, n, STREAM["events_per_tick"], STREAM["docs_per_tick"],
                                     STREAM["slice_s"], STREAM["late_share"],
                                     os.path.join(run_dir, "pending"))
            with open(os.path.join(run_dir, "pending", "rows.txt"), "w") as f:
                f.write("".join(f"{t['events_rows'] + t['docs_rows']}\n" for t in ticks))
            info["stream"] = {"ticks": n, "rows": sum(t["events_rows"] + t["docs_rows"] for t in ticks),
                              "bytes": sum(t["events_bytes"] + t["docs_bytes"] for t in ticks)}
            jargs.update({"pending": os.path.join(run_dir, "pending"),
                          "rate": STREAM["rate_per_s"], "warm-ticks": STREAM["warm_ticks"],
                          "backlog-ticks": STREAM["backlog_ticks"]})
        setups = []
        for i in range(cfg["setups"] - 1):
            r = run_jvm(cp, run_dir, f"setup{i}",
                        dict(jargs, mode="setup", scratch=os.path.join(run_dir, f"s{i}")), deadline)
            setups.append(r)
        res = run_jvm(cp, run_dir, "main",
                      dict(jargs, mode="main", scratch=os.path.join(run_dir, "m")), deadline)
        setups.append(res)
        failures = list(res.get("failures", []))
        if "fatal" in res:
            failures.append("fatal: " + res["fatal"])
        failures += check_outputs(res.get("checks", []), inputs)
        attempted = max(1, int(res.get("attempted", 0)))
        failed = min(attempted, len(failures))
        correct = not failures
        m = {}
        if a.trace == 0:
            passes = res.get("passes") or [float("nan")]
            lat = res.get("op_latencies") or [float("nan")]
            m["setup_s"] = median([s["setup_s"] for s in setups])
            m["cold_s"] = res.get("cold_s", float("nan"))
            m["pass_s"] = median(passes)
            m["latency_p50_s"] = quantile(lat, 0.5)
            m["latency_p90_s"] = quantile(lat, 0.9)
            m["ops_per_s"] = res.get("ops_per_s", float("nan"))
            m["peak_rss_mb"] = res["peak_rss_mb"]
            metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in m.items()}
        else:
            layers = dict(res.get("layers", {}))
            if "overhead_frac" in res:
                layers["trace.overhead_frac"] = res["overhead_frac"]
            else:
                layers["trace.overhead_frac"] = median(res.get("traced_passes") or [float("nan")]) / \
                    median(res.get("passes") or [float("nan")]) - 1.0
            layers["setup.session_s"] = median([s["session_s"] for s in setups])
            layers["error_rate"] = failed / attempted
            metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in layers.items()}
        detail = {"workload": a.workload, "seed": a.seed, "cpus": res.get("cpus"),
                  "inputs": info, "samples": {"setups": len(setups),
                                              "passes": len(res.get("passes", [])),
                                              "latencies": len(res.get("op_latencies", []))},
                  "failures": failures[:20]}
        for k in ("stream", "traced_wall_s"):
            if k in res:
                detail[k] = res[k]
        print(json.dumps(detail))
        print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                          "metrics": metrics}))
        sys.stdout.flush()
        if not correct:
            sys.exit(1)
    finally:
        if not a.keep:
            shutil.rmtree(run_dir, ignore_errors=True)
            try:
                os.rmdir(os.path.dirname(run_dir))
            except OSError:
                pass


def unit_of(name):
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_frac") or name == "error_rate":
        return "ratio"
    return "count"


if __name__ == "__main__":
    main()
