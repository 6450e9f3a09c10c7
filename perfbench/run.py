#!/usr/bin/env python3
"""graft's benchmark: one closed-loop client drives graft on local[4].

Usage (from the root of a checkout):
  python3 perfbench/run.py --workload explore|star --seed N
                           --seconds S --trace 0|1 [--smoke] [--inject-wrong REQUEST]

Builds graft and the benchmark from source on first use (perfbench/build.sh),
generates the workload's inputs from the seed, runs the JVM side
(perfbench/src/graftbench/Main.scala), checks every answer against DuckDB
and prints one JSON result as the last line of standard output: the
end-to-end metrics with --trace 0, the per-layer metrics with --trace 1.
A readable report, with every metric's unit and sample count, goes to
standard error. Metric and workload names are described in
perfbench/README.md.

--smoke runs on tiny inputs; --inject-wrong corrupts one request's
reference answer, which must then show up as a failure (test_smoke.py).
"""
import argparse
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402
import layers  # noqa: E402

CORES = 4
DEADLINE_S = 170  # the whole run, build excluded
BUILD_DIR = os.path.join(ROOT, ".bench_build")
# input sizes; a scale is a multiple of sf0.1 (600k lineitem rows)
EXPLORE_ROWS = 1_000_000
STAR_SCALE = 0.1
SMOKE_ROWS = 50_000
SMOKE_SCALE = 0.02
# request_s.p50 is printed on standard error only: across seeds it spread
# more than any bound allows (see README.md)
END_TO_END = [("setup_s", "s"), ("batch_s", "s"), ("heap_live_mb", "MB")]


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            sys.exit("run.py: set SPARK_HOME")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    return os.path.join(home, "jars")


def build():
    out = os.path.join(BUILD_DIR, "scala")
    r = subprocess.run(["bash", os.path.join(HERE, "build.sh"), out],
                       stdout=sys.stderr)
    if r.returncode != 0:
        sys.exit(f"run.py: build failed ({r.returncode})")
    return os.path.join(out, "classes")


def make_inputs(workload, seed, data, smoke):
    """Writes the workload's seeded inputs; returns bytes written."""
    if workload == "explore":
        return gen.write_explore(seed, f"{data}/explore", SMOKE_ROWS if smoke else EXPLORE_ROWS)
    return gen.write_star(seed, f"{data}/sf", SMOKE_SCALE if smoke else STAR_SCALE,
                          f"{data}/x10")


def run_jvm(classes, args, work, timeout):
    jars = spark_jars()
    opens = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
        "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
        "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", *opens, "-XX:-UsePerfData", "-Xms2g", "-Xmx2g", f"-Djava.io.tmpdir={tmp}",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
           "-cp", f"{classes}:{jars}/*", "graftbench.Main", *args]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    proc = subprocess.Popen(cmd, stdout=sys.stderr, env=env, start_new_session=True)

    def stop(*_):
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        sys.exit("run.py: stopped")
    signal.signal(signal.SIGTERM, stop)
    try:
        code = proc.wait(timeout=max(1.0, timeout))
    except subprocess.TimeoutExpired:
        stop()
    if code != 0:
        sys.exit(f"run.py: JVM side failed ({code})")


def pooled_latencies(samples, failed):
    """Per request: its latencies, a failed sample counting as +inf."""
    by = {}
    for s in samples:
        bad = s["error"] is not None or s["request"] in failed
        by.setdefault(s["request"], []).append(math.inf if bad else s["seconds"])
    return by


def batch_s(by):
    """One steady-state pass: the sum of each request's median latency;
    None when some request never succeeded."""
    meds = [statistics.median(v) for v in by.values()]
    return None if any(math.isinf(m) for m in meds) else sum(meds)


def end_to_end(rec, samples, failed):
    by = pooled_latencies(samples, failed)
    pool = sorted(x for v in by.values() for x in v)
    out = {"setup_s": rec["setup_s"], "request_s.p50": statistics.median(pool),
           "heap_live_mb": rec["heap_live_mb"]}
    b = batch_s(by)
    if b is not None:
        out["batch_s"] = b
    # p90 needs at least 10 samples beyond it: reported only in the log
    p90 = statistics.quantiles(pool, n=10)[-1] if len(pool) >= 100 else None
    return out, p90, len(pool)


def per_layer(rec, spans, workload, input_bytes, input_s, failed):
    untraced = [s for s in rec["samples"] if not s["traced"]]
    traced = [s for s in rec["samples"] if s["traced"]]
    names = {f"r{s['id']}": s["request"] for s in traced}
    tot, means = layers.per_pass(spans, names)
    b_un = batch_s(pooled_latencies(untraced, failed))
    b_tr = batch_s(pooled_latencies(traced, failed))
    plan = tot["plan.analysis_s"] + tot["plan.optimization_s"] + tot["plan.planning_s"]
    lanes = workload == "star"
    m = {
        "session.start_s": rec["session_start_s"],
        "input.prep_s": input_s,
        "input.bytes": input_bytes,
        "facade.build_s": tot["build_s"] if workload == "explore" else 0.0,
        "facade.driver_s": (tot["action_s"] - tot["action.job_wall_s"])
        if workload == "explore" else 0.0,
        "queries.build_s": tot["build_s"] if lanes else 0.0,
        "queries.eager_jobs": tot["build.jobs"] if lanes else 0.0,
        "plan.analysis_s": tot["plan.analysis_s"],
        "plan.optimization_s": tot["plan.optimization_s"],
        "plan.planning_s": tot["plan.planning_s"],
        "plan.share": plan / tot["latency_s"] if tot["latency_s"] else 0.0,
    }
    for k in ["jobs", "stages", "tasks", "wall_s", *layers.STAGE_COUNTS]:
        m["exec." + k] = tot["exec." + k]
    m["exec.slot_util"] = (tot["exec.run_s"] / (tot["exec.wall_s"] * rec["cores"])
                           if tot["exec.wall_s"] else 0.0)
    rows = SMOKE_ROWS if rec["smoke"] else EXPLORE_ROWS
    for metric, req in [("operators.groupby_cat.rows_per_s", "groupby_cat"),
                        ("operators.binby_dense.rows_per_s", "binby_2d"),
                        ("operators.join_dense.rows_per_s", "join_dense"),
                        ("spark.groupby_hash.rows_per_s", "groupby_hash"),
                        ("spark.join_broadcast.rows_per_s", "join_hash")]:
        lat = [s["seconds"] for s in untraced if s["request"] == req and not s["error"]]
        m[metric] = rows / statistics.median(lat) if lat and workload == "explore" else 0.0
    exported = [s for s in untraced if s["counts"].get("rows")]
    m["sources.write_s"] = tot["write_s"]
    m["sources.open_s"] = tot["open_s"]
    m["sources.read_s"] = tot["read_s"]
    m["sources.bytes_per_row"] = (sum(s["counts"]["bytes"] for s in exported)
                                  / sum(s["counts"]["rows"] for s in exported)) if exported else 0.0
    m["sources.files_written"] = statistics.mean(
        sum(s["counts"]["files"] for s in exported if s["pass"] == p)
        for p in {s["pass"] for s in exported}) if exported else 0.0
    for when in ("start", "end"):
        for k, v in rec["host"][when].items():
            m[f"host.{k}.{when}"] = v
    for k in ["client", "build", "action", "write", "open", "read", "plan", "job", "stage"]:
        m[f"self.{k}_s"] = tot[f"self.{k}_s"]
    m["trace.batch_s"] = b_tr if b_tr is not None else 0.0
    m["trace.overhead"] = b_tr / b_un - 1 if b_tr and b_un else 0.0
    return m, means


PER_LAYER = [
    ("session.start_s", "s"), ("input.prep_s", "s"), ("input.bytes", "B"),
    ("facade.build_s", "s"), ("facade.driver_s", "s"),
    ("queries.build_s", "s"), ("queries.eager_jobs", "count"),
    ("plan.analysis_s", "s"), ("plan.optimization_s", "s"), ("plan.planning_s", "s"),
    ("plan.share", "1"),
    ("exec.jobs", "count"), ("exec.stages", "count"), ("exec.tasks", "count"),
    ("exec.wall_s", "s"), ("exec.run_s", "s"), ("exec.cpu_s", "s"), ("exec.gc_s", "s"),
    ("exec.slot_util", "1"), ("exec.input_rows", "count"),
    ("exec.shuffle_write_mb", "MB"), ("exec.shuffle_read_mb", "MB"),
    ("exec.fetch_wait_s", "s"), ("exec.spill_mb", "MB"),
    ("operators.groupby_cat.rows_per_s", "rows/s"),
    ("operators.binby_dense.rows_per_s", "rows/s"),
    ("operators.join_dense.rows_per_s", "rows/s"),
    ("spark.groupby_hash.rows_per_s", "rows/s"),
    ("spark.join_broadcast.rows_per_s", "rows/s"),
    ("sources.write_s", "s"), ("sources.open_s", "s"), ("sources.read_s", "s"),
    ("sources.bytes_per_row", "B/row"), ("sources.files_written", "count"),
    ("host.gen_only_rows_per_s.start", "rows/s"), ("host.mem_bw_gbps.start", "GB/s"),
    ("host.gen_only_rows_per_s.end", "rows/s"), ("host.mem_bw_gbps.end", "GB/s"),
    ("self.client_s", "s"), ("self.build_s", "s"), ("self.action_s", "s"),
    ("self.write_s", "s"), ("self.open_s", "s"), ("self.read_s", "s"),
    ("self.plan_s", "s"), ("self.job_s", "s"), ("self.stage_s", "s"),
    ("trace.batch_s", "s"), ("trace.overhead", "1")]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["explore", "star"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--inject-wrong")
    a = ap.parse_args()

    classes = build()
    t0 = time.time()
    work = os.path.join(BUILD_DIR, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    data, out = os.path.join(work, "data"), os.path.join(work, "out")
    input_bytes = make_inputs(a.workload, a.seed, data, a.smoke)
    input_s = time.time() - t0
    run_jvm(classes, ["--workload", a.workload, "--seed", str(a.seed),
                      "--seconds", str(a.seconds), "--trace", str(a.trace),
                      "--data", data, "--out", out, "--cores", str(CORES),
                      "--t0-ms", str(int(t0 * 1000))],
            work, DEADLINE_S - (time.time() - t0))
    with open(os.path.join(out, "record.json")) as f:
        rec = json.load(f)
    rec["smoke"] = a.smoke

    c0 = time.time()
    verdicts = check.run_checks(rec["checks"], a.inject_wrong)
    check_s = time.time() - c0
    failed = {n for n, why in verdicts.items() if why}
    for n in sorted(failed):
        print(f"[check] FAIL {n}: {verdicts[n]}", file=sys.stderr)
    samples = rec["samples"]
    n_failed = (sum(1 for s in samples if s["error"] is not None or s["request"] in failed)
                + len(failed))
    attempted = len(samples) + len(verdicts)
    for s in samples:
        if s["error"]:
            print(f"[run] {s['request']} raised: {s['error']}", file=sys.stderr)

    untraced = [s for s in samples if not s["traced"]]
    e2e, p90, n_pool = end_to_end(rec, untraced, failed)
    print(f"[{a.workload}] seed {a.seed}: {rec['passes']} passes, "
          f"{len(verdicts)} requests checked, fail_ratio {n_failed / attempted:.4f} (1)",
          file=sys.stderr)
    for name, u in [*END_TO_END, ("request_s.p50", "s")]:
        v = e2e.get(name)
        print(f"  {name} = {'unreported' if v is None else f'{v:.4f}'} {u}"
              + (f"  (n={n_pool})" if name == "request_s.p50" else ""), file=sys.stderr)
    for name, lat in sorted(pooled_latencies(untraced, failed).items()):
        print(f"    {name:32s} median {statistics.median(lat):8.4f} s  n={len(lat)}",
              file=sys.stderr)
    print(f"  set-up: inputs {input_s:.2f} s, session {rec['session_start_s']:.2f} s, "
          f"check pass {rec['check_pass_s']:.2f} s; DuckDB checks {check_s:.2f} s",
          file=sys.stderr)
    print("  request_s.p90 = " + (f"{p90:.4f} s" if p90 is not None
                                  else f"unreported (n={n_pool} < 100)"), file=sys.stderr)
    print("  live heap after each timed pass: "
          + ", ".join(f"{v:.1f}" for v in rec["heap_after_pass_mb"]) + " MB", file=sys.stderr)
    print("  host: " + json.dumps(rec["host"]), file=sys.stderr)
    print("  confs: " + json.dumps(rec["confs"], sort_keys=True), file=sys.stderr)

    if a.trace:
        with open(os.path.join(out, "spans.json")) as f:
            spans = json.load(f)
        metrics, means = per_layer(rec, spans, a.workload, input_bytes, input_s, failed)
        with open(os.path.join(out, "layers.json"), "w") as f:
            json.dump({"per_pass": metrics, "per_request": means}, f, indent=1, sort_keys=True)
        for k, u in PER_LAYER:
            print(f"  {k} = {metrics[k]:.6g} {u}", file=sys.stderr)
        print(f"  spans: {len(spans)} in {os.path.join(out, 'spans.json')}", file=sys.stderr)
    else:
        metrics = {k: e2e[k] for k, _ in END_TO_END if k in e2e}
    result = {"correct": not failed and n_failed == 0, "attempted": attempted,
              "failed": n_failed,
              "metrics": {k: {"value": metrics[k], "unit": u}
                          for k, u in (PER_LAYER if a.trace else END_TO_END) if k in metrics}}
    print(json.dumps(result))


if __name__ == "__main__":
    main()
