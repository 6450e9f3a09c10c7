"""Per-layer numbers of a traced run, derived from its span file.

The span tree is request -> client span (build, action, write, open,
read) -> plan phase / Spark job -> stage. Jobs and stages name their
parent; plan phases are attributed to the innermost span whose interval
holds them. A span's self time is its duration minus the part of its
interval its children cover. Values are per pass: each request's mean
over its traced samples, summed over the workload's requests.
"""
from collections import defaultdict
from statistics import mean

STAGE_COUNTS = ["run_s", "cpu_s", "gc_s", "input_rows", "shuffle_write_mb",
                "shuffle_read_mb", "fetch_wait_s", "spill_mb"]


def _covered(lo, hi, intervals):
    """Length of [lo, hi) covered by the union of `intervals`."""
    total, cur = 0, lo
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e > cur:
            total += e - max(s, cur)
            cur = e
    return total


def _dur(s):
    return (s["end"] - s["start"]) / 1e9


def _union(iv, lo, hi):
    return _covered(lo, hi, iv) / 1e9


def _sample_layers(r, kids, by_parent):
    """Layer values of one traced request sample. Self times split the
    request's wall exclusively: stage time is the union of its stages,
    job time the rest of the union of jobs, plan time the rest of the union
    of plan phases and jobs, and a client span keeps what none of them
    covers; `self.client_s` is the request time outside every client span."""
    m = defaultdict(float)
    lo, hi = r["start"], r["end"]
    m["latency_s"] = _dur(r)
    m["self.client_s"] = _dur(r) - _union([(k["start"], k["end"]) for k in kids], lo, hi)
    job_iv = []
    for c in kids:
        grand = by_parent[c["id"]] if not c["layer"].startswith("plan.") else []
        plans = [c] if c["layer"].startswith("plan.") else \
            [g for g in grand if g["layer"].startswith("plan.")]
        jobs = [g for g in grand if g["layer"] == "job"]
        stages = [st for j in jobs for st in by_parent[j["id"]]]
        iv = lambda spans: [(s["start"], s["end"]) for s in spans]
        u_stage = _union(iv(stages), c["start"], c["end"])
        u_job = _union(iv(jobs) + iv(stages), c["start"], c["end"])
        u_all = _union(iv(jobs) + iv(stages) + iv(plans), c["start"], c["end"])
        m["self.stage_s"] += u_stage
        m["self.job_s"] += u_job - u_stage
        m["self.plan_s"] += u_all - u_job
        for p in plans:
            m[p["layer"] + "_s"] += _dur(p)
        if c["layer"].startswith("plan."):  # a phase outside every client span
            continue
        m[c["layer"] + "_s"] += _dur(c)
        m["self." + c["layer"] + "_s"] += _dur(c) - u_all
        m[c["layer"] + ".job_wall_s"] += u_job
        m[c["layer"] + ".jobs"] += len(jobs)
        job_iv += iv(jobs)
        m["exec.jobs"] += len(jobs)
        m["exec.stages"] += len(stages)
        for st in stages:
            m["exec.tasks"] += st["counts"].get("tasks", 0)
            for k in STAGE_COUNTS:
                m["exec." + k] += st["counts"].get(k, 0)
    m["exec.wall_s"] = _union(job_iv, lo, hi)
    return m


def per_pass(spans, names):
    """`names` maps a request span id to its request name. Returns
    (per-pass totals, {request name: mean layer values})."""
    by_parent = defaultdict(list)
    plans, requests = [], {}
    for s in spans:
        if s["layer"] == "request":
            requests[s["id"]] = s
        elif s["layer"].startswith("plan."):
            plans.append(s)
        else:
            by_parent[s["parent"]].append(s)
    clients = [c for r in requests for c in by_parent[r]]
    for p in plans:
        mid = (p["start"] + p["end"]) // 2
        home = next((c for c in clients if c["start"] <= mid <= c["end"]), None) \
            or next((r for r in requests.values() if r["start"] <= mid <= r["end"]), None)
        if home is not None:
            by_parent[home["id"]].append(p)

    samples = defaultdict(list)
    for rid, r in requests.items():
        samples[names[rid]].append(_sample_layers(r, by_parent[rid], by_parent))
    means = {name: {k: mean(m.get(k, 0.0) for m in ms) for k in set().union(*ms)}
             for name, ms in samples.items()}
    totals = defaultdict(float)
    for m in means.values():
        for k, v in m.items():
            totals[k] += v
    return totals, means
