"""Metrics of one benchmark run, computed from the JVM's result file.

A span is {id, parent, kind, name, start, end} in epoch microseconds; the
tree is workload -> pass -> step -> {construct, action} -> job. A span's
self time is its length minus the union of its children's intervals
(clipped to the span), so overlapping children are not counted twice.
"""
import statistics


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """{span id: self time}, in the spans' time unit."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        clipped = [(max(c["start"], s["start"]), min(c["end"], s["end"]))
                   for c in kids.get(s["id"], [])]
        covered = union_length([(a, b) for a, b in clipped if b > a])
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def quantile(values, q):
    """Linear-interpolated quantile, q in [0, 1]."""
    v = sorted(values)
    if not v:
        return 0.0
    pos = q * (len(v) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


def warm_passes(result, traced):
    """The measured warm passes: after the cold pass and the warm-up."""
    return [p for p in result["passes"]
            if p["pass"] > 0 and not p.get("warmup") and p["traced"] == traced]


# the 90th percentile is reported only from this many step samples up
P90_MIN_SAMPLES = 100


def step_medians(result, passes):
    """{step: its median wall time over `passes`}, from the steps that
    did not throw."""
    ids = {p["pass"] for p in passes}
    per_step = {}
    for r in result["runs"]:
        if r["pass"] in ids and r["ok"]:
            per_step.setdefault(r["step"], []).append(r["wall_s"])
    return {k: statistics.median(v) for k, v in per_step.items()}


def median_pass(result, passes):
    """The median pass time over `passes`: the sum of each step's median
    wall time. A burst of load from elsewhere on the host that slows one
    step of one pass leaves it unchanged, where it would move a median
    of whole-pass times taken over a few passes."""
    return sum(step_medians(result, passes).values())


def end_to_end(result, rows):
    """The end-to-end metrics of an untraced run (values only), and the
    number of step samples. `step_p50_s` is the median over steps of each
    step's median warm wall time, so it does not jump between two steps
    of different cost. `step_p90_s` pools all samples and is None below
    P90_MIN_SAMPLES."""
    warm = warm_passes(result, False)
    ids = {p["pass"] for p in warm}
    steps = [r["wall_s"] for r in result["runs"] if r["pass"] in ids and r["ok"]]
    per_step = step_medians(result, warm)
    pass_s = median_pass(result, warm)
    cold = [p["wall_s"] for p in result["passes"] if p["pass"] == 0][0]
    return {
        "setup_s": result["setup_s"],
        "cold_pass_s": cold,
        "pass_s": pass_s,
        "rows_per_s": rows / pass_s,
        "step_p50_s": statistics.median(per_step.values()),
        "step_p90_s": quantile(steps, 0.9) if len(steps) >= P90_MIN_SAMPLES else None,
        "peak_rss_mb": result["peak_rss_mb"],
    }, len(steps)


ETL_TASKS = ["extract", "transform", "roll_up", "merge_census", "write_to_volume"]

COUNTERS = [
    "driver.analysis_s", "driver.optimization_s", "driver.planning_s",
    "exec.jobs", "exec.stages", "exec.tasks",
    "task.run_s", "task.cpu_s", "task.gc_s", "task.deser_s",
    "scan.bytes", "scan.rows",
    "shuffle.write_bytes", "shuffle.read_bytes", "shuffle.fetch_wait_s",
    "spill.disk_bytes",
    "sources.write_s", "sources.output_bytes", "sources.files",
    "streaming.batches", "streaming.add_batch_s", "streaming.commit_s",
    "streaming.state_rows", "streaming.state_commit_s",
    "exec.task_failures", "exec.stage_retries",
]


def per_layer(result, cores):
    """The per-layer metrics of a traced run, per traced warm pass."""
    traced = warm_passes(result, True)
    ids = {p["pass"] for p in traced}
    n = len(traced)
    runs = [r for r in result["runs"] if r["pass"] in ids]
    spans = result["spans"]
    by_id = {s["id"]: s for s in spans}
    selfs = self_times(spans)
    pass_ids = {s["id"] for s in spans
                if s["kind"] == "pass" and int(s["name"][4:]) in ids}
    step_spans = [s for s in spans if s["kind"] == "step" and s["parent"] in pass_ids]
    step_ids = {s["id"] for s in step_spans}
    phase = {s["id"]: s for s in spans
             if s["kind"] in ("construct", "action") and s["parent"] in step_ids}
    jobs = [s for s in spans if s["kind"] == "job" and s["parent"] in phase]

    m = {k: 0.0 for k in COUNTERS}
    for r in runs:
        for k, v in r["counters"].items():
            if k in m:
                m[k] += v
    m = {k: v / n for k, v in m.items()}

    busy = sum(union_length([(j["start"], j["end"]) for j in jobs
                             if by_id[by_id[j["parent"]]["parent"]]["parent"] == pid])
               for pid in pass_ids) / 1e6 / n
    wall = median_pass(result, traced)
    m["queries.construct_s"] = sum(r["construct_s"] for r in runs) / n
    m["queries.construct_jobs"] = sum(
        1 for j in jobs if phase[j["parent"]]["kind"] == "construct") / n
    # the driver gap: a step's own time plus its action's time outside jobs
    m["driver.gap_s"] = sum(selfs[s["id"]] for s in step_spans) / 1e6 / n + \
        sum(selfs[p["id"]] for p in phase.values() if p["kind"] == "action") / 1e6 / n
    m["exec.busy_s"] = busy
    m["exec.busy_ratio"] = busy / wall if wall else 0.0
    m["task.cpu_ratio"] = m["task.cpu_s"] / m["task.run_s"] if m["task.run_s"] else 0.0
    m["exec.core_util"] = m["task.run_s"] / (busy * cores) if busy else 0.0
    m["storage.persisted_bytes"] = float(max([r["persisted_bytes"] for r in runs] or [0]))
    triggers = [t / 1e3 for r in runs for t in r["trigger_ms"]]
    m["streaming.trigger_p50_s"] = quantile(triggers, 0.5)
    for task in ETL_TASKS:
        mine = [r for r in runs if r["step"] == task]
        m[f"etl.{task}.wall_s"] = sum(r["wall_s"] for r in mine) / n
        m[f"etl.{task}.cpu_s"] = sum(r["driver_cpu_s"] + r["counters"].get("task.cpu_s", 0.0)
                                     for r in mine) / n
    untraced = warm_passes(result, False)
    m["trace.pass_s"] = wall
    m["trace.untraced_pass_s"] = median_pass(result, untraced)
    m["trace.overhead_s"] = m["trace.pass_s"] - m["trace.untraced_pass_s"]
    return m
