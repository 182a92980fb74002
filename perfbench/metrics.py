"""Pure metric logic of the benchmark: summaries, interval arithmetic,
span self time, skew, and the end-to-end and per-layer metrics computed
from one harness run's raw record (see src/perfbench/Harness.scala).

All times in the raw record are epoch milliseconds; metrics are seconds.
"""
import statistics

# largest relative gap a traced query may have between its wall and its
# build self time + action self time + job union
IDENTITY_LIMIT = 0.10

PERCENTILE_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0)


def reportable_percentile(n):
    """Highest percentile of the ladder that has at least ten of ``n``
    samples beyond it, or None when only the median can be reported."""
    for p in PERCENTILE_LADDER:
        if round(n * (100.0 - p) / 100.0, 9) >= 10:
            return p
    return None


def summarize(samples):
    """Median, sample count, and the highest reportable percentile."""
    xs = sorted(samples)
    n = len(xs)
    out = {"median": statistics.median(xs), "n": n}
    p = reportable_percentile(n)
    if p is not None:
        cuts = statistics.quantiles(xs, n=1000, method="inclusive")
        out[f"p{p:g}"] = cuts[int(p * 10) - 1]
    return out


def union_intervals(intervals):
    """Merged, sorted, non-overlapping intervals."""
    merged = []
    for s, e in sorted((s, e) for s, e in intervals if e > s):
        if merged and s <= merged[-1][1]:
            merged[-1][1] = max(merged[-1][1], e)
        else:
            merged.append([s, e])
    return [(s, e) for s, e in merged]


def union_length(intervals):
    return sum(e - s for s, e in union_intervals(intervals))


def clip(intervals, lo, hi):
    return [(max(s, lo), min(e, hi)) for s, e in intervals
            if min(e, hi) > max(s, lo)]


def self_time(span, children):
    """Span duration minus the part of it its children cover."""
    s, e = span
    return (e - s) - union_length(clip(children, s, e))


def stage_skew(task_times):
    """max / median task run time of one stage; 1.0 when undefined."""
    if len(task_times) < 2:
        return 1.0
    med = statistics.median(task_times)
    return max(task_times) / med if med > 0 else 1.0


def split_passes(passes):
    """(cold pass, warm passes): the first pass in the fresh session is
    cold; the warm-up passes after it are neither; the rest are warm."""
    ordered = sorted(passes, key=lambda p: p["pass"])
    cold = [p for p in ordered if p["kind"] == "cold"]
    if len(cold) != 1 or ordered[0] is not cold[0]:
        raise ValueError("a run has exactly one cold pass, and it comes first")
    warm = [p for p in ordered if p["kind"] == "warm"]
    if not warm:
        raise ValueError("a run has at least one warm pass")
    return cold[0], warm


def in_window(t, lo, hi):
    return lo <= t <= hi


# --------------------------------------------------------------- end to end

def end_to_end(raw, input_rows, setups, min_warm):
    """``setups`` are the cold session builds of the run's JVMs.

    The live heap is read after every query. heap_live_peak_mb is the
    largest, over queries, of a query's median reading in the first
    ``min_warm`` warm passes: Spark's status store grows a little with
    every pass, so the peak must not depend on how many passes fit, and
    one late ContextCleaner must not set it."""
    cold, warm = split_passes(raw["passes"])
    walls = [p["wall_s"] for p in warm if not p["traced"]]
    batch = summarize(walls)
    counted = {p["pass"] for p in warm[:min_warm]}
    live = {}
    for q in raw["queries"]:
        if q["pass"] in counted:
            live.setdefault(q["query"], []).append(q["live_old_mb"])
    return {
        "batch_s": batch["median"],
        "cold_batch_s": cold["wall_s"],
        "setup_s": statistics.median(setups),
        "rows_per_s": input_rows / batch["median"],
        "heap_live_peak_mb": max(statistics.median(v)
                                 for v in live.values()),
    }, batch


# ---------------------------------------------------------------- per layer

def _queries_of(raw, pass_idx):
    return [q for q in raw["queries"] if q["pass"] == pass_idx]


def query_tag(pass_idx, query):
    """The ``perfbench.query`` local property of a query's jobs."""
    return f"{pass_idx}/{query}"


def query_breakdown(q, jobs):
    """Wall, build/action self time, job union and driver gap of one query
    record; ``jobs`` are the (start, end) intervals of the jobs tagged
    with the query, on the listener's clock.

    The identity error compares two clocks: the harness's spans and the
    listener's job intervals. Self times count only the part of a job
    inside the span, the job union counts all of it, so a job that
    reaches outside its query makes the sum exceed the wall."""
    t0, tb, ta = q["start_ms"], q["build_end_ms"], q["end_ms"]
    wall = ta - t0
    union = union_length(jobs)
    build_self = self_time((t0, tb), jobs)
    action_self = self_time((tb, ta), jobs)
    return {
        "wall_ms": wall, "jobs": len(jobs), "job_union_ms": union,
        "build_self_ms": build_self, "action_self_ms": action_self,
        "driver_gap_ms": wall - union_length(clip(jobs, t0, ta)),
        "identity_err": (abs(build_self + action_self + union - wall) / wall
                         if wall > 0 else 0.0),
    }


def identity_failures(per_query, unattributed, limit=IDENTITY_LIMIT):
    """Reasons a traced run's accounting does not hold: a query whose
    identity error exceeds ``limit``, or jobs in a traced pass that no
    query of the pass tagged."""
    out = [f"{q}: identity error {b['identity_err']:.3f} > {limit}"
           for q, b in sorted(per_query.items())
           if b["identity_err"] > limit]
    if unattributed:
        out.append(f"{unattributed} jobs in traced passes carry no query tag "
                   "of their pass")
    return out


def pass_layers(raw, p, cores, input_rows, input_bytes):
    """Per-layer totals of one traced pass."""
    lo, hi = p["start_ms"], p["end_ms"]
    qs = _queries_of(raw, p["pass"])
    jobs = [j for j in raw["jobs"] if in_window(j["start_ms"], lo, hi)]
    stages = [s for s in raw["stages"] if in_window(s["submit_ms"], lo, hi)]
    plans = [pl for pl in raw["plans"] if pl["phases"] and in_window(
        min(ph["start_ms"] for ph in pl["phases"].values()), lo, hi)]
    tags = {query_tag(p["pass"], q["query"]) for q in qs}
    per_q = {}
    for q in qs:
        tag = query_tag(p["pass"], q["query"])
        qj = [(j["start_ms"], j["end_ms"]) for j in raw["jobs"]
              if j["query"] == tag]
        per_q[q["query"]] = query_breakdown(q, qj)

    def phase_s(name):
        return sum(ph[name]["end_ms"] - ph[name]["start_ms"]
                   for ph in (pl["phases"] for pl in plans)
                   if name in ph) / 1e3

    def ssum(key):
        return sum(s[key] for s in stages)

    run_s = ssum("run_ms") / 1e3
    rows_read = ssum("input_rows")
    bytes_written = sum(pl["write_bytes"] for pl in plans)
    return {
        "SparkEntry.build_s": sum(q["build_end_ms"] - q["start_ms"]
                                  for q in qs) / 1e3,
        "SparkEntry.action_s": sum(q["end_ms"] - q["build_end_ms"]
                                   for q in qs) / 1e3,
        "catalyst.analysis_s": phase_s("analysis"),
        "catalyst.optimization_s": phase_s("optimization"),
        "catalyst.planning_s": phase_s("planning"),
        "catalyst.plans": len(plans),
        "codegen.compiles": sum(q["codegen_compiles"] for q in qs),
        "codegen.compile_s": sum(q["codegen_ns"] for q in qs) / 1e9,
        "scheduler.jobs": len(jobs),
        "scheduler.stages": len(stages),
        "scheduler.tasks": ssum("tasks"),
        "scheduler.tasks_failed": ssum("tasks_failed"),
        "scheduler.driver_gap_s": sum(b["driver_gap_ms"]
                                      for b in per_q.values()) / 1e3,
        "executor.run_s": run_s,
        "executor.cpu_s": ssum("cpu_ns") / 1e9,
        "executor.gc_s": ssum("gc_ms") / 1e3,
        "executor.spill_bytes": ssum("spill_bytes"),
        "executor.peak_exec_mem_mb": max(
            [s["peak_exec_mem"] for s in stages], default=0) / 1048576.0,
        "executor.skew": max([stage_skew(s["task_run_ms"]) for s in stages],
                             default=1.0),
        "executor.busy_frac": run_s / (p["wall_s"] * cores),
        "shuffle.write_bytes": ssum("shuffle_write_bytes"),
        "shuffle.read_bytes": ssum("shuffle_read_bytes"),
        "shuffle.records_written": ssum("shuffle_records_written"),
        "shuffle.fetch_wait_s": ssum("fetch_wait_ms") / 1e3,
        "Tables.bytes_read": ssum("input_bytes"),
        "Tables.rows_read": rows_read,
        "Tables.rows_read_per_input_row": rows_read / input_rows,
        "Sinks.bytes_written": bytes_written,
        "Sinks.files_written": sum(pl["write_files"] for pl in plans),
        "Sinks.bytes_written_per_input_byte": bytes_written / input_bytes,
        "CacheScope.cached_bytes_peak": max(q["cached_peak_bytes"]
                                            for q in qs),
        "trace.unattributed_jobs": sum(j["query"] not in tags for j in jobs),
    }, per_q


def per_layer(raw, input_rows, input_bytes):
    """Per-layer metrics of a traced run: the median over its traced warm
    passes, codegen of the cold pass, and the trace overhead measured
    against the run's interleaved untraced warm passes. Also returns the
    per-query breakdown (median over the traced warm passes) and the
    identity failures of every traced pass."""
    cores = raw["cores"]
    cold, warm = split_passes(raw["passes"])
    traced = [p for p in warm if p["traced"]]
    untraced = [p for p in warm if not p["traced"]]
    layers = [pass_layers(raw, p, cores, input_rows, input_bytes)
              for p in traced]
    out = {k: statistics.median(l[0][k] for l in layers) for k in layers[0][0]}
    cold_qs = _queries_of(raw, cold["pass"])
    out["codegen.cold_compiles"] = sum(q["codegen_compiles"] for q in cold_qs)
    out["codegen.cold_compile_s"] = sum(q["codegen_ns"] for q in cold_qs) / 1e9
    t = statistics.median(p["wall_s"] for p in traced)
    u = statistics.median(p["wall_s"] for p in untraced)
    out["trace.cold_batch_s"] = cold["wall_s"]
    out["trace.batch_s"] = t
    out["trace.untraced_batch_s"] = u
    out["trace.overhead_frac"] = t / u - 1.0
    out["trace.identity_err_max"] = max(
        b["identity_err"] for l in layers for b in l[1].values())
    # the accounting must also hold in the traced cold pass
    checked = list(zip(traced, layers))
    if cold["traced"]:
        checked.append((cold, pass_layers(raw, cold, cores, input_rows,
                                          input_bytes)))
    unattributed = sum(l[0]["trace.unattributed_jobs"] for _, l in checked)
    failures = [f"pass {p['pass']} {msg}" for p, (_, pq_) in checked
                for msg in identity_failures(pq_, 0)]
    failures += identity_failures({}, unattributed)
    per_query = {}
    for _, pq_ in layers:
        for name, b in pq_.items():
            per_query.setdefault(name, []).append(b)
    query_table = {
        name: {k: statistics.median(b[k] for b in bs) for k in bs[0]}
        for name, bs in per_query.items()}
    return out, query_table, failures


# ------------------------------------------------------------------- spans

def spans(raw, run_name):
    """Span tree workload -> pass -> query -> {build, action} -> job ->
    stage, each with its self time (duration minus child coverage)."""
    out = []

    def add(name, start, end, parent, **attrs):
        sid = len(out)
        out.append(dict(id=sid, parent=parent, name=name, start_ms=start,
                        end_ms=end, **attrs))
        return sid

    passes = sorted(raw["passes"], key=lambda p: p["pass"])
    root = add(run_name, passes[0]["start_ms"], passes[-1]["end_ms"], None)
    stage_by_id = {}
    for s in raw["stages"]:
        stage_by_id.setdefault(s["id"], []).append(s)
    for p in passes:
        pid = add(f"pass{p['pass']}.{p['kind']}", p["start_ms"], p["end_ms"],
                  root, traced=p["traced"])
        for q in _queries_of(raw, p["pass"]):
            qid = add(q["query"], q["start_ms"], q["end_ms"], pid)
            parts = [(add("build", q["start_ms"], q["build_end_ms"], qid),
                      q["start_ms"], q["build_end_ms"]),
                     (add("action", q["build_end_ms"], q["end_ms"], qid),
                      q["build_end_ms"], q["end_ms"])]
            if not p["traced"]:
                continue
            tag = query_tag(p["pass"], q["query"])
            for j in raw["jobs"]:
                if j["query"] != tag:
                    continue
                parent = next((sid for sid, lo, hi in parts
                               if in_window(j["start_ms"], lo, hi)), qid)
                jid = add(f"job{j['id']}", j["start_ms"], j["end_ms"], parent)
                for sidx in j["stage_ids"]:
                    for s in stage_by_id.get(sidx, []):
                        if in_window(s["submit_ms"], j["start_ms"],
                                     j["end_ms"]):
                            add(f"stage{s['id']}.{s['attempt']}",
                                s["submit_ms"], s["end_ms"], jid)
    children = {}
    for s in out:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(
                (s["start_ms"], s["end_ms"]))
    for s in out:
        s["self_ms"] = self_time((s["start_ms"], s["end_ms"]),
                                 children.get(s["id"], []))
    return out
