"""Turns one run's raw JVM record into the benchmark's metrics.

The JVM side (perfbench/jvm) records samples, checks, streaming progress
and, when tracing, spans; everything statistical happens here so that the
rules are in one place and unit-tested (test_metrics.py).
"""
import bisect
import statistics
from datetime import datetime

# The end-to-end metrics every workload reports (name -> unit). How each
# workload defines them is in NOTES.md.
END_TO_END = {
    "setup_s": "s",
    "latency_p50_ms": "ms",
    "latency_tail_ms": "ms",
    "work_s": "s",
    "rate_per_s": "1/s",
    "retained_mb": "MB",
}

# Percentile reported as pipeline_live's latency_tail_ms: the level
# tail_level gives for the live phase (100k events at 20 s). Batch
# runs have too few samples for a percentile tail (four passes over 8
# queries give 32, which support no level above the median), so there the
# tail is the slowest query's median latency.
PIPELINE_TAIL = 99

# Per-layer metrics of the traced run: name -> (unit, better, what it should
# move). Streaming, sink and serving metrics read 0 on the batch workloads,
# where those layers do not run.
Q = "work_s and latency_p50_ms on registry_sf0.01 and ladder_10x"
PER_LAYER = {
    "builder_s": ("s", "lower", "work_s, latency_tail_ms and setup_s on registry_sf0.01"),
    "builder_jobs": ("count", "lower", "work_s, latency_tail_ms and setup_s on registry_sf0.01"),
    "builder_slow_count": ("count", "lower", "latency_tail_ms and setup_s on registry_sf0.01"),
    "catalyst_analysis_s": ("s", "lower", "latency_p50_ms on registry_sf0.01; none on ladder_10x"),
    "catalyst_optimization_s": ("s", "lower", "latency_p50_ms on registry_sf0.01; none on ladder_10x"),
    "catalyst_planning_s": ("s", "lower", "latency_p50_ms on registry_sf0.01; none on ladder_10x"),
    "exec_s": ("s", "lower", Q),
    "jobs": ("count", "lower", Q),
    "stages": ("count", "lower", Q),
    "tasks": ("count", "higher", Q),
    "tasks_per_stage": ("count", "higher", Q),
    "task_run_s": ("s", "lower", Q),
    "task_cpu_s": ("s", "lower", "work_s on ladder_10x (kernel cost)"),
    "parallel_efficiency": ("ratio", "higher", Q),
    "sched_wait_s": ("s", "lower", Q),
    "gc_s": ("s", "lower", Q),
    "input_bytes": ("bytes", "lower", Q),
    "shuffle_read_bytes": ("bytes", "lower", "work_s on ladder_10x"),
    "shuffle_write_bytes": ("bytes", "lower", "work_s on ladder_10x"),
    "spill_bytes": ("bytes", "lower", "work_s on ladder_10x"),
}
_STREAM = "latency_p50_ms and latency_tail_ms on pipeline_live (per-batch cost)"
for q in ("agg", "raw"):
    PER_LAYER.update({
        f"{q}.batches": ("count", "lower", _STREAM),
        f"{q}.batch_rows_p50": ("count", "higher", _STREAM),
        f"{q}.trigger_ms_p50": ("ms", "lower", _STREAM),
        f"{q}.addbatch_ms_p50": ("ms", "lower", _STREAM),
        f"{q}.planning_ms_p50": ("ms", "lower", _STREAM),
        f"{q}.walcommit_ms_p50": ("ms", "lower", _STREAM),
        f"{q}.commitoffsets_ms_p50": ("ms", "lower", _STREAM),
        f"{q}.replay_addbatch_ms": ("ms", "lower", "work_s on pipeline_live (per-row cost)"),
        f"{q}.sink_write_ms_p50": ("ms", "lower",
                                   "latency_p50_ms on pipeline_live; serve.* (sinks are re-read)"),
        f"{q}.sink_files": ("count", "lower", "serve.* and rate_per_s on pipeline_live"),
    })
_SERVE = "rate_per_s on pipeline_live"
PER_LAYER.update({
    "agg.state_rows_max": ("count", "lower", _STREAM),
    "agg.state_memory_bytes_max": ("bytes", "lower", _STREAM),
    "backlog_max_events": ("count", "lower", "latency_tail_ms on pipeline_live"),
    "generator_late_ms_max": ("ms", "lower", "none: the load generator's own lag"),
    "window_emit_p50_ms": ("ms", "lower", "latency_p50_ms on pipeline_live"),
    "serve_p50_ms": ("ms", "lower", _SERVE),
    "serve_p90_ms": ("ms", "lower", _SERVE),
    "serve.health_p50_ms": ("ms", "lower", _SERVE),
    "serve.sensors_p50_ms": ("ms", "lower", _SERVE),
    "serve.latest_filtered_p50_ms": ("ms", "lower", _SERVE),
    "serve.latest_all_p50_ms": ("ms", "lower", _SERVE),
    "serve.aggregates_p50_ms": ("ms", "lower", _SERVE),
    "serve.stats_p50_ms": ("ms", "lower", _SERVE),
    "serve.query_p50_ms": ("ms", "lower", _SERVE),
    "serve_jobs_per_request": ("count", "lower", _SERVE),
    "serve.sched_wait_ms_per_request": ("ms", "lower", _SERVE),
    "cache_hit_share": ("ratio", "higher", "serve.latest_filtered_p50_ms on pipeline_live"),
})

LAYER_UNITS = {k: v[0] for k, v in PER_LAYER.items()}

TAIL_CANDIDATES = (99, 95, 90, 75)


def tail_level(n):
    """The highest percentile with at least ten samples beyond it (50 when
    none has): 269 samples give p95, 100 give p90."""
    for p in TAIL_CANDIDATES:
        if n * (100 - p) / 100.0 >= 10:
            return p
    return 50


def percentile(values, p):
    """Linear-interpolated percentile of a non-empty sequence."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    k = (len(xs) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def closed_loop_rate(latencies_ms, clients):
    """Completions per second of `clients` closed-loop clients with no think
    time: clients / mean latency (Little's law). Unlike a count of
    completions in a window it does not jump by whole requests."""
    return clients * 1000.0 * len(latencies_ms) / sum(latencies_ms)


def mix_rate(requests, mix, clients):
    """Requests per second of `clients` closed-loop clients that send the
    request kinds in `mix` (a kind may appear more than once), from each
    kind's median latency: how many of each kind a short run happened to
    complete does not move it."""
    by = {}
    for r in requests:
        by.setdefault(r["endpoint"], []).append(r["ms"])
    cycle_ms = sum(statistics.median(by[k]) for k in mix)
    return clients * 1000.0 * len(mix) / cycle_ms


def p50_or_zero(values):
    return percentile(values, 50) if values else 0.0


def open_loop(dues, sents, dones):
    """Open-loop timing: each operation is timed from when it was due, so a
    stalled generator's wait counts; lateness is how far sending trailed
    the schedule."""
    latency = [d - u for u, d in zip(dues, dones)]
    lateness = [max(0.0, s - u) for u, s in zip(dues, sents)]
    return latency, lateness


def self_time(span, children):
    """A span's duration minus the part of it that its children cover."""
    s, e = span["start"], span["end"]
    ivs = sorted((max(s, c["start"]), min(e, c["end"])) for c in children
                 if c["end"] > s and c["start"] < e)
    covered, cur_s, cur_e = 0.0, None, None
    for a, b in ivs:
        if cur_e is None or a > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = a, b
        else:
            cur_e = max(cur_e, b)
    if cur_e is not None:
        covered += cur_e - cur_s
    return (e - s) - covered


def iso_ms(text):
    """Epoch milliseconds of a streaming progress timestamp."""
    return datetime.fromisoformat(text.replace("Z", "+00:00")).timestamp() * 1000.0


# ---------------------------------------------------------------- spans

def link_spans(spans, progress):
    """Gives every span its parent: job property, stage's job, streaming
    batch, or else the innermost enclosing client-side span. Streaming
    progress becomes `batch` spans with their phases as children."""
    next_id = max([s["id"] for s in spans] + [0]) + 1
    batch_span = {}
    for p in progress:
        dur = p.get("durationMs", {})
        start = iso_ms(p["timestamp"])
        bid = next_id
        next_id += 1
        spans.append({"id": bid, "parent": 0, "name": "batch", "start": start,
                      "end": start + dur.get("triggerExecution", 0),
                      "attrs": {"query": p.get("name"), "batch_id": p["batchId"],
                                "rows": p.get("numInputRows", 0)}})
        batch_span[(p.get("id"), p["batchId"])] = bid
        batch_span[(p.get("name"), p["batchId"])] = bid
        t = start
        for phase in ("latestOffset", "walCommit", "getBatch", "queryPlanning",
                      "addBatch", "commitOffsets"):
            if phase in dur:
                spans.append({"id": next_id, "parent": bid, "name": f"phase.{phase}",
                              "start": t, "end": t + dur[phase], "attrs": {}})
                next_id += 1
                t += dur[phase]
    by_id = {s["id"]: s for s in spans}
    job_span = {}
    for s in spans:
        a = s["attrs"]
        if s["name"] == "job":
            job_span[a["job_id"]] = s["id"]
            if "span" in a and int(a["span"]) in by_id:
                s["parent"] = int(a["span"])
            elif "stream_query" in a and "batch_id" in a:
                s["parent"] = batch_span.get((a["stream_query"], int(a["batch_id"])), 0)
        elif s["name"] == "sink.write":
            s["parent"] = batch_span.get((a["query"], a["batch_id"]), 0)
    for s in spans:
        if s["name"] == "stage":
            s["parent"] = job_span.get(s["attrs"].get("job_id"), 0)
    # by containment: Catalyst phases and jobs no property names
    hosts = sorted((s for s in spans if s["name"] in
                    ("build", "execute", "http.request", "sink.write", "setup",
                     "warm", "check")), key=lambda s: s["start"])
    starts = [h["start"] for h in hosts]
    for s in spans:
        if s["parent"] or not (s["name"].startswith("catalyst.") or s["name"] == "job"):
            continue
        i = bisect.bisect_right(starts, s["start"] + 1e-6)
        best = None
        for h in reversed(hosts[max(0, i - 64):i]):
            if h["start"] <= s["start"] + 1e-6 and s["end"] <= h["end"] + 1.0:
                if best is None or h["start"] > best["start"]:
                    best = h
        if best is not None:
            s["parent"] = best["id"]
    return spans


def self_times(spans):
    """Total self time in seconds per span name."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        out[s["name"]] = out.get(s["name"], 0.0) + self_time(s, kids.get(s["id"], [])) / 1000.0
    return dict(sorted(out.items()))


def descendants(spans, roots):
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out, todo = [], list(roots)
    while todo:
        s = todo.pop()
        out.append(s)
        todo.extend(kids.get(s["id"], []))
    return out


# ---------------------------------------------------------------- batch

def per_query(samples, key="ms"):
    by = {}
    for s in samples:
        by.setdefault(s["query"], []).append(s[key])
    return {q: statistics.median(v) for q, v in by.items()}


def batch_end_to_end(raw):
    samples = raw["samples"]
    ms = [s["ms"] for s in samples]
    medians = per_query(samples)
    return {
        "setup_s": setup_s(raw),
        "latency_p50_ms": percentile(ms, 50),
        "latency_tail_ms": max(medians.values()),
        "work_s": sum(medians.values()) / 1000.0,
        "rate_per_s": closed_loop_rate(complete_passes(raw), 1),
        "retained_mb": raw["retained_mb"],
    }


def complete_passes(raw):
    """Latencies of the passes that ran every query: a pass cut off by the
    deadline would weigh the queries that came first in its order."""
    n = {}
    for s in raw["samples"]:
        n[s["pass"]] = n.get(s["pass"], 0) + 1
    full = {p for p, k in n.items() if k == len(raw["queries"])}
    return [s["ms"] for s in raw["samples"] if s["pass"] in full]


def setup_s(raw):
    return (raw["session_s"] + statistics.median(raw["setup_reps_ms"]) / 1000.0
            + raw["warm_ms"] / 1000.0)


def check_digests(raw, expected):
    """Mismatches of the untimed pass's row counts and digests (a query
    that failed there is already counted as a failure)."""
    want = expected.get(raw["workload"], {})
    bad = []
    for q in raw["queries"]:
        got = raw["digests"].get(q, {})
        exp = want.get(q)
        if "error" in got:
            continue
        if exp is None:
            bad.append(f"{q}: no expected digest")
        elif (got.get("rows"), got.get("digest")) != (exp["rows"], exp["digest"]):
            bad.append(f"{q}: got {got} expected {exp}")
    return bad


def scheduler_layer(spans, roots, cores, wall_ms, scale):
    """Job, stage and task counts and times under `roots`, times `scale`."""
    under = descendants(spans, roots)
    jobs = [s for s in under if s["name"] == "job"]
    stages = [s for s in under if s["name"] == "stage"]

    def tot(k):
        return sum(s["attrs"].get(k, 0) for s in stages)
    tasks = tot("tasks")
    run_s = tot("task_run_ms") / 1000.0
    return {
        "exec_s": wall_ms / 1000.0 * scale,
        "jobs": len(jobs) * scale,
        "stages": len(stages) * scale,
        "tasks": tasks * scale,
        "tasks_per_stage": tasks / len(stages) if stages else 0.0,
        "task_run_s": run_s * scale,
        "task_cpu_s": tot("task_cpu_ms") / 1000.0 * scale,
        "parallel_efficiency": run_s / (wall_ms / 1000.0 * cores) if wall_ms else 0.0,
        "sched_wait_s": tot("sched_wait_ms") / 1000.0 * scale,
        "gc_s": tot("gc_ms") / 1000.0 * scale,
        "input_bytes": tot("input_bytes") * scale,
        "shuffle_read_bytes": tot("shuffle_read_bytes") * scale,
        "shuffle_write_bytes": tot("shuffle_write_bytes") * scale,
        "spill_bytes": tot("spill_bytes") * scale,
    }


def catalyst_layer(spans, roots, scale):
    under = descendants(spans, roots)
    out = {}
    for phase in ("analysis", "optimization", "planning"):
        out[f"catalyst_{phase}_s"] = sum(
            s["end"] - s["start"] for s in under
            if s["name"] == f"catalyst.{phase}") / 1000.0 * scale
    return out


def batch_layers(raw, spans):
    samples = raw["samples"]
    n_set = len(raw["queries"])
    scale = n_set / len(samples)  # per pass over the query set
    measured = {s["id"] for s in spans if s["name"] == "query"}
    builds = [s for s in spans if s["name"] == "build" and s["parent"] in measured]
    executes = [s for s in spans if s["name"] == "execute" and s["parent"] in measured]
    build_med = per_query(samples, "build_ms")
    out = {
        "builder_s": sum(build_med.values()) / 1000.0,
        "builder_jobs": len([s for s in descendants(spans, builds) if s["name"] == "job"]) * scale,
        "builder_slow_count": sum(1 for v in build_med.values() if v > 100.0),
    }
    out.update(catalyst_layer(spans, executes, scale))
    wall = sum(s["end"] - s["start"] for s in executes)
    out.update(scheduler_layer(spans, executes, raw["cores"], wall, scale))
    return out


# ---------------------------------------------------------------- pipeline

def batches_of(progress, name):
    return sorted((p for p in progress if p.get("name") == name), key=lambda p: p["batchId"])


def offset_of(o):
    return -1 if o is None else int(o)


def ingest_latencies(raw):
    """Per live event: due time to the return of the raw sink's append for
    the micro-batch that holds its offset."""
    prog = batches_of(raw["progress"], "raw")
    ends = [offset_of(p["sources"][0]["endOffset"]) for p in prog]
    bids = [p["batchId"] for p in prog]
    sink_end = {w["batch_id"]: w["end_ms"] for w in raw["sinks"]["raw"]}
    dues, sents, dones = [], [], []
    i = 0
    for offset, sent, n in raw["ticks"]:
        n = int(n)
        j = bisect.bisect_left(ends, int(offset))
        if j == len(ends) or bids[j] not in sink_end:
            raise ValueError(f"offset {offset} reached no raw sink write")
        done = sink_end[bids[j]]
        for due in raw["dues"][i:i + n]:
            dues.append(due)
            sents.append(sent)
            dones.append(done)
        i += n
    return open_loop(dues, sents, dones)


def pipeline_end_to_end(raw):
    latency, _ = ingest_latencies(raw)
    return {
        "setup_s": setup_s(raw),
        "latency_p50_ms": percentile(latency, 50),
        "latency_tail_ms": percentile(latency, PIPELINE_TAIL),
        "work_s": raw["replay_ms"] / 1000.0,
        "rate_per_s": mix_rate(raw["requests"], raw["mix"], raw["clients"]),
        "retained_mb": raw["retained_mb"],
    }


def pipeline_failed(raw):
    c = raw["checks"]
    bad_http = sum(1 for r in raw["requests"] if not r["ok"])
    return c["lost"] + c["extra"] + c["windows_mismatched"] + c["windows_dup"] + bad_http


def window_emit(raw):
    """Per live window: landing time in the aggregate sink minus
    (window end + watermark delay)."""
    file_end = {f: w["end_ms"] for w in raw["sinks"]["agg"] for f in w["files"]}
    out = {}
    for start, end, f in raw["checks"]["window_files"]:
        if start >= raw["live_start_ms"] and f in file_end:
            out[(start, end)] = file_end[f] - (end + raw["delay_ms"])
    return list(out.values())


def pipeline_layers(raw, spans):
    prog = raw["progress"]
    out = {}
    for q in ("agg", "raw"):
        ps = batches_of(prog, q)
        live = [p for p in ps if iso_ms(p["timestamp"]) >= raw["live_start_ms"]]

        def d(k, ps=live):
            return [p["durationMs"].get(k, 0) for p in ps]
        out[f"{q}.batches"] = len(live)
        out[f"{q}.batch_rows_p50"] = p50_or_zero([p["numInputRows"] for p in live])
        out[f"{q}.trigger_ms_p50"] = p50_or_zero(d("triggerExecution"))
        out[f"{q}.addbatch_ms_p50"] = p50_or_zero(d("addBatch"))
        out[f"{q}.planning_ms_p50"] = p50_or_zero(d("queryPlanning"))
        out[f"{q}.walcommit_ms_p50"] = p50_or_zero(d("walCommit"))
        out[f"{q}.commitoffsets_ms_p50"] = p50_or_zero(d("commitOffsets"))
        replay = [p for p in ps if p["numInputRows"] >= raw["backlog_events"]]
        out[f"{q}.replay_addbatch_ms"] = replay[0]["durationMs"].get("addBatch", 0) if replay else 0
        writes = raw["sinks"][q]
        out[f"{q}.sink_write_ms_p50"] = p50_or_zero([w["ms"] for w in writes])
        out[f"{q}.sink_files"] = sum(len(w["files"]) for w in writes)
    state = [s for p in batches_of(prog, "agg") for s in p.get("stateOperators", [])]
    out["agg.state_rows_max"] = max([s.get("numRowsTotal", 0) for s in state] + [0])
    out["agg.state_memory_bytes_max"] = max([s.get("memoryUsedBytes", 0) for s in state] + [0])
    # events added but not yet committed by the raw query, at each tick
    commits = sorted((iso_ms(p["timestamp"]) + p["durationMs"].get("triggerExecution", 0),
                      offset_of(p["sources"][0]["endOffset"]))
                     for p in batches_of(prog, "raw"))
    c_times = [c[0] for c in commits]
    offsets, added, cum = [], [], 0     # live events added up to each offset
    for offset, _, n in raw["ticks"]:
        cum += int(n)
        offsets.append(int(offset))
        added.append(cum)
    backlog_max = 0
    for i, (offset, sent, _) in enumerate(raw["ticks"]):
        k = bisect.bisect_right(c_times, sent) - 1
        j = bisect.bisect_right(offsets, commits[k][1] if k >= 0 else -1) - 1
        backlog_max = max(backlog_max, added[i] - (added[j] if j >= 0 else 0))
    out["backlog_max_events"] = backlog_max
    _, lateness = ingest_latencies(raw)
    out["generator_late_ms_max"] = max(lateness + [0.0])
    out["window_emit_p50_ms"] = p50_or_zero(window_emit(raw))
    reqs = raw["requests"]
    out["serve_p50_ms"] = p50_or_zero([r["ms"] for r in reqs])
    out["serve_p90_ms"] = percentile([r["ms"] for r in reqs], 90) if reqs else 0.0
    for kind in ("health", "sensors", "latest_filtered", "latest_all", "aggregates",
                 "stats", "query"):
        out[f"serve.{kind}_p50_ms"] = p50_or_zero([r["ms"] for r in reqs if r["endpoint"] == kind])
    http = [s for s in spans if s["name"] == "http.request"]
    serve_jobs = [s for s in descendants(spans, http) if s["name"] == "job"]
    n = max(1, len(http))
    out["serve_jobs_per_request"] = len(serve_jobs) / n
    out["serve.sched_wait_ms_per_request"] = sum(
        s["attrs"].get("sched_wait_ms", 0) for s in descendants(spans, http)
        if s["name"] == "stage") / n
    cache = raw["cache"]
    out["cache_hit_share"] = cache["hits"] / cache["calls"] if cache["calls"] else 0.0
    roots = [s for s in spans if s["start"] >= raw["live_start_ms"] - raw["replay_ms"]
             and s["end"] <= raw["live_end_ms"] and s["name"] in ("batch", "http.request")]
    wall = raw["live_end_ms"] - raw["live_start_ms"] + raw["replay_ms"]
    out.update(catalyst_layer(spans, roots, 1.0))
    out.update(scheduler_layer(spans, roots, raw["cores"], wall, 1.0))
    return out


# ---------------------------------------------------------------- summary

def summarise(raw, expected):
    """(end-to-end metrics, per-layer metrics or None, attempted, failures)."""
    pipeline = raw["workload"] == "pipeline_live"
    failures = list(raw["failures"])
    if pipeline:
        e2e = pipeline_end_to_end(raw)
        attempted = raw["attempted"]
        failed = pipeline_failed(raw)
    else:
        e2e = batch_end_to_end(raw)
        mism = check_digests(raw, expected)
        failures += mism
        attempted = raw["attempted"] + len(raw["queries"])
        failed = len(raw["failures"]) + len(mism)
    layers = None
    if raw["spans"]:
        spans = link_spans(raw["spans"], raw.get("progress", []) if pipeline else [])
        layers = {k: 0.0 for k in PER_LAYER}
        layers.update(pipeline_layers(raw, spans) if pipeline else batch_layers(raw, spans))
        raw["spans"] = spans
    return e2e, layers, attempted, failed, failures

