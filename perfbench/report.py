"""Metrics from one benchmark process's raw samples and spans.

End-to-end metrics come from the untraced window, per-layer metrics from
the traced one. Per-layer counts and times are per pass (one load, one
batch), so runs of different lengths compare.
"""
import statistics

MODULES = ["etl", "analytics", "text", "vector", "multimodal", "ops"]
WORKLOAD_OPS = {
    "etl_load": ["etl_clean_events", "etl_quarantine", "etl_derive_speed",
                 "etl_dedup_keyfirst", "q_trip_view"],
    "heavy_batch": ["dedup_exact", "dedup_editdist", "ann_ivf", "mm_frames", "mm_scene_change", "q_spatial_join"],
}
SELF_LAYERS = ["run", "op", "construct", "plan", "execute", "write", "job", "stage"]

END_TO_END = [
    ("setup_s", "s"),
    ("batch_s", "s"),
    ("load_rows_per_s", "1/s"),
]

PER_LAYER = (
    [(f"{m}.{k}", u) for m in MODULES
     for k, u in [("construct_s", "s"), ("eager_jobs", "count"), ("exec_s", "s")]]
    + [("io.write_s", "s"), ("io.bytes_written", "B"), ("io.files_written", "count"),
       ("io.bytes_per_input_byte", "ratio"),
       ("sources.scan_bytes", "B"), ("sources.scan_rows", "count"),
       ("analytics.rows_scanned_per_row_returned", "ratio"),
       ("catalyst.plan_s", "s"), ("catalyst.plan_share", "ratio"),
       ("scheduler.jobs_per_op", "count"), ("scheduler.stages", "count"),
       ("scheduler.tasks", "count"), ("scheduler.driver_only_s", "s"),
       ("scheduler.single_task_stage_share", "ratio"), ("scheduler.longest_stage_tasks", "count"),
       ("compute.task_run_s", "s"), ("compute.task_cpu_s", "s"), ("compute.cpu_per_run", "ratio"),
       ("compute.core_busy_share", "ratio"),
       ("shuffle.write_bytes", "B"), ("shuffle.read_bytes", "B"), ("shuffle.spill_bytes", "B"),
       ("shuffle.fetch_wait_s", "s"),
       ("jvm.gc_s", "s"), ("jvm.heap_peak_mb", "MB"),
       ("trace.overhead_share", "ratio"), ("trace.passes", "count")]
    + [(f"self.{layer}_s", "s") for layer in SELF_LAYERS]
    + [(f"op.{op}.wall_ms", "ms") for ops in WORKLOAD_OPS.values() for op in ops]
)


def percentile(values, q):
    """Linear-interpolated q-quantile. A percentile above the median is
    refused unless at least ten samples lie beyond it, so p90 needs 100."""
    n = len(values)
    if n == 0:
        raise ValueError("no samples")
    if q > 0.5 and n * (1 - q) < 10 - 1e-9:
        raise ValueError(f"p{round(q * 100)} needs {round(10 / (1 - q))} samples, have {n}")
    xs = sorted(values)
    pos = q * (n - 1)
    lo = int(pos)
    hi = min(lo + 1, n - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def union_length(intervals, lo=float("-inf"), hi=float("inf")):
    """Length of the union of [start, end) intervals clipped to [lo, hi)."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def layer_of(span):
    return span["name"] if span["kind"] == "phase" else span["kind"]


def self_times(spans):
    """Layer -> total self time (ms): each span's duration minus the part
    of it that its children cover."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        kids = [(c["start"], c["end"]) for c in children.get(s["id"], [])]
        own = (s["end"] - s["start"]) - union_length(kids, s["start"], s["end"])
        out[layer_of(s)] = out.get(layer_of(s), 0.0) + own
    return out


def stage_shape(stages):
    """(share of stage wall time in stages that ran one task, task count
    of the longest stage) over stage spans."""
    wall = sum(s["end"] - s["start"] for s in stages)
    single = sum(s["end"] - s["start"] for s in stages if s.get("tasks", s["num_tasks"]) == 1)
    longest = max(stages, key=lambda s: s["end"] - s["start"], default=None)
    return (single / wall if wall > 0 else 0.0,
            int(longest.get("tasks", longest["num_tasks"])) if longest else 0)


def end_to_end(raw, input_rows):
    """The untraced window's end-to-end metrics. `input_rows`: event rows
    of the workload's input."""
    batch = statistics.median(raw["untraced"]["passes_s"])
    t = raw["timeline_ms"]
    return {
        "setup_s": (t["ready"] - t["launch"]) / 1000,
        "batch_s": batch,
        "load_rows_per_s": input_rows / batch,
    }


def latency_summary(raw):
    """Op latency: p50 and the highest of p90/p80/p70 the sample count
    supports."""
    lat = [s["wall_s"] * 1000 for s in raw["untraced"]["samples"] if s["ok"]]
    out = {"samples": len(lat)}
    if lat:
        out["p50_ms"] = percentile(lat, 0.5)
    for q in (0.9, 0.8, 0.7):
        try:
            out[f"p{round(q * 100)}_ms"] = percentile(lat, q)
            break
        except ValueError:
            continue
    return out


def op_medians(samples):
    walls = {}
    for s in samples:
        if s["ok"]:
            walls.setdefault(s["op"], []).append(s["wall_s"])
    return {op: statistics.median(w) for op, w in walls.items()}


def tracing_overhead(raw):
    """Median over ops of traced / untraced median op wall, minus one."""
    plain = op_medians(raw["untraced"]["samples"])
    traced = op_medians(raw["traced"]["samples"])
    ratios = [traced[op] / plain[op] for op in traced if plain.get(op)]
    return statistics.median(ratios) - 1 if ratios else 0.0


def per_layer(raw, rows_returned, files_written, cores):
    """The traced window's per-layer metrics (see PER_LAYER).

    `rows_returned`: op -> rows of its output; `files_written`: files one
    load pass leaves in its output directories."""
    tr = raw["traced"]
    spans = tr["spans"]
    by_id = {s["id"]: s for s in spans}
    n_pass = len(tr["passes_s"])
    ops = [s for s in spans if s["kind"] == "op"]
    phases = [s for s in spans if s["kind"] == "phase"]
    jobs = [s for s in spans if s["kind"] == "job"]
    stages = [s for s in spans if s["kind"] == "stage"]
    module = {s["op"]: s["module"] for s in tr["samples"]}

    def op_of(span):
        while span["kind"] != "op":
            if span["parent"] not in by_id:
                return None
            span = by_id[span["parent"]]
        return span

    def stage_sum(key, pred=lambda op: True):
        return sum(s.get(key, 0.0) for s in stages if (o := op_of(s)) is not None and pred(o))

    def dur(xs):
        return sum(x["end"] - x["start"] for x in xs) / 1000

    m = {}
    for mod in MODULES:
        mine = [p for p in phases if module.get(by_id[p["parent"]]["name"]) == mod]
        construct_ids = {p["id"] for p in mine if p["name"] == "construct"}
        m[f"{mod}.construct_s"] = dur([p for p in mine if p["name"] == "construct"]) / n_pass
        m[f"{mod}.eager_jobs"] = sum(j["parent"] in construct_ids for j in jobs) / n_pass
        m[f"{mod}.exec_s"] = dur([p for p in mine if p["name"] in ("execute", "write")]) / n_pass

    scan_bytes = stage_sum("input_bytes")
    written = stage_sum("output_bytes")
    m["io.write_s"] = dur([p for p in phases if p["name"] == "write"]) / n_pass
    m["io.bytes_written"] = written / n_pass
    m["io.files_written"] = files_written
    m["io.bytes_per_input_byte"] = written / scan_bytes if scan_bytes else 0.0
    m["sources.scan_bytes"] = scan_bytes / n_pass
    m["sources.scan_rows"] = stage_sum("input_rows") / n_pass

    analytics = [o for o in ops if module.get(o["name"]) == "analytics"]
    returned = sum(rows_returned.get(o["name"], 0) for o in analytics)
    scanned = stage_sum("input_rows", lambda o: module.get(o["name"]) == "analytics")
    m["analytics.rows_scanned_per_row_returned"] = scanned / returned if returned else 0.0

    op_wall = dur(ops)
    plan = dur([p for p in phases if p["name"] == "plan"])
    m["catalyst.plan_s"] = plan / n_pass
    m["catalyst.plan_share"] = plan / op_wall if op_wall else 0.0

    m["scheduler.jobs_per_op"] = len(jobs) / len(ops) if ops else 0.0
    m["scheduler.stages"] = len(stages) / n_pass
    m["scheduler.tasks"] = sum(s.get("tasks", 0) for s in stages) / n_pass
    stage_iv = [(s["start"], s["end"]) for s in stages]
    m["scheduler.driver_only_s"] = sum(
        (o["end"] - o["start"]) - union_length(stage_iv, o["start"], o["end"]) for o in ops) / 1000 / n_pass
    m["scheduler.single_task_stage_share"], m["scheduler.longest_stage_tasks"] = stage_shape(stages)

    run_s = stage_sum("run_ms") / 1000
    cpu_s = stage_sum("cpu_ns") / 1e9
    window = dur([s for s in spans if s["kind"] == "run"])
    m["compute.task_run_s"] = run_s / n_pass
    m["compute.task_cpu_s"] = cpu_s / n_pass
    m["compute.cpu_per_run"] = cpu_s / run_s if run_s else 0.0
    m["compute.core_busy_share"] = run_s / (window * cores) if window else 0.0

    m["shuffle.write_bytes"] = stage_sum("shuffle_write_bytes") / n_pass
    m["shuffle.read_bytes"] = stage_sum("shuffle_read_bytes") / n_pass
    m["shuffle.spill_bytes"] = stage_sum("spill_bytes") / n_pass
    m["shuffle.fetch_wait_s"] = stage_sum("fetch_wait_ms") / 1000 / n_pass

    m["jvm.gc_s"] = tr["gc_ms"] / 1000 / n_pass
    m["jvm.heap_peak_mb"] = tr["heap_peak_mb"]
    m["trace.overhead_share"] = tracing_overhead(raw)
    m["trace.passes"] = n_pass

    selfs = self_times(spans)
    for layer in SELF_LAYERS:
        m[f"self.{layer}_s"] = selfs.get(layer, 0.0) / 1000 / n_pass
    for op in (o for names in WORKLOAD_OPS.values() for o in names):
        walls = [s["wall_s"] * 1000 for s in tr["samples"] if s["op"] == op and s["ok"]]
        m[f"op.{op}.wall_ms"] = statistics.median(walls) if walls else 0.0
    return m
