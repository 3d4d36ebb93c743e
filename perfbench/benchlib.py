"""Arithmetic that turns one run's raw records into the benchmark's metrics.

The JVM side (src/main/scala/perfbench) writes spans, Spark jobs, check
counts and a few measured values. Everything derived from them lives
here, so it can be tested without Spark: percentiles, interval unions,
driver time, span self time, failure counting, the analytics oracle
compare, and the end-to-end and per-layer metric tables.
"""
import math
import statistics

# Per workload: the span layers of interactive calls (one caller waiting on
# one answer) and of bulk calls (batches, writes, heavy queries). The
# end-to-end figure of each class is the geometric mean of the per-layer
# medians, so every layer weighs the same whatever its scale.
SHORT_QUERIES = ["q1_agg", "r1_retrieve", "v2_knn_filtered", "f7_hydrate",
                 "e1_events_window", "g12_vacuum", "h8_evolution_chain"]
HEAVY_QUERIES = ["d8_dedup_components", "x41_perlang_gate",
                 "x27_repeated_spans"]
KINDS = {
    "serve_ingest": {"interactive": ["fused.point", "mmr.point", "fused.live"],
                     "bulk": ["fused.batch", "fused_int8.batch", "freshness"]},
    "analytics": {"interactive": ["q." + q for q in SHORT_QUERIES],
                  "bulk": ["q." + q for q in HEAVY_QUERIES]},
}
# The measured-phase span layers whose warm calls count: analytics' cold
# pass is set-up, so its query spans are excluded by parent.
COLD_PARENT = "analytics.cold"

END_TO_END = ["setup_s", "interactive_ms", "bulk_ms"]


# --- statistics -------------------------------------------------------------

def percentile(values, q, min_beyond=10):
    """Nearest-rank q-quantile that has at least `min_beyond` samples above
    it. Raises ValueError when the sample is too small for that."""
    xs = sorted(values)
    n = len(xs)
    rank = max(1, math.ceil(q * n))
    if n - rank < min_beyond:
        raise ValueError(f"p{q * 100:g} of {n} samples has only "
                         f"{n - rank} beyond it, need {min_beyond}")
    return xs[rank - 1]


def tail(values, q=0.99, min_beyond=10):
    """The q-quantile when the sample allows it, else the highest quantile
    that still has `min_beyond` samples above it (0 for tiny samples)."""
    n = len(values)
    if n <= min_beyond:
        return 0.0
    q = min(q, (n - min_beyond) / n)
    return percentile(values, q, min_beyond)


def median(values):
    return statistics.median(values) if values else 0.0


def mean(values):
    return sum(values) / len(values) if values else 0.0


def geomean(values):
    """Geometric mean of positive values; 0 when any is missing or 0."""
    if not values or min(values) <= 0:
        return 0.0
    return math.exp(sum(math.log(v) for v in values) / len(values))


# --- intervals and spans ----------------------------------------------------

def union_length(intervals, lo=-math.inf, hi=math.inf):
    """Total length covered by `intervals` ([start, end] pairs) after
    clipping each to [lo, hi]; overlaps count once."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


class Span:
    __slots__ = ("id", "parent", "layer", "start", "end", "traced", "attrs",
                 "jobs", "children")

    def __init__(self, rec):
        (self.id, self.parent, self.layer, self.start, self.end,
         traced, self.attrs) = rec
        self.traced = bool(traced)
        self.jobs = []
        self.children = []

    @property
    def wall(self):
        return self.end - self.start


JOB_FIELDS = ["id", "span", "submit", "end", "stages", "stages_run", "tasks",
              "run_ms", "deser_ms", "sched_ms", "result_bytes", "gc_ms",
              "shuffle_read", "shuffle_write", "spill", "output"]


def load_trace(trace):
    """Spans by id, each with its direct children and its own jobs."""
    spans = {}
    for rec in trace.get("spans", []):
        s = Span(rec)
        spans[s.id] = s
    for s in spans.values():
        if s.parent in spans:
            spans[s.parent].children.append(s)
    for rec in trace.get("jobs", []):
        job = dict(zip(JOB_FIELDS, rec))
        if job["span"] in spans:
            spans[job["span"]].jobs.append(job)
    return spans


def subtree_jobs(span):
    """Jobs submitted by the span or any span nested in it."""
    out = list(span.jobs)
    for c in span.children:
        out.extend(subtree_jobs(c))
    return out


def job_ms(span):
    """Time inside the span during which at least one of its jobs ran."""
    return union_length([(j["submit"], j["end"] if j["end"] >= 0 else span.end)
                         for j in subtree_jobs(span)], span.start, span.end)


def driver_ms(span):
    """Span wall time not covered by any of its jobs: probe selection,
    broadcast, planning and merging on the driver."""
    return span.wall - job_ms(span)


def self_ms(span):
    """Span wall time not covered by any nested span."""
    return span.wall - union_length([(c.start, c.end) for c in span.children],
                                    span.start, span.end)


# --- checks -----------------------------------------------------------------

class Tally:
    """Operations attempted and failed, with the first failure messages."""

    def __init__(self, attempted=0, failed=0, messages=()):
        self.attempted, self.failed = attempted, failed
        self.messages = list(messages)

    def record(self, ok, message=""):
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.messages) < 20:
                self.messages.append(message)
        return ok

    @property
    def failed_share(self):
        return self.failed / self.attempted if self.attempted else 1.0


def frames_match(got, want):
    """True when two pandas frames hold the same rows: columns compared by
    name, rows in sorted order, values and dtypes exact (the engine's
    oracle contract)."""
    import pandas as pd
    if sorted(got.columns) != sorted(want.columns):
        return False
    cols = sorted(got.columns)
    a = got[cols].sort_values(cols).reset_index(drop=True)
    b = want[cols].sort_values(cols).reset_index(drop=True)
    try:
        pd.testing.assert_frame_equal(a, b, check_dtype=True, check_exact=True)
    except AssertionError:
        return False
    return True


def oracle_check(tally, data_dir, results_dir, oracle_sql):
    """Compare each query's cold-pass result with DuckDB running its
    oracle SQL over the same tables; each query is one checked operation."""
    import os
    import duckdb
    import pandas as pd
    con = duckdb.connect()
    for name in sorted(os.listdir(data_dir)):
        if name.endswith(".parquet"):
            path = os.path.join(data_dir, name).replace("'", "''")
            con.execute(f"create view {name[:-8]} as "
                        f"select * from read_parquet('{path}')")
    for name, sql in sorted(oracle_sql.items()):
        try:
            got = pd.read_parquet(os.path.join(results_dir, name))
            ok = frames_match(got, con.execute(sql).df())
        except Exception as e:  # a failing query or unreadable result
            tally.record(False, f"{name}: oracle compare raised {e!r}"[:300])
            continue
        tally.record(ok, f"{name}: result differs from the DuckDB oracle")
    con.close()


# --- metrics ----------------------------------------------------------------

def spans_of(spans, layer, warm_only=True):
    out = [s for s in spans.values() if s.layer == layer]
    if warm_only:
        out = [s for s in out
               if not (s.parent in spans and spans[s.parent].layer == COLD_PARENT)]
    return out


def walls(spans, layer):
    return [s.wall for s in spans_of(spans, layer)]


def setup_seconds(spans, values):
    """Session start plus every top-level `setup.*` span, plus set-up work
    done outside the JVM (the analytics table generation)."""
    top = [s for s in spans.values()
           if s.layer.startswith("setup.") and s.parent not in spans]
    return (values.get("setup.session_ms", 0.0) + sum(s.wall for s in top)) / 1000 \
        + values.get("setup.datagen_s", 0.0)


def end_to_end(workload, spans, values):
    kinds = KINDS[workload]
    return {
        "setup_s": setup_seconds(spans, values),
        "interactive_ms": geomean([median(walls(spans, k)) for k in kinds["interactive"]]),
        "bulk_ms": geomean([median(walls(spans, k)) for k in kinds["bulk"]]),
    }


def layer_stats(spans, layer):
    """Per-call means over the traced spans of one layer. Means, not
    medians, so that wall_ms = driver_ms + job time holds for the layer."""
    ss = [s for s in spans_of(spans, layer) if s.traced]
    if not ss:
        return {}
    per = []
    for s in ss:
        jobs = subtree_jobs(s)
        total = lambda f: sum(j[f] for j in jobs)
        per.append({
            "wall_ms": s.wall, "driver_ms": driver_ms(s), "job_ms": job_ms(s),
            "jobs": len(jobs), "stages": total("stages_run"),
            "skipped_stages": total("stages") - total("stages_run"),
            "tasks": total("tasks"), "task_run_ms": total("run_ms"),
            "task_deser_ms": total("deser_ms"), "sched_delay_ms": total("sched_ms"),
            "result_kb": total("result_bytes") / 1024, "gc_ms": total("gc_ms"),
            "shuffle_kb": (total("shuffle_read") + total("shuffle_write")) / 1024,
            "spill_kb": total("spill") / 1024, "output_kb": total("output") / 1024,
            "input_kb": s.attrs.get("input_bytes", 0.0) / 1024,
        })
    return {k: mean([p[k] for p in per]) for k in per[0]}


def overhead_pct(spans, layers):
    """Geometric mean over `layers` of the median tagged call against the
    median untagged one, in percent: the cost of tagging and attributing
    calls, with the listener attached throughout."""
    ratios = []
    for layer in layers:
        on = [s.wall for s in spans_of(spans, layer) if s.traced]
        off = [s.wall for s in spans_of(spans, layer) if not s.traced]
        if on and off:
            ratios.append(median(on) / median(off))
    return 100.0 * (geomean(ratios) - 1.0) if ratios else 0.0


def per_layer(workload, spans, values, tally):
    """Every per-layer metric; layers a workload does not run read 0."""
    m = {}

    def put(layer, fields):
        st = layer_stats(spans, layer)
        for f in fields:
            m[f"{layer}.{f}"] = st.get(f, 0.0)

    put("fused.point", ["wall_ms", "driver_ms", "tasks", "stages",
        "task_run_ms", "task_deser_ms", "sched_delay_ms", "result_kb"])
    put("fused.batch", ["wall_ms", "driver_ms", "task_run_ms",
        "task_deser_ms", "result_kb", "gc_ms"])
    put("fused_int8.batch", ["wall_ms", "task_run_ms", "gc_ms"])
    put("mmr.point", ["wall_ms", "driver_ms", "task_run_ms", "result_kb"])
    m["serving.resident_mb_f32"] = values.get("serving.resident_mb_f32", 0.0)
    m["serving.resident_mb_int8"] = values.get("serving.resident_mb_int8", 0.0)
    put("fused.live", ["wall_ms", "driver_ms", "tasks", "stages",
        "task_deser_ms", "task_run_ms"])
    live = spans_of(spans, "fused.live")
    m["serving.segments_live"] = mean([s.attrs.get("segments", 0.0) for s in live])
    m["serving.tombstones_live"] = mean([s.attrs.get("tombstones", 0.0) for s in live])
    put("ingest", ["wall_ms", "jobs", "tasks", "task_run_ms", "shuffle_kb"])
    ing = layer_stats(spans, "ingest")
    m["ingest.log_kb_per_input_kb"] = (ing["output_kb"] / ing["input_kb"]
                                       if ing and ing["input_kb"] else 0.0)
    put("upsert", ["wall_ms", "jobs"])
    put("compact", ["wall_ms", "task_run_ms", "shuffle_kb"])
    put("snapshot", ["wall_ms"])
    m["snapshot.written_kb"] = values.get("snapshot.written_kb", 0.0)
    put("load", ["wall_ms"])
    put("recover", ["wall_ms"])
    # Self time: the restart outside load, recovery and the first probe;
    # a write's hand-off outside the Streams call (the freshness probe).
    for layer in ("restart", "freshness"):
        m[f"{layer}.self_ms"] = mean([self_ms(s) for s in spans_of(spans, layer)
                                      if s.traced])
    for stage in ["corpus", "postings", "kmeans", "assign", "build_f32",
                  "build_int8", "exact_ref"]:
        m[f"setup.{stage}_s"] = sum(walls(spans, f"setup.{stage}")) / 1000
    m["setup.session_s"] = values.get("setup.session_ms", 0.0) / 1000

    # Analytics: each query's traced calls, summed over the queries into
    # one pass, and each query on its own.
    queries = [layer_stats(spans, "q." + q) for q in SHORT_QUERIES + HEAVY_QUERIES]
    per_pass = lambda f, scale=1.0: sum(st.get(f, 0.0) for st in queries) / scale
    m["analytics.jobs"] = per_pass("jobs")
    m["analytics.stages"] = per_pass("stages")
    m["analytics.skipped_stages"] = per_pass("skipped_stages")
    m["analytics.tasks"] = per_pass("tasks")
    m["analytics.task_s"] = per_pass("task_run_ms", 1000)
    m["analytics.driver_s"] = per_pass("driver_ms", 1000)
    m["analytics.sched_delay_s"] = per_pass("sched_delay_ms", 1000)
    m["analytics.gc_s"] = per_pass("gc_ms", 1000)
    m["analytics.shuffle_mb"] = per_pass("shuffle_kb", 1024)
    m["analytics.spill_mb"] = per_pass("spill_kb", 1024)
    for q, st in zip(SHORT_QUERIES + HEAVY_QUERIES, queries):
        m[f"q.{q}.wall_s"] = st.get("wall_ms", 0.0) / 1000
        m[f"q.{q}.jobs"] = st.get("jobs", 0.0)
        m[f"q.{q}.task_s"] = st.get("task_run_ms", 0.0) / 1000

    # Headline figures of each workload phase, as a user reads them.
    point = walls(spans, "fused.point")
    live_w = walls(spans, "fused.live")
    batch = walls(spans, "fused.batch")
    batch8 = walls(spans, "fused_int8.batch")
    nq = values.get("batch_queries", 0.0)
    m["point_p50_ms"] = median(point)
    m["point_p99_ms"] = tail(point)
    m["mmr_p50_ms"] = median(walls(spans, "mmr.point"))
    m["batch_qps"] = nq / (median(batch) / 1000) if batch else 0.0
    m["batch_int8_qps"] = nq / (median(batch8) / 1000) if batch8 else 0.0
    m["recall_at_10"] = values.get("recall_at_10", 0.0)
    m["resident_mb"] = m["serving.resident_mb_f32"] + m["serving.resident_mb_int8"]
    m["serving.resident_mb_live"] = values.get("serving.resident_mb_live", 0.0)
    window = values.get("ingest.window_s", 0.0)
    m["ingest_docs_per_s"] = values.get("ingest.docs_servable", 0.0) / window if window else 0.0
    m["freshness_p50_ms"] = median(walls(spans, "freshness"))
    m["live_read_p50_ms"] = median(live_w)
    m["live_read_p99_ms"] = tail(live_w)
    m["compact_s"] = median(walls(spans, "compact")) / 1000
    m["restart_s"] = sum(walls(spans, "restart")) / 1000
    m["analytics_pass_s"] = sum(median(walls(spans, "q." + q))
                                for q in SHORT_QUERIES + HEAVY_QUERIES) / 1000
    m["failed_share"] = tally.failed_share
    m["trace.overhead_pct"] = overhead_pct(spans, KINDS[workload]["interactive"])
    return m


def live_by_segments(spans):
    """Traced live reads grouped by appended segments at call time:
    segments -> (calls, mean tasks, mean task deserialization ms)."""
    groups = {}
    for s in spans_of(spans, "fused.live"):
        if s.traced:
            jobs = subtree_jobs(s)
            groups.setdefault(int(s.attrs.get("segments", 0)), []).append(
                (sum(j["tasks"] for j in jobs), sum(j["deser_ms"] for j in jobs)))
    return {k: (len(v), mean([t for t, _ in v]), mean([d for _, d in v]))
            for k, v in sorted(groups.items())}


def unit_of(name):
    """The unit a metric is reported in, read off its name."""
    if name in ("recall_at_10", "failed_share"):
        return "fraction"
    if name.endswith("_qps"):
        return "queries/s"
    if name.endswith("_per_s"):
        return "docs/s"
    if name.endswith("per_input_kb"):
        return "ratio"
    for suffix, unit in (("_ms", "ms"), ("_s", "s"), ("_kb", "KB"),
                         ("_mb", "MB"), ("_pct", "%")):
        if name.endswith(suffix) or f"{suffix}_" in name:
            return unit
    return "count"


def metrics_json(metrics):
    """The `metrics` object of the result line."""
    return {k: {"value": v, "unit": unit_of(k)} for k, v in metrics.items()}
