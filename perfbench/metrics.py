"""Metric arithmetic over what the harness recorded. Pure functions only."""
import statistics

# One Spark job as the harness writes it (graft.perfbench.JobLog.Job).
JOB_FIELDS = ("id", "span", "desc", "start", "end", "stages", "tasks", "failures",
              "task_ms", "shuffle_read", "shuffle_write", "spill", "output")
# One span (graft.perfbench.Spans.Rec).
SPAN_FIELDS = ("id", "name", "parent", "start", "end")
MB = 1e6
# A job that runs at most one stage and under this much task time does
# orchestration only: a count, a limit-1 probe, a tiny AQE exchange.
TINY_JOB_TASK_MS = 50


def union_length(intervals):
    """Total length covered by possibly overlapping (start, end) intervals."""
    total, cur_start, cur_end = 0.0, None, None
    for start, end in sorted(intervals):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def driver_gap(pass_start, pass_end, job_intervals):
    """Pass wall minus the union of its job intervals (clipped to the pass).

    Subtracting the SUM of job walls instead goes negative as soon as jobs
    overlap, which graft's `Par` lanes make them do.
    """
    clipped = [(max(s, pass_start), min(e, pass_end)) for s, e in job_intervals]
    busy = union_length([(s, e) for s, e in clipped if e > s])
    return (pass_end - pass_start) - busy, busy


def self_times(spans):
    """{span id: its duration minus the durations of its direct children}."""
    own = {s["id"]: s["end"] - s["start"] for s in spans}
    for s in spans:
        if s["parent"] in own:
            own[s["parent"]] -= s["end"] - s["start"]
    return own


def tail(samples):
    """The highest percentile with at least ten samples beyond it.

    Returns (percentile, value, n). With fewer than twenty samples no
    percentile above the median qualifies, and the median is returned.
    """
    xs = sorted(samples)
    n = len(xs)
    if n < 20:
        return 50.0, statistics.median(xs), n
    k = n - 10  # samples at or below the reported one
    return 100.0 * k / n, xs[k - 1], n


def unit(layer_metric):
    """The unit of a per-layer metric, read off its name."""
    if layer_metric.endswith((".s", "_s")):
        return "s"
    if layer_metric.endswith("_mb"):
        return "MB"
    if layer_metric.endswith("coverage"):
        return "ratio"
    return "count"


def layer_counts(p):
    """Per-layer figures of one traced pass (times in s, data in MB)."""
    spans = [dict(zip(SPAN_FIELDS, s)) for s in p["spans"]]
    jobs = [dict(zip(JOB_FIELDS, j)) for j in p["jobs"]]
    name_of = {s["id"]: s["name"] for s in spans}
    own = self_times(spans)

    def self_s(*names):
        return sum(own[s["id"]] for s in spans if s["name"] in names) / 1000.0

    def n_jobs(*names):
        return sum(1 for j in jobs if name_of.get(j["span"]) in names)

    gap_ms, busy_ms = driver_gap(p["start_ms"], p["end_ms"],
                                 [(j["start"], j["end"]) for j in jobs])
    wall_ms = p["end_ms"] - p["start_ms"]
    return {
        "pipelines.tiki.s": self_s("pipelines.tiki"),
        "pipelines.tiki.jobs": n_jobs("pipelines.tiki"),
        "pipelines.trends.s": self_s("pipelines.trends"),
        "pipelines.fx.s": self_s("pipelines.fx"),
        "pipelines.analytics.s": self_s("pipelines.analytics"),
        "pipelines.analytics.jobs": n_jobs("pipelines.analytics"),
        "multimodal.append.s": self_s("multimodal.append"),
        "multimodal.append.jobs": n_jobs("multimodal.append"),
        "dedup.fold.s": self_s("dedup.fold"),
        "dedup.fold.jobs": n_jobs("dedup.fold"),
        "dedup.clusters.s": self_s("dedup.clusters"),
        "sources.output_mb": sum(j["output"] for j in jobs) / MB,
        "sources.files": p["files"],
        "spark.jobs": len(jobs),
        "spark.tasks": sum(j["tasks"] for j in jobs),
        "spark.tiny_jobs": sum(1 for j in jobs if j["stages"] <= 1
                               and j["task_ms"] < TINY_JOB_TASK_MS),
        "spark.job_busy_s": busy_ms / 1000.0,
        "spark.driver_gap_s": gap_ms / 1000.0,
        "spark.shuffle_write_mb": sum(j["shuffle_write"] for j in jobs) / MB,
        "spark.shuffle_read_mb": sum(j["shuffle_read"] for j in jobs) / MB,
        "spark.spill_mb": sum(j["spill"] for j in jobs) / MB,
        "spark.task_failures": sum(j["failures"] for j in jobs),
        "trace.wall_s": p["wall_s"],
        # share of the pass wall the spans' self times account for
        "trace.span_coverage": sum(own.values()) / wall_ms if wall_ms else 0.0,
        "trace.unattributed_jobs": sum(1 for j in jobs if j["span"] not in name_of),
    }
