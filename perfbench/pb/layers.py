"""Per-layer metrics of a traced run, and the per-workload figures under
the names the layer map (README.md) uses.

Additive figures are per traced pass, so runs with different pass
counts compare directly."""
import statistics

from . import stats

CORES = 4

# span names recorded by the harness, one self-time metric each
SPAN_NAMES = (
    "op", "queries.build", "catalyst.plan", "exec.action", "caching.release", "exec.job",
    "ingest", "sources.ukdale", "sources.refit", "sources.mqtt", "container.write",
    "container.read", "nilm.resample", "nilm.aggregate", "nilm.common_channels",
    "tensorprep.windows", "tensorprep.write", "postprocess.onoff",
    "stream", "streaming.bucket_mean", "streaming.sessionize", "streaming.ttl_dedup",
    "streaming.batch")

# (name, unit, additive): the layer metrics every traced run reports;
# a layer a workload does not run reads 0
LAYER_METRICS = (
    ("queries.build_s", "s", True), ("queries.build_jobs", "count", True),
    ("catalyst.analysis_s", "s", True), ("catalyst.optimization_s", "s", True),
    ("catalyst.planning_s", "s", True),
    ("exec.s", "s", True), ("exec.jobs", "count", True), ("exec.stages", "count", True),
    ("exec.tasks", "count", True), ("exec.task_run_s", "s", True),
    ("exec.task_cpu_s", "s", True), ("exec.core_util", "ratio", False),
    ("exec.shuffle_read_bytes", "bytes", True), ("exec.shuffle_write_bytes", "bytes", True),
    ("exec.spill_bytes", "bytes", True), ("exec.peak_exec_mem_bytes", "bytes", False),
    ("exec.result_rows", "count", True), ("exec.failed_tasks", "count", True),
    ("caching.persists", "count", True), ("caching.stored_bytes", "bytes", True),
    ("caching.release_s", "s", True),
    ("sources.ukdale_s", "s", True), ("sources.refit_s", "s", True),
    ("sources.mqtt_s", "s", True), ("sources.rows_out", "count", True),
    ("sources.rows_dropped", "count", True), ("sources.rows_per_s", "1/s", False),
    ("container.write_s", "s", True), ("container.read_s", "s", True),
    ("container.bytes_written", "bytes", True),
    ("container.bytes_per_input_byte", "ratio", False), ("container.files", "count", True),
    ("labels.other_channels", "count", False),
    ("nilm.resample_s", "s", True), ("nilm.aggregate_s", "s", True),
    ("nilm.common_channels_s", "s", True),
    ("tensorprep.windows_s", "s", True), ("tensorprep.windows", "count", True),
    ("tensorprep.write_s", "s", True),
    ("postprocess.onoff_s", "s", True), ("postprocess.on_runs", "count", True),
    ("streaming.batches", "count", True), ("streaming.input_rows", "count", True),
    ("streaming.add_batch_s", "s", True), ("streaming.trigger_overhead_s", "s", True),
    ("streaming.state_rows", "count", True), ("streaming.state_mem_bytes", "bytes", True),
    ("streaming.state_commit_s", "s", True),
) + tuple((f"self.{n}_s", "s", True) for n in SPAN_NAMES) + (
    ("trace.overhead_s", "s", False), ("trace.overhead_frac", "ratio", False),
)

# layer metrics that are the summed duration of one span name
SPAN_TIME = {f"{n}_s": n for n in (
    "queries.build", "caching.release", "sources.ukdale", "sources.refit", "sources.mqtt",
    "container.write", "container.read", "nilm.resample", "nilm.aggregate",
    "nilm.common_channels", "tensorprep.windows", "tensorprep.write", "postprocess.onoff")}


def within(job, spans):
    """The span a job runs under. Jobs name the span that was open on
    the thread that submitted them; a micro-batch's jobs name their
    streaming leg, and belong to the batch span recorded under that leg
    whose interval holds the job's start."""
    for s in spans:
        if (s["parent"] == job["parent"] and s["name"] == "streaming.batch"
                and s["start_ns"] <= job["start_ns"] < s["end_ns"]):
            return s["id"]
    return job["parent"]


def per_layer(jvm, dump, manifest):
    """{metric: (value, unit)} for every LAYER_METRICS entry."""
    traced = [p["s"] for p in jvm["passes"] if p["leg"] == "traced"]
    untraced = [p["s"] for p in jvm["passes"] if p["leg"] == "untraced"]
    n = max(1, len(traced))
    spans = dump["spans"]
    jobs = [j for j in dump["jobs"] if j["parent"] != 0]
    c = dict(jvm["counters"])

    dur = {}
    for s in spans:
        dur[s["name"]] = dur.get(s["name"], 0) + (s["end_ns"] - s["start_ns"]) / 1e9
    for k, name in SPAN_TIME.items():
        c[k] = dur.get(name, 0.0)
    build_ids = {s["id"] for s in spans if s["name"] == "queries.build"}
    c["queries.build_jobs"] = sum(1 for j in jobs if j["parent"] in build_ids)

    exec_s = stats.union_length([(j["start_ns"], j["end_ns"]) for j in jobs]) / 1e9
    c["exec.s"] = exec_s
    c["exec.jobs"] = len(jobs)
    for key, field, scale in (("exec.stages", "stages", 1), ("exec.tasks", "tasks", 1),
                              ("exec.task_run_s", "task_run_ms", 1e-3),
                              ("exec.task_cpu_s", "task_cpu_ns", 1e-9),
                              ("exec.shuffle_read_bytes", "shuffle_read_bytes", 1),
                              ("exec.shuffle_write_bytes", "shuffle_write_bytes", 1),
                              ("exec.spill_bytes", "spill_bytes", 1),
                              ("exec.failed_tasks", "failed_tasks", 1)):
        c[key] = sum(j[field] for j in jobs) * scale
    c["exec.peak_exec_mem_bytes"] = max((j["peak_exec_mem_bytes"] for j in jobs), default=0)
    c["exec.core_util"] = c["exec.task_run_s"] / (exec_s * CORES) if exec_s else 0.0

    if manifest is not None:
        rows_out = sum(c.get(f"sources.{s}_rows_out", 0) for s in ("ukdale", "refit", "mqtt"))
        inputs = sum(manifest["inputs"].values())
        c["sources.rows_out"] = rows_out
        c["sources.rows_dropped"] = inputs * n - rows_out
        src_s = sum(dur.get(f"sources.{s}", 0) for s in ("ukdale", "refit", "mqtt"))
        c["sources.rows_per_s"] = rows_out / src_s if src_s else 0.0
        c["container.bytes_per_input_byte"] = (
            c.get("container.bytes_written", 0) / n / manifest["raw_bytes"])

    nodes = [{"id": ("s", s["id"]), "parent": ("s", s["parent"]), "name": s["name"],
              "start": s["start_ns"], "end": s["end_ns"]} for s in spans]
    nodes += [{"id": ("j", j["id"]), "parent": ("s", within(j, spans)), "name": "exec.job",
               "start": j["start_ns"], "end": j["end_ns"]} for j in jobs]
    for name, v in stats.self_times(nodes).items():
        c[f"self.{name}_s"] = v / 1e9

    if traced and untraced:
        t, u = statistics.median(traced), statistics.median(untraced)
        c["trace.overhead_s"] = t - u
        c["trace.overhead_frac"] = (t - u) / u

    return {name: (c.get(name, 0.0) / (n if additive else 1), unit)
            for name, unit, additive in LAYER_METRICS}


def named_metrics(workload, e2e, passes, latencies, failed, attempted):
    """The run's figures under the layer map's names: `pass_s` is
    `ingest_s` on ingest_etl and `stream_s` on stream_replay, an op is a
    query on the packs and a micro-batch on stream_replay; tails follow
    the percentile rule (stats.tail_percentile)."""
    out = {"setup_s": (e2e["setup_s"], "s"), "peak_heap_mb": (e2e["peak_heap_mb"], "MB"),
           "failed_frac": (failed / attempted if attempted else 1.0, "ratio"),
           "passes": (len(passes), "count")}
    pass_name = {"ingest_etl": "ingest_s", "stream_replay": "stream_s"}.get(workload, "pass_s")
    out[pass_name] = (e2e["pass_s"], "s")
    op = {"nilm_pack": "query", "doc_pack": "query", "stream_replay": "stream_batch",
          "ingest_etl": "stage"}[workload]
    summary = stats.timing_summary(latencies)
    out[f"{op}_n"] = (summary["n"], "count")
    if summary["p50"] is not None:
        out[f"{op}_p50_s"] = (summary["p50"], "s")
    if "tail" in summary:
        out[f"{op}_p{summary['tail_pct']}_s"] = (summary["tail"], "s")
    return out
