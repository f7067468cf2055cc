"""Per-layer metrics of a traced run, from the run record the JVM wrote:
spans (one per call into a layer), Spark jobs with their task counters,
per-query planning facts and streaming progress. Every workload reports
every metric; a layer a workload does not exercise reports 0.
"""
import glob
import os

import pyarrow.parquet as pq

import stats

DAG_EDGES = {"convert": "graft-convert-stream", "extract": "graft-extract-stream",
             "clean": "graft-clean-stream", "crop": "graft-crop-stream"}
SPAN_LAYERS = ("bench", "queries", "operators", "functions", "pipeline", "streaming")


def landed_events(root, batch_keys):
    return sum(pq.ParquetFile(os.path.join(
        root, "inputs", "event_files", k[len("batch_"):] + ".parquet")).metadata.num_rows
        for k in batch_keys)


def _files(pattern):
    return [f for f in glob.glob(pattern, recursive=True) if os.path.isfile(f)]


def _bytes(files):
    return sum(os.path.getsize(f) for f in files)


def attribute_jobs(spans, jobs):
    """Span id per job: the submitting span for jobs the client thread
    launched; for a streaming micro-batch's jobs (launched on the stream's
    own thread), the innermost span open when the job started."""
    out = {}
    for j in jobs:
        if j["stream"] is None:
            if j["span"] >= 0:
                out[j["id"]] = j["span"]
            continue
        t = j["start_ms"] * 1_000_000
        best = None
        for s in spans:
            if s["start"] <= t <= s["end"] and (best is None or s["start"] >= best["start"]):
                best = s
        if best is not None:
            out[j["id"]] = best["id"]
    return out


def per_layer(root, result):
    spans = [dict(s, start=s["start_ns"], end=s["end_ns"]) for s in result["spans"]]
    by_id = {s["id"]: s for s in spans}
    jobs = result["jobs"]
    owner = attribute_jobs(spans, jobs)
    mine = [j for j in jobs if j["id"] in owner]
    jobs_by_span = {}
    for j in mine:
        jobs_by_span.setdefault(owner[j["id"]], []).append(
            (j["start_ms"] * 1_000_000, j["end_ms"] * 1_000_000))
    self_t, job_t = stats.self_times(spans, jobs_by_span)

    def root_of(sid):
        while by_id[sid]["parent"] >= 0:
            sid = by_id[sid]["parent"]
        return sid

    roots = [s for s in spans if s["parent"] < 0]
    jobs_by_root = {}
    for j in mine:
        jobs_by_root.setdefault(root_of(owner[j["id"]]), []).append(
            (j["start_ms"] * 1_000_000, j["end_ms"] * 1_000_000))
    active = sum(stats.union_length(jobs_by_root.get(r["id"], []), r["start"], r["end"])
                 for r in roots) / 1e9
    op_wall = sum(r["end"] - r["start"] for r in roots) / 1e9

    def span_sum(name):
        return sum(s["end"] - s["start"] for s in spans if s["name"] == name) / 1e9

    def jsum(field):
        return sum(j[field] for j in mine)

    ops = {o["key"]: o for o in result["ops"]}
    m = {}
    m["spark.jobs"] = (len(mine), "count")
    m["spark.stages"] = (jsum("stages"), "count")
    m["spark.tasks"] = (jsum("tasks"), "count")
    m["spark.job_active_s"] = (active, "s")
    m["spark.driver_gap_s"] = (op_wall - active, "s")
    m["spark.executor_run_s"] = (jsum("run_ms") / 1e3, "s")
    m["spark.executor_cpu_s"] = (jsum("cpu_ns") / 1e9, "s")
    m["spark.gc_s"] = (jsum("gc_ms") / 1e3, "s")
    m["spark.shuffle_write_bytes"] = (jsum("shuffle_write"), "bytes")
    m["spark.shuffle_read_bytes"] = (jsum("shuffle_read"), "bytes")
    m["spark.spill_bytes"] = (jsum("spill"), "bytes")
    m["spark.input_bytes"] = (jsum("input_bytes"), "bytes")
    m["spark.output_bytes"] = (jsum("output_bytes"), "bytes")
    m["spark.failed_tasks"] = (jsum("failed_tasks"), "count")

    build_ids = {s["id"] for s in spans if s["name"] == "queries.build"}
    m["queries.build_s"] = (span_sum("queries.build"), "s")
    m["queries.build_jobs"] = (sum(1 for j in mine if owner[j["id"]] in build_ids), "count")
    m["queries.exec_s"] = (span_sum("queries.exec"), "s")

    def phase(p):
        return sum(o.get("phases", {}).get(p, 0.0) for o in result["ops"])
    m["plans.analysis_s"] = (phase("analysis"), "s")
    m["plans.optimization_s"] = (phase("optimization"), "s")
    m["plans.planning_s"] = (phase("planning"), "s")
    m["plans.graft_rules_s"] = (result["layer"]["graft_rules_s"], "s")

    m["core.cache_scans"] = (sum(o.get("cache_scans", 0) for o in result["ops"]), "count")
    m["core.cached_bytes"] = (result["layer"]["max_cached_bytes"], "bytes")

    for name in ("minhash_pairs", "near_dup_verdicts", "incremental_verdicts",
                 "cosine_topk", "quantized_rescore_topk"):
        o = ops.get(f"op_{name}")
        m[f"operators.{name}_s"] = (o["wall_s"] if o else 0.0, "s")

    fn = ops.get("fn_projection")
    cpu_per_row = 0.0
    if fn and fn.get("out"):
        rows = sum(pq.ParquetFile(f).metadata.num_rows
                   for f in _files(os.path.join(root, fn["out"], "*.parquet")))
        fn_root = next(s["id"] for s in roots if s["op"] == "fn_projection")
        cpu = sum(j["cpu_ns"] for j in mine if root_of(owner[j["id"]]) == fn_root)
        cpu_per_row = cpu / rows if rows else 0.0
    m["functions.cpu_ns_per_row"] = (cpu_per_row, "ns/row")

    m["pipeline.fetch_s"] = (span_sum("pipeline.fetch"), "s")
    m["pipeline.export_upsert_s"] = (span_sum("pipeline.export_upsert"), "s")
    m["pipeline.export_delete_s"] = (span_sum("pipeline.export_delete"), "s")
    m.update(_lake_layout(root, mine))

    batches = result["stream_batches"]

    def dur(b, k):
        return b["duration_ms"].get(k, 0) / 1e3
    for edge, qname in DAG_EDGES.items():
        m[f"streaming.{edge}_s"] = (sum(dur(b, "triggerExecution") for b in batches
                                        if b["query"] == qname), "s")
    m["streaming.trigger_s"] = (sum(dur(b, "triggerExecution") for b in batches), "s")
    m["streaming.add_batch_s"] = (sum(dur(b, "addBatch") for b in batches), "s")
    m["streaming.commit_s"] = (sum(dur(b, "commitOffsets") for b in batches), "s")
    m["streaming.planning_s"] = (sum(dur(b, "queryPlanning") for b in batches), "s")
    last = {}
    for b in batches:
        if b["query"] not in last or b["batch"] >= last[b["query"]]["batch"]:
            last[b["query"]] = b
    m["streaming.state_rows"] = (sum(b["state_rows"] for b in last.values()), "count")
    m["streaming.state_bytes"] = (sum(b["state_bytes"] for b in last.values()), "bytes")
    m["streaming.state_rows_removed"] = (sum(b["state_rows_removed"] for b in batches), "count")

    for layer in SPAN_LAYERS:
        m[f"{layer}.self_s"] = (sum(t for sid, t in self_t.items()
                                    if by_id[sid]["name"].split(".")[0] == layer) / 1e9, "s")
    m["spark.self_s"] = (sum(job_t.values()) / 1e9, "s")
    m["trace.overhead_s"] = (result["layer"]["overhead_s"], "s")
    return m


def _lake_layout(root, jobs):
    """Write amplification and layout of the catalogue lake (0 elsewhere)."""
    zones = os.path.join(root, "zones", "data")
    m = {k: (0.0, u) for k, u in (
        ("pipeline.crop_read_amplification", "ratio"), ("pipeline.clean_rewrite_ratio", "ratio"),
        ("pipeline.lake_files", "count"), ("pipeline.lake_bytes_per_input_byte", "ratio"))}
    clean = _files(os.path.join(zones, "clean", "PnP", "**", "*.parquet"))
    if not clean:
        return m
    pages = _bytes(_files(os.path.join(zones, "interim", "images", "**", "*.jpg")))
    silver = _bytes(_files(os.path.join(zones, "pro", "json", "**", "*.json")))
    crop_in = sum(j["input_bytes"] for j in jobs if j.get("stream_name") == DAG_EDGES["crop"])
    clean_out = sum(j["output_bytes"] for j in jobs if j.get("stream_name") == DAG_EDGES["clean"])
    m["pipeline.crop_read_amplification"] = (crop_in / pages if pages else 0.0, "ratio")
    m["pipeline.clean_rewrite_ratio"] = (clean_out / _bytes(clean), "ratio")
    m["pipeline.lake_files"] = (len(clean), "count")
    m["pipeline.lake_bytes_per_input_byte"] = (_bytes(clean) / silver if silver else 0.0, "ratio")
    return m
