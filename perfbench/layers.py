"""Per-layer metrics of a traced run, derived from its spans.

Spans (one JSON object a line) are the client's call spans (`parent` 0,
named `<layer>.<op>`), pipeline stage spans (parent = their pipeline
call) and `spark.job` spans (parent = the call or stage whose thread
submitted the job). A metric is named `<layer>.<op>.<counter>`; counts
and bytes are means per call, times are medians per call.
"""

import json

import stats

ORDERS_STAGES = ["ingest_orders", "validate_orders", "profile_orders",
                 "enrich_customers", "segment_revenue"]
CORPUS_STAGES = [
    "ingest_documents", "pii_scrub", "annotate_quality", "exact_dedup",
    "near_dedup", "quality_gate", "classifier_annotate", "lm_gate",
    "bpe_tokenize", "phrase_corpus", "split_assign", "chunk_documents",
    "pack_shards", "curriculum_order", "holdout_sample",
    "train_decontaminated", "term_index", "fingerprint_store", "corpus_stats"]

JOB = ["jobs", "stages", "tasks", "executor_run_s", "driver_gap_s", "shuffle_bytes"]
WRITE = ["wall_s"] + JOB + ["files_added", "bytes_rewritten", "manifest_bytes"]
READ = ["wall_s", "jobs", "plan_s", "exec_s", "files_read_ratio", "rows_scanned_per_row"]

UNITS = {"s": "s", "wall_s": "s", "executor_run_s": "s", "driver_gap_s": "s",
         "plan_s": "s", "exec_s": "s", "noop_action_s": "s",
         "jobs": "count", "stages": "count", "tasks": "count",
         "files_added": "count", "shuffle_bytes": "bytes",
         "bytes_rewritten": "bytes", "manifest_bytes": "bytes",
         "files_read_ratio": "ratio", "rows_scanned_per_row": "ratio",
         "stored_bytes_per_live_byte": "ratio", "overhead_ratio": "ratio"}


def catalog():
    """Every per-layer metric, in BENCHMARK.json's order: (name, unit)."""
    names = ["spark.noop_action_s", "trace.op_p50.overhead_ratio",
             "sources.table.stored_bytes_per_live_byte"]
    names += [f"runner.orders_job.{c}" for c in ["s"] + JOB]
    names += [f"runner.{s}.{c}" for s in ORDERS_STAGES for c in ("s", "jobs")]
    names += [f"operators.corpus_prep.{c}" for c in ["s"] + JOB]
    names += [f"operators.{s}.{c}" for s in CORPUS_STAGES for c in ("s", "jobs")]
    names += [f"sources.{op}.{c}" for op in ("upsert", "merge", "delete")
              for c in WRITE]
    names += [f"sources.compact.{c}" for c in ("wall_s", "jobs", "executor_run_s",
                                               "bytes_rewritten")]
    names += ["sources.vacuum.wall_s"]
    names += [f"streaming.replicate.{c}" for c in ("wall_s", "jobs", "driver_gap_s")]
    names += [f"sources.{op}.{c}" for op in ("range_read", "point_read", "snapshot_read")
              for c in READ]
    names += [f"plans.agg_read.{c}" for c in READ]
    return [(n, UNITS[n.rsplit(".", 1)[1]]) for n in names]


def load_spans(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def per_call(spans):
    """{span name: [per-call counters]} for call and stage spans."""
    jobs_of = {}
    for s in spans:
        if s["name"] == "spark.job":
            jobs_of.setdefault(s["parent"], []).append(s)
    children = {}
    for s in spans:
        if s["name"] != "spark.job" and s["parent"]:
            children.setdefault(s["parent"], []).append(s)

    def jobs_under(s):
        js = list(jobs_of.get(s["id"], []))
        for c in children.get(s["id"], []):
            js += jobs_under(c)
        return js

    out = {}
    for s in spans:
        if s["name"] == "spark.job":
            continue
        js = jobs_under(s)
        wall = (s["end"] - s["start"]) / 1000.0
        gap = stats.self_time(s["start"], s["end"], [(j["start"], j["end"]) for j in js]) / 1000.0
        row = {"wall_s": wall, "s": wall, "jobs": len(js), "driver_gap_s": gap}
        for k in ("stages", "tasks", "executor_run_s", "shuffle_bytes", "input_records"):
            row[k] = sum(j["attrs"].get(k, 0.0) for j in js)
        a = s["attrs"]
        for k in ("files_added", "bytes_rewritten", "manifest_bytes", "plan_s"):
            if k in a:
                row[k] = a[k]
        if "plan_s" in a:
            row["exec_s"] = wall - a["plan_s"]
        if a.get("table_files"):
            row["files_read_ratio"] = a["files_read"] / a["table_files"]
        if a.get("rows_returned"):
            row["rows_scanned_per_row"] = row["input_records"] / a["rows_returned"]
        out.setdefault(s["name"], []).append(row)
    return out


def aggregate(rows, counter):
    vals = [r[counter] for r in rows if counter in r]
    if not vals:
        return 0.0
    if UNITS[counter] == "s":
        return stats.median(vals)
    return sum(vals) / len(vals)


def metrics(rec, spans_path, op_p50):
    calls = per_call(load_spans(spans_path))
    got = {}
    for name, unit in catalog():
        layer_op, counter = name.rsplit(".", 1)
        got[name] = (aggregate(calls.get(layer_op, []), counter), unit)
    got["spark.noop_action_s"] = (stats.median(rec["noop_s"]), "s")
    # the traced pass against the mean of its untraced neighbours
    untraced = stats.mean([op_p50(rec["workload"], p) for p in rec["untraced_passes"]])
    got["trace.op_p50.overhead_ratio"] = (op_p50(rec["workload"], rec["calls"]) / untraced - 1.0,
                                          "ratio")
    got["sources.table.stored_bytes_per_live_byte"] = (
        rec["extra"].get("stored_bytes_per_live_byte", 0.0), "ratio")
    return got
