"""Turn a driver record into the named metrics BENCHMARK.json declares.

End-to-end metrics come from the untraced passes; per-layer metrics from
the traced passes of a `--trace 1` run (spans, listener counters and
final-plan shape counts).  A layer a workload does not exercise reports 0.
"""
import statistics

END_TO_END = [("setup_s", "s"), ("pass_s", "s")]

_COUNTERS = [
    ("spark.jobs", "count", "jobs"), ("spark.stages", "count", "stages"),
    ("spark.tasks", "count", "tasks"),
    ("spark.input_bytes", "B", "input_bytes"),
    ("spark.shuffle_write_bytes", "B", "shuffle_write_bytes"),
    ("spark.shuffle_read_bytes", "B", "shuffle_read_bytes"),
    ("spark.spill_bytes", "B", "spill_bytes"),
    ("spark.cut_bytes", "B", "cut_bytes"),
    ("spark.executor_cpu_s", "s", "executor_cpu_s"),
    ("spark.executor_run_s", "s", "executor_run_s"),
    ("spark.gc_s", "s", "gc_s"),
    ("spark.scheduler_delay_s", "s", "scheduler_delay_s"),
]
_PLAN = [("plan.exchanges", "exchanges"), ("plan.sort_aggregates", "sort_aggregates"),
         ("plan.sort_merge_joins", "sort_merge_joins"),
         ("plan.reused_exchanges", "reused_exchanges")]
# per-op median seconds: metric name -> op name in the driver
_OP_TIMES = {
    "model.chunk_rows_s": "model.chunk_rows",
    "label.labeled_search_s": "label.labeled_search",
    "analytics.q_market_pipeline_s": "q_market_pipeline",
    "graph.q_comention_edges_s": "q_comention_edges",
    "report.q_wrap_truncate_s": "q_wrap_truncate",
    "label.with_cache_s": "label.with_cache",
    "streaming.batch_s": "streaming.batch",
    "sim.search_s": "sim.search",
    "sim.compact_s": "sources.compact",
    "text.q_ngram_jaccard_s": "q_ngram_jaccard",
}
# jobs of one call of an op, its build and action included
_OP_JOBS = {"text.q_ngram_jaccard.jobs": "q_ngram_jaccard"}
PER_LAYER = (
    [(n, u) for n, u, _ in _COUNTERS]
    + [("driver.build_s", "s"), ("driver.action_s", "s")]
    + [(n, "count") for n, _ in _PLAN]
    + [(n, "s") for n in _OP_TIMES]
    + [(n, "count") for n in _OP_JOBS]
    + [("label.classifier_calls", "count"), ("label.cache_hit_ratio", "1"),
       ("label.cache_bytes_written", "B"), ("sim.bytes_written_per_vec", "B"),
       ("sim.lists_files", "count"), ("sim.files_scanned_per_search", "count"),
       ("streaming.checkpoint_bytes", "B"),
       ("ingest.search_ms.p50", "ms"), ("ingest.search_ms.p90", "ms"),
       ("ingest.rows_per_s", "rows/s"), ("ingest.store_bytes_per_row", "B"),
       ("setup.session_s", "s"), ("setup.stores_s", "s"),
       ("setup.warmup_s", "s"), ("jvm.peak_rss_mb", "MB"),
       ("jvm.heap_peak_mb", "MB"),
       ("storage.tmp_bytes_left", "B"), ("trace.pass_s", "s"),
       ("trace.overhead_s", "s")])

# ops that are per-layer probes, outside the workload's op list
_PROBES = {"model.chunk_rows", "label.labeled_search"}


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _quantile(xs, q):
    if len(xs) < 2:
        return xs[0] if xs else 0.0
    return statistics.quantiles(xs, n=100, method="inclusive")[int(q * 100) - 1]


def pass_seconds(samples, passes):
    """Median cost of one pass, op by op: for every op of the list, its
    median call time times its calls per pass."""
    if not passes:
        return 0.0
    by_op = {}
    for s in samples:
        if s["pass"] in passes and s["op"] not in _PROBES:
            by_op.setdefault(s["op"], []).append(s["s"])
    return sum(_median(v) * len(v) / len(passes) for v in by_op.values())


def summarize(workload, rec, trace):
    first = rec["warmup_passes"]
    samples = [s for s in rec["samples"] if s["pass"] >= first]
    untraced = {p["pass"] for p in rec["passes"] if not p["traced"]}
    traced = sorted(p["pass"] for p in rec["passes"] if p["traced"])
    if not trace:
        vals = {"setup_s": rec["setup_s"],
                "pass_s": pass_seconds(samples, untraced)}
        return {n: {"value": vals[n], "unit": u} for n, u in END_TO_END}

    vals = {}
    # counters, plan counts and driver times cover the op list only: the
    # per-layer probes of a traced pass report under their own names
    fixed = set(traced)
    op_name = {}  # op call id -> op name (its first, outermost span)
    for sp in sorted(rec["spans"], key=lambda s: s["id"]):
        op_name.setdefault(sp["op"], sp["name"])
    in_pass = [sp for sp in rec["spans"]
               if sp["pass"] in fixed and sp["name"] != "pass"]
    in_ops = [sp for sp in in_pass if op_name[sp["op"]] not in _PROBES]
    for name, _, key in _COUNTERS:
        vals[name] = sum(sp[key] for sp in in_ops) / max(len(fixed), 1)
    for name, op in _OP_JOBS.items():
        calls = sum(1 for s in samples if s["pass"] in fixed and s["op"] == op)
        jobs = sum(sp["jobs"] for sp in in_pass if op_name[sp["op"]] == op)
        vals[name] = jobs / calls if calls else 0.0
    tr = [s for s in samples if s["pass"] in fixed]
    tr_ops = [s for s in tr if s["op"] not in _PROBES]
    for name, key in _PLAN:
        vals[name] = sum(s[key] for s in tr_ops) / max(len(fixed), 1)
    vals["driver.build_s"] = sum(s["build_s"] for s in tr_ops) / max(len(fixed), 1)
    vals["driver.action_s"] = sum(s["action_s"] for s in tr_ops) / max(len(fixed), 1)
    for name, op in _OP_TIMES.items():
        vals[name] = _median([s["s"] for s in tr if s["op"] == op])

    if workload == "ingest_rw":
        ex = rec["extra"]
        rounds = [dict(r, **m) for r, m in zip(ex["rounds"], ex["manifest"])
                  if r["round"] >= first]
        calls = sum(r["classifier_calls"] for r in rounds)
        lookups = sum(r["unique_pairs"] for r in rounds)
        vals["label.classifier_calls"] = sum(
            r["classifier_calls"] for r in rounds if r["round"] in fixed) / len(fixed)
        vals["label.cache_hit_ratio"] = 1.0 - calls / lookups if lookups else 0.0
        vals["label.cache_bytes_written"] = sum(
            r["cache_bytes_delta"] for r in rounds if r["round"] in fixed) / len(fixed)
        new = sum(r["new_vectors"] for r in rounds if r["round"] in fixed)
        vals["sim.bytes_written_per_vec"] = sum(
            r["append_bytes"] for r in rounds if r["round"] in fixed) / new
        vals["sim.lists_files"] = ex["rounds"][-1]["lists_files"]
        scanned = [s["files_scanned"] for s in ex["searches"] if s["round"] in fixed]
        vals["sim.files_scanned_per_search"] = sum(scanned) / max(len(scanned), 1)
        vals["streaming.checkpoint_bytes"] = ex["rounds"][-1]["checkpoint_bytes"]
        search_ms = [s["s"] * 1e3 for s in samples if s["op"] == "sim.search"]
        vals["ingest.search_ms.p50"] = _median(search_ms)
        vals["ingest.search_ms.p90"] = _quantile(search_ms, 0.9)
        ingest_s = sum(s["s"] for s in samples
                       if s["op"] in ("label.with_cache", "streaming.batch"))
        vals["ingest.rows_per_s"] = (
            sum(r["new_vectors"] for r in rounds) / ingest_s if ingest_s else 0.0)
        live = ex["manifest"][-1]["max_vec_id"] + 1 + ex["label_cache_rows"]
        vals["ingest.store_bytes_per_row"] = (
            (ex["lists_bytes"] + ex["label_cache_bytes"]) / live if live else 0.0)
    vals["setup.session_s"] = rec["setup"]["session_s"]
    vals["setup.stores_s"] = rec["setup"]["stores_s"]
    vals["setup.warmup_s"] = rec["setup"]["warmup_s"]
    vals["jvm.peak_rss_mb"] = rec["peak_rss_mb"]
    vals["jvm.heap_peak_mb"] = rec["heap_peak_mb"]
    vals["storage.tmp_bytes_left"] = rec["storage_tmp_bytes_left"]
    vals["trace.pass_s"] = pass_seconds(samples, set(traced))
    vals["trace.overhead_s"] = vals["trace.pass_s"] - pass_seconds(samples, untraced)
    return {n: {"value": vals.get(n, 0.0), "unit": u} for n, u in PER_LAYER}
