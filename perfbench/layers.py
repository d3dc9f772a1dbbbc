"""Per-layer metrics of one traced pass.

Every workload reports every metric; a layer the workload does not reach
reads 0 and is listed under ``absent`` in the run artifact with the
reason. Which end-to-end metric each group should move:

- routing, ledger, batcher, sinks, pipeline: ``pass_s`` and
  ``light_s`` on ``ingest``; nothing on ``analytics``.
- reader: the ``max_error`` path adds count and checkpoint jobs to CSV
  loads, the slow end of ``ingest`` batch loads.
- stream, op.stream_queries: ``heavy_s`` (the build class) and
  ``light_s`` (the read class) on ``analytics``.
- memo: ``heavy_s`` on ``analytics``.
- op.relational, op.windows_sql, op.batching_sql: ``light_s`` on
  ``analytics``; op.dedup, op.similarity, op.text: its ``heavy_s``.
- spark: jobs and driver_gap_s move ``heavy_s`` wherever jobs are cut.
"""

from __future__ import annotations

import os

import spans

OP_MODULES = (
    "relational",
    "windows_sql",
    "batching_sql",
    "dedup",
    "similarity",
    "text",
    "stream_queries",
)
OP_FIELDS = (
    ("wall_s", "s"),
    ("jobs", "count"),
    ("stages", "count"),
    ("tasks", "count"),
    ("executor_s", "s"),
    ("shuffle_mb", "MB"),
)
SPARK_FIELDS = (
    ("jobs", "count"),
    ("stages", "count"),
    ("tasks", "count"),
    ("tasks_per_stage", "count"),
    ("executor_s", "s"),
    ("utilization", "ratio"),
    ("driver_gap_s", "s"),
    ("shuffle_write_mb", "MB"),
    ("input_mb", "MB"),
)

PER_LAYER: tuple[tuple[str, str], ...] = (
    ("session.start_s", "s"),
    ("session.warm_s", "s"),
    ("routing.calls", "count"),
    ("routing.self_s", "s"),
    ("control.event_p50_us", "us"),
    ("ledger.deliveries", "count"),
    ("ledger.duplicates_dropped", "count"),
    ("ledger.useful_ratio", "ratio"),
    ("batcher.flushes_count", "count"),
    ("batcher.flushes_bytes", "count"),
    ("batcher.flushes_age", "count"),
    ("batcher.files_per_batch", "count"),
    ("reader.calls", "count"),
    ("reader.self_s", "s"),
    ("reader.jobs", "count"),
    ("reader.rows_rejected", "count"),
    ("sinks.fanout_s", "s"),
    ("sinks.parquet_s", "s"),
    ("sinks.jdbc_s", "s"),
    ("sinks.manifest_s", "s"),
    ("sinks.writes", "count"),
    ("sinks.jobs", "count"),
    ("sinks.jobs_per_batch", "count"),
    ("sinks.files_written", "count"),
    ("sinks.bytes_written", "bytes"),
    ("pipeline.load_s", "s"),
    ("pipeline.replay_s", "s"),
    ("pipeline.batches_error", "count"),
    ("pipeline.batches_reprocessed", "count"),
    ("stream.queries", "count"),
    ("stream.triggers", "count"),
    ("stream.input_rows", "count"),
    ("stream.trigger_p50_s", "s"),
    ("stream.trigger_max_s", "s"),
    ("stream.addbatch_s", "s"),
    ("stream.walcommit_s", "s"),
    ("stream.commit_s", "s"),
    ("stream.planning_s", "s"),
    ("stream.latest_offset_s", "s"),
    ("memo.builds", "count"),
    ("memo.hits", "count"),
    ("memo.build_query_s", "s"),
    *((f"op.{m}.{f}", u) for m in OP_MODULES for f, u in OP_FIELDS),
    *((f"spark.{f}", u) for f, u in SPARK_FIELDS),
    ("trace.overhead_s", "s"),
    ("failed_frac", "ratio"),
)
UNITS = dict(PER_LAYER)


class IngestCounters:
    """Counts the traced wrappers record at the layer boundaries."""

    def __init__(self) -> None:
        self.deliveries = 0
        self.claims = 0
        self.flush_kind = {"count": 0, "bytes": 0, "age": 0}
        self.flushed_files: list[int] = []


def instrument_ingest(tracer: spans.Tracer, counters: IngestCounters) -> list:
    """Wrap the public functions the pipeline calls; returns undo
    callables that restore the originals."""
    from aws_lambda_redshift_loader_spark.streaming import pipeline, sinks
    from aws_lambda_redshift_loader_spark.streaming.batcher import Batcher
    from aws_lambda_redshift_loader_spark.streaming.ledger import ProcessedFilesLedger

    def on_claim(span, args, claimed):
        counters.deliveries += 1
        counters.claims += bool(claimed)

    def on_sweep(span, args, batch):
        if batch is None:
            return
        cfg = args[0].config
        if cfg.batch_size and batch.entry_count >= cfg.batch_size:
            kind = "count"
        elif cfg.batch_size_bytes and batch.size >= cfg.batch_size_bytes:
            kind = "bytes"
        else:
            kind = "age"
        counters.flush_kind[kind] += 1
        counters.flushed_files.append(batch.entry_count)

    def on_write(span, args, result):
        span.attrs["jdbc"] = bool(args[1].jdbc_url)

    undo = [
        spans.wrap(tracer, pipeline, "read_files", "reader", spark=True),
        spans.wrap(tracer, pipeline, "fan_out", "sinks.fanout", spark=True),
        spans.wrap(tracer, pipeline, "write_manifest", "sinks.manifest"),
        spans.wrap(tracer, sinks, "write_to_sink", "sinks.write", on_write, spark=True),
        spans.wrap(tracer, pipeline, "resolve_config", "routing"),
        spans.wrap(tracer, pipeline, "filename_filter", "routing"),
        spans.wrap(tracer, pipeline, "transform_hive_style_prefix", "routing"),
        spans.wrap(tracer, Batcher, "add_file", "batcher"),
        spans.wrap(tracer, Batcher, "sweep", "batcher", on_sweep),
        spans.wrap(tracer, ProcessedFilesLedger, "check_and_claim", "ledger", on_claim),
    ]
    return undo


def _span_jobs(sp: spans.Span) -> int:
    return sp.jobs[1] - sp.jobs[0] if sp.jobs else 0


def ingest_layers(tracer: spans.Tracer, counters: IngestCounters, res, land, pass_dir: str) -> dict:
    m: dict[str, float] = {}
    routing = tracer.by_layer("routing")
    m["routing.calls"] = len(routing)
    m["routing.self_s"] = sum(tracer.self_time(i) for i, _ in routing)
    m["ledger.deliveries"] = counters.deliveries
    m["ledger.duplicates_dropped"] = counters.deliveries - counters.claims
    m["ledger.useful_ratio"] = counters.claims / counters.deliveries if counters.deliveries else 0.0
    for kind, n in counters.flush_kind.items():
        m[f"batcher.flushes_{kind}"] = n
    ff = counters.flushed_files
    m["batcher.files_per_batch"] = sum(ff) / len(ff) if ff else 0.0
    reader = tracer.by_layer("reader")
    m["reader.calls"] = len(reader)
    m["reader.self_s"] = sum(tracer.self_time(i) for i, _ in reader)
    m["reader.jobs"] = sum(_span_jobs(s) for _, s in reader)
    # Malformed rows dropped under the budget: lines in the CSV files
    # that loaded, minus rows landed.
    m["reader.rows_rejected"] = land.expect["li_csv"][0] + land.bad_rows - res.landed.get("li_csv", (0, 0))[0]
    fan = tracer.by_layer("sinks.fanout")
    writes = tracer.by_layer("sinks.write")
    m["sinks.fanout_s"] = sum(s.end - s.start for _, s in fan)
    m["sinks.parquet_s"] = sum(s.end - s.start for _, s in writes if not s.attrs.get("jdbc"))
    m["sinks.jdbc_s"] = sum(s.end - s.start for _, s in writes if s.attrs.get("jdbc"))
    m["sinks.manifest_s"] = sum(s.end - s.start for _, s in tracer.by_layer("sinks.manifest"))
    m["sinks.writes"] = len(writes)
    m["sinks.jobs"] = sum(_span_jobs(s) for _, s in fan)
    m["sinks.jobs_per_batch"] = m["sinks.jobs"] / len(fan) if fan else 0.0
    n_files = n_bytes = 0
    for dirpath, _, names in os.walk(os.path.join(pass_dir, "warehouse")):
        for name in names:
            if name.startswith("part-"):
                n_files += 1
                n_bytes += os.path.getsize(os.path.join(dirpath, name))
    m["sinks.files_written"] = n_files
    m["sinks.bytes_written"] = n_bytes
    m["pipeline.load_s"] = res.load_s
    m["pipeline.replay_s"] = res.replay_s
    m["pipeline.batches_error"] = res.batch_errors
    m["pipeline.batches_reprocessed"] = res.census.get("reprocessed", 0)
    return m


def query_layers(tracer: spans.Tracer, harvester: spans.StatusHarvester, records, cores: int, wall_offset: float) -> dict:
    """op.<module> and memo metrics of a traced query pass."""
    m: dict[str, float] = {}
    per_op: dict[str, list[dict]] = {}
    for sp in tracer.spans:
        if sp.layer.startswith("op."):
            per_op.setdefault(sp.layer, []).append(harvester.spark_metrics(sp, cores, wall_offset))
    for mod in OP_MODULES:
        tot = spans.sum_metrics(per_op.get(f"op.{mod}", []))
        m[f"op.{mod}.wall_s"] = tot.get("wall_s", 0.0)
        m[f"op.{mod}.jobs"] = tot.get("jobs", 0)
        m[f"op.{mod}.stages"] = tot.get("stages", 0)
        m[f"op.{mod}.tasks"] = tot.get("tasks", 0)
        m[f"op.{mod}.executor_s"] = tot.get("executor_s", 0.0)
        m[f"op.{mod}.shuffle_mb"] = tot.get("shuffle_write_mb", 0.0)
    events = [e for r in records for e in r.get("memo", [])]
    m["memo.builds"] = sum(e.endswith("_build") for e in events)
    m["memo.hits"] = sum(e.endswith("_hit") for e in events)
    m["memo.build_query_s"] = sum(
        r["s"] for r in records if any(e.endswith("_build") for e in r.get("memo", []))
    )
    return m
