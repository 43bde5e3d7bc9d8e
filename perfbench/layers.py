"""The engine's layers as the traced run sees them.

:func:`instrument` wraps the public entry points of each layer of
``basic_data_pipeline_spark`` in spans (see spans.py). Both workloads
install every wrapper, so a layer a workload does not use reads zero.
:data:`PER_LAYER` lists the per-layer metrics a traced run reports, with
their units; perfbench/README.md says which end-to-end metric each should
move and on which workload.

Lazy calls only build plans. Their span (``cdc.decode_envelopes``,
``cdc.validate_and_cast``, ``cdc.compact_latest``, ``sink.read``) measures
construction; the engine work lands in the span whose call runs the
action: ``sink.append`` / ``sink.overwrite`` and the batch body's own
collects for ingest, ``cdc.fresh_read`` for the current-state read, and
``exec.<class>`` for a registry query.
"""

from __future__ import annotations

import inspect

EXEC = ("wall_s", "jobs", "tasks", "shuffle_bytes", "spill_bytes", "gc_s", "busy_ratio")

PER_LAYER: dict[str, str] = {
    "session.start_s": "s",
    "peak_rss_mb": "MB",
    "jvm.gc_s": "s",
    "caching.persisted_rdds": "count",
    "trace.overhead_s": "s",
    "trace.class_a_p50_s": "s",
    "error_rate": "ratio",
    # analytics_mix
    "catalog.load_s": "s",
    "catalog.input_bytes": "bytes",
    "queries.construct_s": "s",
    "queries.construct_jobs": "count",
    **{f"exec.{cls}.{m}": {"wall_s": "s", "gc_s": "s", "busy_ratio": "ratio",
                           "shuffle_bytes": "bytes", "spill_bytes": "bytes"}.get(m, "count")
       for cls in ("sql", "search") for m in EXEC},
    "similarity.s": "s",
    "similarity.calls": "count",
    # cdc_ingest
    "cdc.batch_s": "s",
    "cdc.jobs_per_batch": "count",
    "cdc.tasks_per_batch": "count",
    "cdc.decode_s": "s",
    "cdc.validate_s": "s",
    "cdc.infer_s": "s",
    "cdc.infer_calls": "count",
    "cdc.infer_useful_ratio": "ratio",
    "cdc.dlq_rows": "count",
    "cdc.replay_skipped_rows": "count",
    "cdc.fresh_read_s": "s",
    "cdc.compact_s": "s",
    "cdc.freshness_tail_s": "s",
    "cdc.freshness_tail_pct": "pct",
    "cdc.window_batches": "count",
    "sink.append_s": "s",
    "sink.append_bytes": "bytes",
    "sink.overwrite_s": "s",
    "sink.rewrite_bytes_per_event": "bytes",
    "sink.read_s": "s",
    "sink.files": "count",
}


def _public_functions(module):
    return [n for n, f in vars(module).items()
            if inspect.isfunction(f) and f.__module__ == module.__name__
            and not n.startswith("_")]


def instrument(tracer) -> None:
    """Wrap every traced entry point; a no-op when tracing is off."""
    if not tracer.enabled:
        return
    from basic_data_pipeline_spark import catalog
    from basic_data_pipeline_spark.operators import cdc, maintenance, retrieval, similarity
    from basic_data_pipeline_spark.streaming import ingest

    tracer.wrap_function(catalog, "load_table", "catalog.load_table")
    tracer.wrap_function(ingest, "apply_cdc_batch", "cdc.apply_cdc_batch")
    for name in ("decode_envelopes", "infer_record_schema", "validate_and_cast",
                 "compact_latest"):
        tracer.wrap_function(cdc, name, f"cdc.{name}")
    for name in ("append", "overwrite", "read"):
        tracer.wrap_method(cdc.SinkTable, name, f"sink.{name}")
    tracer.wrap_function(maintenance, "atomic_overwrite", "sink.atomic_overwrite")
    for mod in (similarity, retrieval):
        for name in _public_functions(mod):
            tracer.wrap_function(mod, name, f"similarity.{mod.__name__.rsplit('.', 1)[-1]}.{name}")
