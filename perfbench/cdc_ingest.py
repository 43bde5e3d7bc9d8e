"""cdc_ingest: Debezium micro-batches through the foreachBatch body.

Set-up stages the seeded envelope stream (envelopes.py) as one parquet file
per micro-batch, in the Kafka source's row shape, and applies the first two
batches as the warm-up: the snapshot, then the first tail batch, which
starts with a re-delivery of the snapshot's last events and carries the
``employees`` schema drift, so every run exercises both and checks them.
The timed window then hands the steady tail batches over one at a time, a
closed loop with one producer: each batch goes through
``streaming.ingest.make_cdc_batch_fn`` (append mode, ``dedup_replays=True``,
the body ``ingest_kafka`` runs), then a current-state read runs
``compact_latest`` over ``SinkTable.read()`` for every table and reduces it
to a live-key count and a value hash.

Checked after every batch against the oracle: each table's live-key count
and value hash, the row versions the sink holds (a re-delivered event that
is appended again shows here) and the dead-letter row count.
"""

from __future__ import annotations

import glob
import os
import time

import pyarrow as pa
import pyarrow.parquet as pq

import envelopes
from stats import median, tail

SNAPSHOT_ROWS = 8_000
BATCH_EVENTS = 2_000
TAIL_BATCHES = 4
# batch 1 carries the drift and the re-delivery (envelopes.generate); the
# warm-up applies it with the snapshot, so the timed window holds steady
# batches only
REDELIVER = 400


def _write_batch(path: str, events: list[envelopes.Event]) -> None:
    rows = [e.kafka_row() for e in events]
    pq.write_table(pa.table({
        "topic": [r[0] for r in rows],
        "value": [r[1] for r in rows],
        "partition": pa.array([r[2] for r in rows], pa.int32()),
        "offset": pa.array([r[3] for r in rows], pa.int64()),
    }), path)


def parquet_rows(path: str) -> tuple[int, int]:
    """(rows, files) of a parquet directory, from the footers alone."""
    files = glob.glob(os.path.join(path, "*.parquet"))
    return sum(pq.ParquetFile(f).metadata.num_rows for f in files), len(files)


def current_state(spark, sinks, cols: dict[str, list[str]]) -> dict[str, tuple[int, int]]:
    """The read a consumer of the sink runs after each batch: latest
    version per key, reduced to (live rows, sum of per-row CRC32 over the
    canonical text of ``cols``; see envelopes.render)."""
    from pyspark.sql import functions as F

    from basic_data_pipeline_spark.operators import cdc

    out = {}
    for table, sink in sorted(sinks.items()):
        cur = cdc.compact_latest(sink.read(), key=sink.key)
        types = dict(cur.dtypes)

        def text(c):
            if c not in types:
                return F.lit("")
            v = F.unix_seconds(F.col(c)) if types[c] == "timestamp" else F.col(c)
            return F.coalesce(v.cast("string"), F.lit(""))

        line = F.concat_ws("|", *[text(c) for c in cols[table]])
        r = cur.agg(F.count(F.lit(1)), F.sum(F.crc32(line.cast("binary")))).first()
        out[table] = (r[0], r[1] or 0)
    return out


def run(run) -> dict[str, float]:
    from basic_data_pipeline_spark import registry
    from basic_data_pipeline_spark.streaming import ingest

    import layers

    stream = envelopes.generate(run.seed, SNAPSHOT_ROWS, BATCH_EVENTS, TAIL_BATCHES,
                                REDELIVER)
    staged = os.path.join(run.work, "envelopes")

    def stage_inputs() -> None:
        os.makedirs(staged)
        for i, b in enumerate(stream.batches):
            _write_batch(os.path.join(staged, f"batch-{i:04d}.parquet"), b)

    sink_root = os.path.join(run.work, "sink")
    oracle = envelopes.Oracle()
    state: dict = {}
    samples = {"batch": [], "fresh": [], "events": [], "files": []}

    def one_batch(i: int, timed: bool) -> list[str]:
        spark, tr = run.spark, run.tracer
        df = spark.read.parquet(os.path.join(staged, f"batch-{i:04d}.parquet"))
        oracle.apply(stream.batches[i])
        t0 = time.perf_counter()
        with tr.span("cdc.batch", batch=i, timed=timed):
            state["fn"](df, i)
        t1 = time.perf_counter()
        with tr.span("cdc.fresh_read", batch=i, timed=timed):
            got = current_state(spark, state["sinks"], oracle.cols)
        t2 = time.perf_counter()
        run.layer["caching.persisted_rdds"] = max(
            run.layer.get("caching.persisted_rdds", 0), run.persisted_rdds())
        problems = [f"batch {i} {t}: (rows, hash) {got.get(t)} != {oracle.expected(t)}"
                    for t in envelopes.TABLES if got.get(t) != oracle.expected(t)]
        sizes = {t: parquet_rows(os.path.join(sink_root, t)) for t in envelopes.TABLES}
        extra = sum(sizes[t][0] - oracle.sink_rows(t) for t in envelopes.TABLES)
        if extra:
            problems.append(f"batch {i}: sink holds {extra:+d} row versions vs oracle")
        dlq = parquet_rows(os.path.join(sink_root, "_dlq"))[0]
        if dlq != oracle.dlq_rows:
            problems.append(f"batch {i}: {dlq} DLQ rows, expected {oracle.dlq_rows}")
        if i == 1:
            state["replay_skipped"] = stream.redelivered - max(0, extra)
        if timed:
            samples["batch"].append(t1 - t0)
            samples["fresh"].append(t2 - t0)
            samples["events"].append(len(stream.batches[i]))
            samples["files"].append(sum(f for _, f in sizes.values()) / len(sizes))
        return problems

    def warm_up() -> None:
        registry.queries()
        layers.instrument(run.tracer)
        state["fn"], state["sinks"] = ingest.make_cdc_batch_fn(
            run.spark, sink_root, mode="append", dedup_replays=True)
        run.op("snapshot", lambda: one_batch(0, timed=False))
        run.op("batch 1", lambda: one_batch(1, timed=False))

    setup_s = run.set_up(stage_inputs, warm_up)
    gc0 = run.jvm_gc_s()
    window_start = time.perf_counter()
    i = 2
    while i < len(stream.batches) and time.perf_counter() - window_start < run.seconds:
        run.op(f"batch {i}", lambda i=i: one_batch(i, timed=True))
        i += 1
    if run.traced:
        _layer_metrics(run, samples, state.get("replay_skipped", 0), oracle, gc0)
    return {
        "setup_s": setup_s,
        "class_a_p50_s": median(samples["batch"]),
        "class_b_p50_s": median(samples["fresh"]),
    }


def _layer_metrics(run, samples, replay_skipped, oracle, gc0) -> None:
    tr, L = run.tracer, run.layer
    batches = [s for s in tr.by_name("cdc.batch") if s["timed"]]
    reads = [s for s in tr.by_name("cdc.fresh_read") if s["timed"]]
    n = max(1, len(batches))
    inside = [(s["start"], s["end"]) for s in batches + reads]

    def in_window(name: str) -> list[dict]:
        return [s for s in tr.by_name(name)
                if any(a <= s["start"] and s["end"] <= b for a, b in inside)]

    def total(name: str, key: str | None = None) -> float:
        spans = in_window(name)
        return sum(s["counters"][key] if key else s["end"] - s["start"] for s in spans)

    events = sum(samples["events"]) or 1
    L["cdc.batch_s"] = median(samples["batch"])
    L["trace.class_a_p50_s"] = L["cdc.batch_s"]
    L["cdc.jobs_per_batch"] = sum(s["counters"]["jobs"] for s in batches) / n
    L["cdc.tasks_per_batch"] = sum(s["counters"]["tasks"] for s in batches) / n
    L["cdc.decode_s"] = total("cdc.decode_envelopes") / n
    L["cdc.validate_s"] = total("cdc.validate_and_cast") / n
    infer = tr.by_name("cdc.infer_record_schema")
    L["cdc.infer_s"] = total("cdc.infer_record_schema") / n
    L["cdc.infer_calls"] = len(infer)
    # useful inferences: a table's first sight and each schema drift
    L["cdc.infer_useful_ratio"] = oracle.schema_changes / max(1, len(infer))
    L["cdc.dlq_rows"] = oracle.dlq_rows
    L["cdc.replay_skipped_rows"] = replay_skipped
    L["cdc.fresh_read_s"] = median([s["end"] - s["start"] for s in reads])
    L["cdc.compact_s"] = total("cdc.compact_latest") / n
    L["cdc.freshness_tail_s"], L["cdc.freshness_tail_pct"] = tail(samples["fresh"])
    L["cdc.window_batches"] = len(batches)
    L["sink.append_s"] = total("sink.append") / n
    L["sink.append_bytes"] = total("sink.append", "output_bytes") / n
    L["sink.overwrite_s"] = total("sink.overwrite") / n
    L["sink.rewrite_bytes_per_event"] = total("sink.overwrite", "output_bytes") / events
    L["sink.read_s"] = total("sink.read") / n
    L["sink.files"] = median(samples["files"])
    L["jvm.gc_s"] = run.jvm_gc_s() - gc0
