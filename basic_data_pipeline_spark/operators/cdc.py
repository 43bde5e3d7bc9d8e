"""CDC ingestion operators: envelope decode → normalize → validate → apply.

The Spark-first re-expression of the reference consumer's pipeline
(/root/reference/consumer_to_file.py:195-257). The reference is a
row-at-a-time poll loop (one JSON parse + one HTTP insert per message);
here each stage is a declarative DataFrame transform so a micro-batch of
millions of events is one columnar plan, run as one pass per table:

  raw (topic/value)                               [Kafka or any source]
    → decode_envelopes      from_json, payload projection     (S3, P1)
    → route: table column   element_at(split(topic)), prefix  (S1, S4)
    → probe                 ONE collect per batch, grouped by
                            (table, partition): op counts, payload
                            key sets, max upsert offset
    → split by op           c/u/r → upserts, d → deletes      (P2)
    → RecordPlan            built per (table, schema) on first sight
                            or drift, kept on the sink:
                            extract as strings → normalize
                            (P3, §1.2) → validate + cast      (S11)
    → flagged (persisted)   good | DLQ; bad rows counted by an
                            Observation on the good path
    → apply, ONE write      append | compact (window rn=1);
                            deletes cut in the same write     (S7, S10, §2.5)
    → DLQ                   appended when the table write's observed
                            bad-row count is non-zero

Schema lifecycle (S8/S9): the first batch of a table infers its record
schema (spark.read.json over the raw after-JSON = the reference's
first-record inference, consumer_to_file.py:129-153), collapsed to sink
types (decimal→double, container→string, forced-string names, `*_on`
numeric → timestamp). Later batches keep existing column types and extend
with new columns (the DESCRIBE-diff + ALTER ADD COLUMN of :155-168);
storage evolution is parquet mergeSchema — appended files carry the wider
schema, reads merge footers, no table rewrite (O(metadata) at 100 TB).

Divergences from the reference (deliberate, SURVEY.md §7): deletes use the
actual inferred key column (not the hardcoded ``id`` of :241), and the DLQ
probe-retry NameError (:229) is replaced by vectorized validation.
"""

from __future__ import annotations

import os
from collections.abc import Callable, Sequence
from dataclasses import dataclass
from functools import reduce

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window as W

from basic_data_pipeline_spark.functions.normalize import (
    EPOCH_MS_THRESHOLD,
    EPOCH_SUFFIX,
    infer_sink_type,
    normalize_string_value,
    pick_primary_key,
)

# Debezium JSON envelope with converter schemas disabled
# (docker-compose.yml:70-71 → bare {"payload": ...}); before/after kept as
# raw JSON strings so per-table schema inference stays per-batch.
ENVELOPE_SCHEMA = T.StructType(
    [
        T.StructField(
            "payload",
            T.StructType(
                [
                    T.StructField("op", T.StringType()),
                    T.StructField("before", T.StringType()),
                    T.StructField("after", T.StringType()),
                    T.StructField(
                        "source",
                        T.StructType(
                            [
                                T.StructField("ts_ms", T.LongType()),
                                T.StructField("table", T.StringType()),
                            ]
                        ),
                    ),
                    T.StructField("ts_ms", T.LongType()),
                ]
            ),
        )
    ]
)

# Topic-prefix namespace filter (consumer_to_file.py:10 + the Debezium
# topic prefix of register-connector.sh:16).
VALID_PREFIXES = ("config.", "sourcing.", "dbserver1.")

UPSERT_OPS = ("c", "u", "r")
DELETE_OP = "d"

META_COLS = ("table", "op", "source_ts_ms", "ts_ms", "partition", "offset")


def decode_envelopes(
    raw: DataFrame, prefixes: tuple[str, ...] = VALID_PREFIXES
) -> DataFrame:
    """raw(topic,value[,partition,offset]) → one row per valid change event.

    Drops messages without a payload (consumer_to_file.py:208-209) and
    topics outside the namespace (:171-180). `table` is the last dotted
    segment of the topic (:211). Everything is a column expression — the
    JSON parse is Jackson inside codegen, not Python json.loads per row.
    """
    prefix_pred = F.lit(False)
    for p in prefixes:
        prefix_pred = prefix_pred | F.col("topic").startswith(p)

    kafka_meta = [c for c in ("partition", "offset") if c in raw.columns]
    return (
        raw.filter(prefix_pred)
        .withColumn("_env", F.from_json(F.col("value").cast("string"), ENVELOPE_SCHEMA))
        .filter(F.col("_env.payload").isNotNull())
        .select(
            F.element_at(F.split(F.col("topic"), r"\."), -1).alias("table"),
            F.col("_env.payload.op").alias("op"),
            F.col("_env.payload.before").alias("before"),
            F.col("_env.payload.after").alias("after"),
            F.col("_env.payload.source.ts_ms").alias("source_ts_ms"),
            F.col("_env.payload.ts_ms").alias("ts_ms"),
            *[F.col(c) for c in kafka_meta],
        )
    )


INFER_SAMPLE_ROWS = 10_000


def infer_record_schema(spark: SparkSession, json_col_df: DataFrame) -> T.StructType:
    """Infer a record schema from a batch of JSON strings and collapse it
    to sink types — the micro-batch equivalent of first-record inference
    (consumer_to_file.py:115-141), including the `*_on` epoch heuristic.

    The sample is BOUNDED (limit 10k): inference cost must not scale with
    micro-batch size — a 10⁸-row batch at 100 TB would otherwise pay a
    full JSON-inference scan per table per batch. Callers additionally
    skip this entirely on steady-state batches whose JSON key set matches
    the cached schema (see apply_cdc_batch's probe)."""
    sample = (
        json_col_df.filter(F.col("after").isNotNull())
        .select("after")
        .limit(INFER_SAMPLE_ROWS)
        .persist()  # consumed twice (inference + epoch maxima); tiny
    )
    inferred = spark.read.json(sample.rdd.map(lambda r: r[0])).schema
    fields = []
    epoch_candidates = []
    for f in inferred.fields:
        if f.name.startswith("_corrupt"):
            continue
        sink_t = infer_sink_type(f.name, f.dataType)
        if f.name.endswith(EPOCH_SUFFIX) and isinstance(
            sink_t, (T.LongType, T.DoubleType, T.IntegerType)
        ):
            epoch_candidates.append(f.name)
        fields.append(T.StructField(f.name, sink_t, True))
    if epoch_candidates:
        # ensure_table:137-138 applies the timestamp override only when the
        # VALUE exceeds 1e12 — a numeric `count_on`-style column with small
        # values must stay numeric, or small ints become 1970 timestamps.
        maxima = sample.agg(
            *[
                F.max(
                    F.get_json_object(F.col("after"), f"$.{name}").try_cast("double")
                ).alias(name)
                for name in epoch_candidates
            ]
        ).collect()[0]
        epochal = {
            name
            for name in epoch_candidates
            if maxima[name] is not None and maxima[name] > EPOCH_MS_THRESHOLD
        }
        fields = [
            T.StructField(f.name, T.TimestampType(), True)
            if f.name in epochal
            else f
            for f in fields
        ]
    sample.unpersist()
    return T.StructType(fields)


def merge_schemas(existing: T.StructType, batch: T.StructType) -> T.StructType:
    """Existing column types win; new columns append (ALTER ADD COLUMN)."""
    have = {f.name for f in existing.fields}
    return T.StructType(
        list(existing.fields) + [f for f in batch.fields if f.name not in have]
    )


def _record_stages(schema: T.StructType, meta: Sequence[str]) -> list[list[Column]]:
    """Select lists turning upsert events into normalized all-string
    records: decode the after-JSON into all-string columns (values stay
    strings until validation so bad values survive to the DLQ intact),
    then normalize_value per column (consumer_to_file.py:88-113:
    null→'', true/false→1/0, numerics>1e12→//1000, JSON containers and
    other strings pass through).

    Meta columns are re-namespaced to ``_cdc_*`` here: a source table may
    legitimately have columns named op/offset/partition/ts_ms — without
    the prefix those would collide with the CDC bookkeeping columns and
    every downstream reference would be ambiguous."""
    sschema = T.StructType([T.StructField(f.name, T.StringType()) for f in schema.fields])
    rec = F.col("_rec")
    return [
        [
            *[F.col(c).alias(f"_cdc_{c}") for c in meta],
            F.from_json("after", sschema).alias("_rec"),
        ],
        [
            *[F.col(f"_cdc_{c}") for c in meta],
            *[
                normalize_string_value(rec.getField(f.name)).alias(f.name)
                for f in schema.fields
            ],
        ],
    ]


def _typed_value(c: F.Column, dtype: T.DataType) -> F.Column:
    if isinstance(dtype, T.StringType):
        return c
    if isinstance(dtype, T.TimestampType):
        # post-normalize epoch columns hold seconds; also accept ISO text
        return F.coalesce(
            c.try_cast("timestamp"),
            F.timestamp_seconds(c.try_cast("long")),
        )
    return c.try_cast(dtype.simpleString())


@dataclass(frozen=True)
class Validation:
    """The validate step as reusable select lists (see validate_and_cast).
    Unresolved column expressions bind to whichever frame selects them, so
    one Validation serves every batch of the same schema."""

    flag: list[Column]  # records → records + _bad_col (NULL = valid row)
    good: list[Column]  # valid rows → typed sink rows
    dlq: list[Column]  # invalid rows → (table, column, value, error, payload)

    def good_rows(self, flagged: DataFrame) -> DataFrame:
        return flagged.filter(F.col("_bad_col").isNull()).select(*self.good)

    def dlq_rows(self, flagged: DataFrame) -> DataFrame:
        return flagged.filter(F.col("_bad_col").isNotNull()).select(*self.dlq)


def validate_and_cast(
    schema: T.StructType, meta: Sequence[str], table_col: str | None = None
) -> Validation:
    """Build the split of a normalized all-string batch into typed good
    rows and DLQ rows. ``meta`` names the non-record columns carried
    through; ``table_col`` (one of them) names the DLQ rows' table and is
    left out of the good rows.

    The reference pinpoints a bad column by re-inserting the row one column
    at a time against the live sink (consumer_to_file.py:226-235 — N HTTP
    probes per failure, plus the :229 NameError bug). Here the probe is one
    vectorized coalesce over per-column try_cast failures; the DLQ carries
    the same diagnostics (table, column, value, error, payload) as
    structured columns (S11).
    """
    checks = []
    for f in schema.fields:
        if isinstance(f.dataType, T.StringType):
            continue
        c = F.col(f.name)
        bad = c.isNotNull() & (c != "") & _typed_value(c, f.dataType).isNull()
        checks.append(F.when(bad, F.lit(f.name)))
    bad_col = F.coalesce(*checks) if checks else F.lit(None).cast("string")
    fields = [F.col(f.name) for f in schema.fields]
    bad_value = F.coalesce(
        *[
            F.when(F.col("_bad_col") == f.name, F.col(f.name))
            for f in schema.fields
        ]
    ) if schema.fields else F.lit(None).cast("string")
    return Validation(
        flag=[*[F.col(c) for c in meta], *fields, bad_col.alias("_bad_col")],
        good=[
            *[F.col(c) for c in meta if c != table_col],
            *[_typed_value(F.col(f.name), f.dataType).alias(f.name) for f in schema.fields],
        ],
        dlq=[
            F.col(table_col).alias("table") if table_col else F.lit("").alias("table"),
            F.col("_bad_col").alias("column"),
            bad_value.alias("value"),
            F.lit("cast_error").alias("error"),
            F.to_json(F.struct(*fields)).alias("payload"),
        ],
    )


@dataclass(frozen=True)
class RecordPlan:
    """A table's per-batch projections, built once per (schema, event
    columns): on the table's first sight and on drift. Kept on the sink
    next to ``record_schema``, so a steady batch builds no expressions.

    ``stages`` take upsert events to the flagged records (extract →
    normalize → validate flag); ``tombstone`` takes delete events to the
    key plus the version columns the delete cut orders by."""

    schema: T.StructType
    meta: tuple[str, ...]
    stages: list[list[Column]]
    validation: Validation
    tombstone: list[Column]
    ord_cols: list[str]

    def flagged(self, upserts: DataFrame) -> DataFrame:
        return reduce(lambda df, cols: df.select(*cols), self.stages, upserts)


def build_record_plan(
    schema: T.StructType, meta: tuple[str, ...], key: str
) -> RecordPlan:
    validation = validate_and_cast(
        schema, [f"_cdc_{c}" for c in meta], table_col="_cdc_table"
    )
    # delete tombstones: key from `before` (the ACTUAL key column —
    # divergence from the reference's hardcoded `id`, :241), ordered by
    # the same (source_ts_ms, ts_ms, offset) as the data rows so
    # interleaved delete→re-insert sequences resolve correctly.
    del_meta = [c for c in ("source_ts_ms", "ts_ms", "partition", "offset") if c in meta]
    key_type = {f.name: f.dataType for f in schema.fields}[key]
    tombstone = [
        F.lit(DELETE_OP).alias("_cdc_op"),
        *[F.col(c).alias(f"_cdc_{c}") for c in del_meta],
        _typed_value(
            normalize_string_value(F.get_json_object(F.col("before"), f"$.{key}")),
            key_type,
        ).alias(key),
    ]
    return RecordPlan(
        schema=schema,
        meta=meta,
        stages=[*_record_stages(schema, meta), validation.flag],
        validation=validation,
        tombstone=tombstone,
        ord_cols=[f"_cdc_{c}" for c in ("source_ts_ms", "ts_ms", "offset") if c in del_meta],
    )


def _delete_version(ord_cols: Sequence[str]) -> Column:
    """A row's (source_ts_ms, ts_ms, offset) version for the delete cut.

    The cut uses the FULL ordering — source_ts_ms alone is
    millisecond-granular, and a re-insert sharing the delete's timestamp
    must survive (struct comparison is lexicographic). Each component is
    coalesced to -1: a NULL field (e.g. an envelope missing
    source.ts_ms) would make the struct comparison NULL and silently DROP
    a row that postdates the delete; with the sentinel, missing-version
    rows sort before any real version."""
    return F.struct(*[F.coalesce(F.col(c), F.lit(-1)) for c in ord_cols])


def compact_latest(
    records: DataFrame,
    key: str,
    order_cols: list[str] | None = None,
    drop_deleted: bool = True,
) -> DataFrame:
    """Upsert-compaction: latest version per key wins (SURVEY.md §2.5).

    The reference appends every update as a new sink row (plain MergeTree
    never collapses, consumer_to_file.py:214-224); `compact` is the mode a
    consumer actually wants: one row per key = last-write-wins ordered by
    (source_ts_ms, ts_ms, offset). Deletes (op='d') tombstone their key.
    One window = one shuffle on the key, no join; AQE splits skewed keys.
    """
    order_cols = order_cols or [
        c
        for c in (
            "_cdc_source_ts_ms", "_cdc_ts_ms", "_cdc_offset",
            "source_ts_ms", "ts_ms", "offset",
        )
        if c in records.columns
    ]
    w = W.partitionBy(key).orderBy(*[F.desc(c) for c in order_cols])
    latest = (
        records.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    op_col = next((c for c in ("_cdc_op", "op") if c in records.columns), None)
    if drop_deleted and op_col is not None:
        latest = latest.filter(F.col(op_col) != DELETE_OP)
    return latest


def apply_deletes(target: DataFrame, delete_keys: DataFrame, key: str) -> DataFrame:
    """Remove deleted keys: left anti join on the ACTUAL primary-key column
    (fixing consumer_to_file.py:241's hardcoded `WHERE id=`)."""
    return target.join(delete_keys.select(key).distinct(), on=key, how="left_anti")


def evolve_union(existing: DataFrame, batch: DataFrame) -> DataFrame:
    """Schema-drift union: rows from either side, missing columns null —
    the relational form of DESCRIBE-diff + ALTER ADD COLUMN
    (consumer_to_file.py:155-168)."""
    return existing.unionByName(batch, allowMissingColumns=True)


@dataclass
class SinkTable:
    """Parquet-backed sink with auto-create + mergeSchema evolution.

    Mirrors ensure_table/alter_table_if_new_keys (consumer_to_file.py:
    129-168) without DDL round-trips: appended files carry their batch's
    (possibly wider) schema; reads merge footers. The primary key is
    inferred from the first batch (PK_CANDIDATES order, :57,143) like the
    MergeTree ORDER BY; appends sortWithinPartitions(key) so parquet
    row-group stats give key-lookup data-skipping.
    """

    spark: SparkSession
    path: str
    name: str
    key: str | None = None
    record_schema: T.StructType | None = None
    # the batch projections for record_schema (see RecordPlan)
    record_plan: RecordPlan | None = None
    created: bool = False
    # per-Kafka-partition high-water mark of applied offsets (replay
    # dedup); None = unknown, recovered lazily from the sink on restart
    applied_offsets: dict[int, int] | None = None

    def __post_init__(self) -> None:
        # A restarted process starts with a fresh SinkTable but the data
        # directory survives — detect it so evolution/delete/replay logic
        # treats the table as existing, not new.
        if os.path.isdir(self.location):
            self.created = True

    @property
    def location(self) -> str:
        return os.path.join(self.path, self.name)

    def append(self, batch: DataFrame) -> None:
        batch.sortWithinPartitions(self.key).write.mode("append").parquet(self.location)
        self.created = True

    def overwrite(self, full: DataFrame) -> None:
        """Replace contents (compaction / delete rewrite) via the shared
        write-to-temp + rename swap (operators/maintenance.py
        `atomic_overwrite`): the input plan may read this same path, and
        a cache()-then-overwrite is NOT fault-tolerant (a lost cached
        block would recompute from the half-overwritten directory)."""
        from basic_data_pipeline_spark.operators.maintenance import atomic_overwrite

        atomic_overwrite(full, self.location, sort_cols=[self.key])
        self.created = True

    def read(self) -> DataFrame:
        return self.spark.read.option("mergeSchema", "true").parquet(self.location)

    def write_changes(
        self, good: DataFrame | None, last_del: DataFrame | None, ord_cols: list[str]
    ) -> None:
        """Append-mode apply of one batch in ONE write: ``good`` rows are
        appended, and a delete removes every version of its key at-or-before
        it (ALTER TABLE … DELETE semantics, consumer_to_file.py:241-243)
        while later re-inserts survive. ``last_del`` holds one
        ``_del_ver`` per deleted key. With deletes the table is rewritten
        once as (existing ∪ good) minus the cut versions — not appended,
        read back and rewritten."""
        if last_del is None:
            if good is not None:
                self.append(good)
            return
        if self.created:
            full = self.read() if good is None else evolve_union(self.read(), good)
        elif good is not None:
            full = good
        else:
            return  # deletes before any create: nothing to cut
        ver = _delete_version(ord_cols)
        self.overwrite(
            full.join(F.broadcast(last_del), on=self.key, how="left")
            .filter(F.col("_del_ver").isNull() | (ver > F.col("_del_ver")))
            .drop("_del_ver")
        )


def apply_cdc_batch(
    spark: SparkSession,
    raw: DataFrame,
    sink_root: str,
    mode: str = "append",
    sinks: dict[str, SinkTable] | None = None,
    write_dlq: bool = True,
    dedup_replays: bool = False,
    sink_factory: Callable[[str], SinkTable] | None = None,
) -> tuple[dict[str, SinkTable], DataFrame]:
    """One micro-batch end-to-end: decode → per-table schema-sync /
    normalize / validate → apply. Returns (sinks, dlq_df).

    Works on a batch DataFrame directly or inside foreachBatch
    (streaming/ingest.py) — same body either way. `sinks` carries
    per-table state across batches: the foreachBatch analog of the
    reference's `created_tables` set + per-table column cache
    (consumer_to_file.py:58,130).

    A steady batch runs one driver collect (the probe) and one write per
    table, plus the DLQ append when a table had invalid rows.
    """
    sinks = sinks if sinks is not None else {}
    # persisted: the decode runs once, not once per (table × probe/infer/
    # apply) — a large Kafka micro-batch would otherwise re-parse ~5× per
    # routed table
    events = decode_envelopes(raw).persist()
    cols = events.columns
    meta = tuple(c for c in META_COLS if c in cols)

    # ONE aggregated driver round-trip per batch, grouped by (table,
    # partition): per-table upsert/delete counts, the sorted JSON key sets
    # of the upsert payloads, and (replay dedup) the max upsert offset per
    # Kafka partition. The key sets are the schema fingerprint — a
    # steady-state batch whose keys are all already in the cached schema
    # skips JSON inference entirely, so inference runs only on first sight
    # of a table or on actual drift.
    is_upsert = F.col("op").isin(*UPSERT_OPS) & F.col("after").isNotNull()
    by_offset = dedup_replays and {"partition", "offset"} <= set(cols)
    aggs = [
        F.sum(is_upsert.cast("long")).alias("n_upserts"),
        F.sum((F.col("op") == DELETE_OP).cast("long")).alias("n_deletes"),
        F.collect_set(
            F.when(
                is_upsert,
                F.array_join(F.array_sort(F.json_object_keys("after")), ","),
            )
        ).alias("key_sets"),
    ]
    if by_offset:
        aggs.append(F.max(F.when(is_upsert, F.col("offset"))).alias("max_offset"))
    group = ["table", "partition"] if "partition" in cols else ["table"]
    stats: dict[str, dict] = {}
    # replay dedup: this batch's max upsert offset per (table, partition)
    batch_offmax: dict[str, dict[int, int]] = {}
    for r in events.groupBy(*group).agg(*aggs).collect():
        s = stats.setdefault(r["table"], {"n_upserts": 0, "n_deletes": 0, "keys": set()})
        s["n_upserts"] += r["n_upserts"]
        s["n_deletes"] += r["n_deletes"]
        for ks in r["key_sets"]:
            if ks:
                s["keys"].update(ks.split(","))
        if by_offset and r["max_offset"] is not None:
            batch_offmax.setdefault(r["table"], {})[r["partition"]] = r["max_offset"]

    persisted = []
    dlqs = []
    for tbl in sorted(stats):
        sub = events.filter(F.col("table") == tbl)
        upserts = sub.filter(is_upsert)
        if tbl not in sinks:
            sinks[tbl] = (
                sink_factory(tbl)
                if sink_factory is not None
                else SinkTable(spark, sink_root, tbl)
            )
        sink = sinks[tbl]

        has_upserts = stats[tbl]["n_upserts"] > 0
        has_deletes = stats[tbl]["n_deletes"] > 0

        if has_upserts:
            cached = sink.record_schema
            known = {f.name for f in cached.fields} if cached is not None else set()
            if cached is not None and stats[tbl]["keys"] <= known:
                # steady state: every payload key already typed — no
                # inference scan, no extra job
                schema = cached
            else:
                batch_schema = infer_record_schema(spark, upserts)
                schema = (
                    merge_schemas(cached, batch_schema)
                    if cached is not None
                    else batch_schema
                )
            sink.record_schema = schema
        if sink.record_schema is None:
            continue  # deletes before any create: nothing to apply
        schema = sink.record_schema
        if sink.key is None:
            sink.key = pick_primary_key([f.name for f in schema.fields])
        key = sink.key
        plan = sink.record_plan
        if plan is None or plan.schema != schema or plan.meta != meta:
            plan = sink.record_plan = build_record_plan(schema, meta, key)

        good = dlq = observed = None
        if has_upserts:
            # read by the table write and by the DLQ write
            flagged = plan.flagged(upserts).persist()
            persisted.append(flagged)
            dlq = plan.validation.dlq_rows(flagged)
            # the bad-row count rides on the plan the table write runs,
            # so the DLQ decision costs no job of its own
            observed = Observation()
            n_bad = F.sum(F.col("_bad_col").isNotNull().cast("long")).alias("n_bad")
            good = plan.validation.good_rows(flagged.observe(observed, n_bad))
        tombstones = (
            sub.filter(F.col("op") == DELETE_OP).select(*plan.tombstone)
            if has_deletes
            else None
        )

        parts = [p for p in (good, tombstones) if p is not None]
        if not parts:
            # events for an established table that are neither valid
            # upserts nor deletes (op 't'/'m', or upserts with null
            # `after`): nothing to apply — must not crash the micro-batch
            continue

        if mode == "compact":
            merged = reduce(evolve_union, parts)
            if sink.created:
                merged = evolve_union(
                    merged, sink.read().withColumn("_cdc_op", F.lit("r"))
                )
            sink.overwrite(compact_latest(merged, key=key).drop("_cdc_op"))
        else:
            new_wm = None
            if good is not None and by_offset:
                if sink.created and sink.applied_offsets is None:
                    # restart recovery: high-water marks from the sink
                    # itself — a 2-column pruned scan, once per table per
                    # process (steady state never re-reads)
                    sink.applied_offsets = {
                        r["_cdc_partition"]: r["m"]
                        for r in sink.read()
                        .groupBy("_cdc_partition")
                        .agg(F.max("_cdc_offset").alias("m"))
                        .collect()
                    }
                wm = sink.applied_offsets or {}
                batch_parts = batch_offmax.get(tbl, {})
                if batch_parts and all(
                    mx <= wm.get(part, -1) for part, mx in batch_parts.items()
                ):
                    good = None  # fully-replayed epoch: skip the write
                elif wm:
                    wm_map = F.create_map(
                        *[F.lit(x) for kv in wm.items() for x in kv]
                    )
                    seen = wm_map[F.col("_cdc_partition").cast("int")]
                    good = good.filter(
                        seen.isNull() | (F.col("_cdc_offset") > seen)
                    )
                new_wm = dict(wm)
                for part, mx in batch_parts.items():
                    new_wm[part] = max(new_wm.get(part, -1), mx)
            last_del = (
                tombstones.groupBy(key).agg(
                    F.max(_delete_version(plan.ord_cols)).alias("_del_ver")
                )
                if tombstones is not None
                else None
            )
            # one write per table; the parquet sink folds the delete cut
            # into it, a relational sink deletes in place
            sink.write_changes(
                good.drop("_cdc_op") if good is not None else None,
                last_del,
                plan.ord_cols,
            )
            # advance the replay watermark only AFTER the write
            # succeeded: advancing first would make an in-process retry
            # of a failed batch look already-applied and silently drop
            # its rows.
            if new_wm is not None:
                sink.applied_offsets = new_wm

        if dlq is not None:
            # Observation.get blocks until an action ran the observed
            # plan: read it only after a write that ran `good` in full
            # (every write above does); a skipped write (`good` dropped
            # for a fully-replayed epoch) probes the DLQ frame instead
            has_bad = observed.get["n_bad"] if good is not None else dlq.take(1)
            if has_bad:
                dlqs.append(dlq)

    dlq_all = (
        reduce(DataFrame.unionByName, dlqs)
        if dlqs
        else spark.createDataFrame(
            [], "table string, column string, value string, error string, payload string"
        )
    )
    if write_dlq and dlqs:
        dlq_all.write.mode("append").parquet(os.path.join(sink_root, "_dlq"))
    for df in persisted:
        df.unpersist()
    events.unpersist()
    return sinks, dlq_all
