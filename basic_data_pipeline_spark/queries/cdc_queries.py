"""CDC/ingestion operators exposed as oracle-checked batch queries
(SURVEY.md §2.1, §2.9).

Each query drives a REAL operator from operators/cdc.py or
functions/normalize.py over the driver's fixture tables, with a DuckDB
oracle reproducing the semantics in ANSI SQL — so the correctness gate
covers the ingestion layer, not just the relational surface. The scenario
tests (tests/test_cdc.py) cover the stateful end-to-end paths (schema
drift across batches, DLQ files, replay) that a single DataFrame can't
express.

Reference lineage: envelope decode = consumer_to_file.py:205-215,
normalize = :88-113, upsert-compaction replaces the append-every-version
sink of :214-224, delete-apply = :237-246 (fixed to use the real key).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from basic_data_pipeline_spark.catalog import load_table
from basic_data_pipeline_spark.functions.normalize import normalize_string_value
from basic_data_pipeline_spark.operators import cdc
from basic_data_pipeline_spark.partitioning import spread
from basic_data_pipeline_spark.registry import query


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return load_table(spark, sf_dir, name)


@query(
    "cdc_envelope_decode",
    oracle="""
    SELECT 'orders' AS tbl, 'c' AS op, o_orderkey,
           epoch_ms(o_orderdate) AS source_ts_ms
    FROM orders
    """,
)
def cdc_envelope_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Debezium-envelope round-trip: wrap every orders row in the exact
    envelope shape the reference consumes ({"payload": {op, before, after,
    source, ts_ms}} — consumer_to_file.py:206-215), then run the real
    decoder. The oracle is the identity projection, proving the
    encode→from_json→project path is lossless. The JSON parse is Jackson
    inside whole-stage codegen — no Python per row."""
    # spread: the byte-small scan plans 1 partition, which ran the whole
    # encode→Jackson-parse round trip on ONE core (r11: 2.4 s → 0.9 s at
    # sf0.1; partitioning.spread's documented case — compute per row,
    # which size-based split planning cannot see)
    o = spread(_t(spark, sf_dir, "orders"), "o_orderkey")
    ts_ms = F.unix_millis(F.col("o_orderdate").cast("timestamp"))
    raw = o.select(
        F.lit("dbserver1.testdb.orders").alias("topic"),
        F.to_json(
            F.struct(
                F.struct(
                    F.lit("c").alias("op"),
                    F.lit(None).cast("string").alias("before"),
                    F.to_json(F.struct(F.col("o_orderkey"))).alias("after"),
                    F.struct(
                        ts_ms.alias("ts_ms"), F.lit("orders").alias("table")
                    ).alias("source"),
                    (ts_ms + 123).alias("ts_ms"),
                ).alias("payload")
            )
        ).alias("value"),
    )
    decoded = cdc.decode_envelopes(raw)
    return decoded.select(
        F.col("table").alias("tbl"),
        "op",
        F.get_json_object("after", "$.o_orderkey").cast("long").alias("o_orderkey"),
        "source_ts_ms",
    )


@query(
    "cdc_compact_latest",
    oracle="""
    SELECT event_id, ts, user_id, event_type, value, props
    FROM (
      SELECT *, row_number() OVER (PARTITION BY user_id
                                   ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1
    """,
    headline=True,
)
def cdc_compact_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upsert-compaction: latest version per key (events keyed by user_id,
    versioned by ts then event_id). This is the `compact` sink mode —
    the idiomatic replacement for the reference's append-every-version
    MergeTree sink (consumer_to_file.py:214-224). One window = one
    shuffle on the key; at 100 TB AQE splits skewed keys."""
    e = _t(spark, sf_dir, "events")
    out = cdc.compact_latest(e, key="user_id", order_cols=["ts", "event_id"])
    return out.select("event_id", "ts", "user_id", "event_type", "value", "props")


@query(
    "cdc_delete_apply",
    oracle="""
    WITH da AS (
      SELECT event_id, user_id, event_type
      FROM events
      WHERE user_id NOT IN (SELECT user_id FROM events
                            WHERE event_type = 'error' AND value > 90)),
    ch AS (
      SELECT user_id, event_type, value, event_id AS vts,
             CASE WHEN event_type = 'error' THEN 'd' ELSE 'u' END AS op
      FROM events),
    v AS (
      SELECT user_id, event_type, value, vts, op,
             lead(vts) OVER (PARTITION BY user_id ORDER BY vts) AS next_vts
      FROM ch)
    SELECT 'delete_apply' AS branch, event_id, user_id, event_type,
           CAST(NULL AS DOUBLE) AS value, CAST(NULL AS BIGINT) AS valid_from,
           CAST(NULL AS BIGINT) AS valid_to, CAST(NULL AS INT) AS is_current
    FROM da
    UNION ALL
    SELECT 'scd2', CAST(NULL AS BIGINT), user_id, event_type, value,
           vts, next_vts, CAST(next_vts IS NULL AS INT)
    FROM v WHERE op <> 'd'
    """,
)
def cdc_delete_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tag-union of the two CDC delete-semantics operators over the same
    change stream (events keyed by user_id):

    `delete_apply` branch — latest-state deletion as a left anti join on
    the real key column (the fix for consumer_to_file.py:241's hardcoded
    `WHERE id=`): tombstone keys = users with an error event. The anti
    join broadcasts when the tombstone side is small (typical for a CDC
    batch), else shuffles once.

    `scd2` branch — the HISTORY the same stream produces under SCD Type 2
    maintenance (operators/scd.py): events become per-key changes
    versioned by event_id (unique, so the fold is a deterministic total
    order per key), error events are deletes. Every non-delete change is
    a history row [valid_from, valid_to) closed by the key's next change;
    deletes close intervals and emit nothing — the oracle replays the
    window arithmetic exactly. Incremental == one-shot associativity and
    the same-ts delete tie-break stay pinned in tests/test_scd.py."""
    from basic_data_pipeline_spark.operators.scd import scd2_apply

    e = _t(spark, sf_dir, "events")
    # Tombstones are HIGH-SEVERITY errors only (value > 90): with the
    # fixture's uniform event mix every user has SOME error event, so an
    # unqualified tombstone set empties the delete_apply arm at every
    # sf — a vacuously-green oracle arm, the exact class the r9 bm25
    # finding exposed (caught by the r10 per-arm nonemptiness audit).
    tombstones = e.filter(
        (F.col("event_type") == "error") & (F.col("value") > 90)
    )
    da = cdc.apply_deletes(e, tombstones, "user_id").select(
        F.lit("delete_apply").alias("branch"),
        "event_id",
        "user_id",
        "event_type",
        F.lit(None).cast("double").alias("value"),
        F.lit(None).cast("long").alias("valid_from"),
        F.lit(None).cast("long").alias("valid_to"),
        F.lit(None).cast("int").alias("is_current"),
    )
    ch = e.select(
        "user_id",
        "event_type",
        "value",
        F.col("event_id").alias("vts"),
        F.when(F.col("event_type") == "error", F.lit("d"))
        .otherwise(F.lit("u"))
        .alias("op"),
    )
    hist = scd2_apply(None, ch, ["user_id"], ts_col="vts", op_col="op")
    scd = hist.select(
        F.lit("scd2").alias("branch"),
        F.lit(None).cast("long").alias("event_id"),
        "user_id",
        "event_type",
        "value",
        "valid_from",
        "valid_to",
        F.col("is_current").cast("int").alias("is_current"),
    )
    return da.unionByName(scd)


@query(
    "cdc_normalize_values",
    oracle="""
    SELECT event_id,
           CASE WHEN event_type = 'error' THEN '' ELSE event_type END AS v_null,
           CASE WHEN value > 50 THEN '1' ELSE '0' END                 AS v_bool,
           CAST(epoch_ms(CAST(ts AS TIMESTAMP)) // 1000 AS VARCHAR)   AS v_epoch,
           props                                                      AS v_json
    FROM events
    """,
)
def cdc_normalize_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """normalize_value as pure column expressions (consumer_to_file.py:
    88-113) over string columns derived from events: nulls erase to '',
    booleans become 1/0, epoch-millis beyond 1e12 integer-divide to
    seconds, JSON container strings pass through untouched. The reference
    runs this row-at-a-time in Python per message; here it is one
    codegen'd projection."""
    e = _t(spark, sf_dir, "events")
    derived = e.select(
        "event_id",
        F.when(F.col("event_type") == "error", F.lit(None).cast("string"))
        .otherwise(F.col("event_type"))
        .alias("v_null"),
        (F.col("value") > 50).cast("string").alias("v_bool"),
        F.unix_millis(F.col("ts")).cast("string").alias("v_epoch"),
        F.col("props").alias("v_json"),
    )
    return derived.select(
        "event_id",
        *[
            normalize_string_value(F.col(c)).alias(c)
            for c in ("v_null", "v_bool", "v_epoch", "v_json")
        ],
    )


@query(
    "cdc_schema_drift_union",
    oracle="""
    WITH snap_old AS (
      SELECT c_custkey, c_name, c_acctbal FROM customer
      WHERE c_custkey % 7 <> 0),
    snap_new AS (
      SELECT c_custkey, c_name,
             CASE WHEN c_custkey % 11 = 0 THEN c_acctbal + 100
                  ELSE c_acctbal END AS c_acctbal
      FROM customer WHERE c_custkey % 5 <> 0),
    d AS (
      SELECT coalesce(o.c_custkey, n.c_custkey) AS id,
             CASE WHEN o.c_custkey IS NULL THEN 'added'
                  WHEN n.c_custkey IS NULL THEN 'removed'
                  WHEN NOT (o.c_name IS NOT DISTINCT FROM n.c_name
                            AND o.c_acctbal IS NOT DISTINCT FROM n.c_acctbal)
                    THEN 'changed'
             END AS op
      FROM snap_old o FULL JOIN snap_new n ON o.c_custkey = n.c_custkey)
    SELECT 'evolve' AS kind, c_custkey AS id, c_name AS name,
           c_mktsegment AS position, c_acctbal AS salary,
           CAST(NULL AS VARCHAR) AS role
    FROM customer WHERE c_custkey % 2 = 0
    UNION ALL
    SELECT 'evolve', c_custkey, c_name, CAST(NULL AS VARCHAR),
           CAST(NULL AS DOUBLE), c_mktsegment
    FROM customer WHERE c_custkey % 2 = 1
    UNION ALL
    SELECT 'diff', id, op, CAST(NULL AS VARCHAR), CAST(NULL AS DOUBLE),
           CAST(NULL AS VARCHAR)
    FROM d WHERE op IS NOT NULL
    """,
)
def cdc_schema_drift_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution + snapshot diff, tag-unioned (one
    schema/versioning registry slot, two branches):

    `evolve` — schema-drift union: pre-drift rows (position/salary) and
    drifted rows (role — the setup.sh:59-66 variant) merge via
    unionByName(allowMissingColumns=True) — the relational form of
    DESCRIBE-diff + ALTER ADD COLUMN (consumer_to_file.py:155-168).
    Missing cells surface as nulls; no table rewrite at any scale.

    `diff` — operators/quality.py table_diff: row-level added/removed/
    changed between two synthetic customer snapshots (drop every 7th key,
    drop every 5th, bump every 11th balance) via one full outer join on
    the key and a null-safe narrow row hash; the oracle re-derives the
    same verdicts with direct IS NOT DISTINCT FROM comparisons, proving
    the hash-compare path loses nothing."""
    from basic_data_pipeline_spark.operators import quality as Q

    c = _t(spark, sf_dir, "customer")
    pre = c.filter(F.col("c_custkey") % 2 == 0).select(
        F.col("c_custkey").alias("id"),
        F.col("c_name").alias("name"),
        F.col("c_mktsegment").alias("position"),
        F.col("c_acctbal").alias("salary"),
    )
    drifted = c.filter(F.col("c_custkey") % 2 == 1).select(
        F.col("c_custkey").alias("id"),
        F.col("c_name").alias("name"),
        F.col("c_mktsegment").alias("role"),
    )
    evolve = cdc.evolve_union(pre, drifted).select(
        F.lit("evolve").alias("kind"), "id", "name", "position", "salary",
        "role",
    )

    narrow = c.select("c_custkey", "c_name", "c_acctbal")
    snap_old = narrow.filter(F.col("c_custkey") % 7 != 0)
    snap_new = narrow.filter(F.col("c_custkey") % 5 != 0).withColumn(
        "c_acctbal",
        F.when(
            F.col("c_custkey") % 11 == 0, F.col("c_acctbal") + 100
        ).otherwise(F.col("c_acctbal")),
    )
    diff = Q.table_diff(snap_old, snap_new, ["c_custkey"]).select(
        F.lit("diff").alias("kind"),
        F.col("c_custkey").alias("id"),
        F.col("op").alias("name"),
        F.lit(None).cast("string").alias("position"),
        F.lit(None).cast("double").alias("salary"),
        F.lit(None).cast("string").alias("role"),
    )
    return evolve.unionByName(diff)


_PROFILE_COLS = ("doc_id", "lang", "source", "n_chars")

_DUCK_PROFILE = "\nUNION ALL\n".join(
    f"""
    SELECT 'profile', 'documents', '{c}', 'n_rows',
           CAST(count(*) AS VARCHAR), CAST(NULL AS VARCHAR) FROM documents
    UNION ALL
    SELECT 'profile', 'documents', '{c}', 'n_null',
           CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS VARCHAR),
           NULL FROM documents
    UNION ALL
    SELECT 'profile', 'documents', '{c}', 'n_distinct',
           CAST(count(DISTINCT {c}) AS VARCHAR), NULL FROM documents
    UNION ALL
    SELECT 'profile', 'documents', '{c}', 'min',
           CAST(min({c}) AS VARCHAR), NULL FROM documents
    UNION ALL
    SELECT 'profile', 'documents', '{c}', 'max',
           CAST(max({c}) AS VARCHAR), NULL FROM documents
    """
    for c in _PROFILE_COLS
)

# (name, duckdb aggregate for n_pass, duckdb "passed" template over {p}/{n})
_DUCK_CHECKS = (
    ("not_null_text", "count(text)", "{p} = {n}"),
    ("pk_unique", "count(DISTINCT doc_id)", "{p} = {n}"),
    ("chars_range", "sum(CASE WHEN n_chars BETWEEN 1 AND 1000000"
     " THEN 1 ELSE 0 END)", "{p} = {n}"),
    ("lang_known", "sum(CASE WHEN lang IN ('de','en','es','fr','zh')"
     " THEN 1 ELSE 0 END)", "{p} = {n}"),
    ("lang_xx", "sum(CASE WHEN lang = 'xx' THEN 1 ELSE 0 END)", "{p} = {n}"),
    ("half_long", "sum(CASE WHEN n_chars >= 200 THEN 1 ELSE 0 END)",
     "{p} >= 0.5 * {n}"),
)

_DUCK_CHECK_SQL = "\nUNION ALL\n".join(
    f"""
    SELECT 'check', 'documents', '{name}', 'n_pass',
           CAST(({agg}) AS VARCHAR), CAST(NULL AS VARCHAR) FROM documents
    UNION ALL
    SELECT 'check', 'documents', '{name}', 'passed',
           CAST(({verdict.format(p=f'({agg})', n='count(*)')})
                AS VARCHAR), NULL
    FROM documents
    """
    for name, agg, verdict in _DUCK_CHECKS
)


@query(
    "cdc_validate_dlq",
    oracle=f"""
    SELECT 'dlq' AS kind,
           'documents' AS "table",
           'n_chars'   AS "column",
           'cast_error' AS metric,
           'poison'    AS "value",
           '{{"doc_id":"' || CAST(doc_id AS VARCHAR) || '","n_chars":"poison"}}'
             AS payload
    FROM documents WHERE doc_id % 50 = 0
    UNION ALL
    {_DUCK_PROFILE}
    UNION ALL
    {_DUCK_CHECK_SQL}
    """,
)
def cdc_validate_dlq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row validation + table-level data quality, tag-unioned (merges the
    r1 DLQ row with round 6's Deequ-style quality surface — one
    validation-themed registry slot, three branches):

    `dlq` — vectorized validation → structured DLQ: every 50th document
    gets a poisoned numeric field; validate_and_cast pinpoints the
    failing column with one coalesce over per-column try_cast probes
    instead of the reference's N re-insert HTTP probes per bad row
    (consumer_to_file.py:226-235, including its :229 NameError bug).

    `profile` — operators/quality.py profile_columns: per-column
    n_rows/n_null/n_distinct/min/max computed in ONE aggregation pass
    (exact distinct here, oracle-sized data; HLL at scale).

    `check` — operators/quality.py check_constraints: six declarative
    expectations (not-null, primary-key uniqueness, range, accepted
    values — one deliberately failing — and a fractional-threshold
    condition), all folded into one aggregation; n_pass and the verdict
    are re-derived independently by the oracle."""
    from basic_data_pipeline_spark.operators import quality as Q

    d = _t(spark, sf_dir, "documents")
    records = d.select(
        F.lit("documents").alias("table"),
        F.col("doc_id").cast("string").alias("doc_id"),
        F.when(F.col("doc_id") % 50 == 0, F.lit("poison"))
        .otherwise(F.col("n_chars").cast("string"))
        .alias("n_chars"),
    )
    schema = "doc_id long, n_chars long"
    from pyspark.sql.types import StructType

    v = cdc.validate_and_cast(StructType.fromDDL(schema), ["table"], table_col="table")
    dlq = v.dlq_rows(records.select(*v.flag))
    dlq_rows = dlq.select(
        F.lit("dlq").alias("kind"),
        F.col("table"),
        F.col("column"),
        F.col("error").alias("metric"),
        F.col("value"),
        F.col("payload"),
    )

    prof = Q.profile_columns(d, list(_PROFILE_COLS), exact_distinct=True)
    prof_rows = prof.select(
        F.expr(
            "stack(5, 'n_rows', CAST(n_rows AS STRING),"
            " 'n_null', CAST(n_null AS STRING),"
            " 'n_distinct', CAST(n_distinct AS STRING),"
            " 'min', min_value, 'max', max_value) AS (metric, value)"
        ),
        F.col("column"),
    ).select(
        F.lit("profile").alias("kind"),
        F.lit("documents").alias("table"),
        F.col("column"),
        F.col("metric"),
        F.col("value"),
        F.lit(None).cast("string").alias("payload"),
    )

    checks = Q.check_constraints(
        d,
        [
            Q.not_null("not_null_text", "text"),
            Q.unique("pk_unique", "doc_id"),
            Q.in_range("chars_range", "n_chars", 1, 1_000_000),
            Q.accepted_values(
                "lang_known", "lang", ["de", "en", "es", "fr", "zh"]
            ),
            Q.accepted_values("lang_xx", "lang", ["xx"]),
            Q.condition(
                "half_long", F.col("n_chars") >= 200, min_fraction=0.5
            ),
        ],
    )
    check_rows = checks.select(
        F.expr(
            "stack(2, 'n_pass', CAST(n_pass AS STRING),"
            " 'passed', CAST(passed AS STRING)) AS (metric, value)"
        ),
        F.col("check"),
    ).select(
        F.lit("check").alias("kind"),
        F.lit("documents").alias("table"),
        F.col("check").alias("column"),
        F.col("metric"),
        F.col("value"),
        F.lit(None).cast("string").alias("payload"),
    )
    return dlq_rows.unionByName(prof_rows).unionByName(check_rows)
