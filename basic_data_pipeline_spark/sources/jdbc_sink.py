"""JDBC-backed CDC sink: the relational-store twin of
operators/cdc.SinkTable.

The reference's core loop lands Kafka envelopes in an actual SQL store
(consumer_to_file.py:129-168 ``ensure_table``/``alter_table_if_new_keys``
DDL, :204-250 batched INSERT, :241-243 ``ALTER TABLE … DELETE`` per
key). ``SinkTable`` re-expresses that against parquet; ``JdbcSinkTable``
re-expresses it against a real relational store over JDBC and
duck-types ``SinkTable`` (``append``/``overwrite``/``read``/
``write_changes`` plus the ``record_schema``/``record_plan``/``key``/
``created``/``applied_offsets`` state), so
``apply_cdc_batch`` drives either sink unchanged — pass
``sink_factory=lambda tbl: JdbcSinkTable(spark, url, tbl, …)``.

Spark does the data movement (partition-parallel batched INSERTs via the
JDBC writer — parallelism == upstream partition count); this module adds
only the metadata operations Spark's writer can't express:

- auto-create is Spark's own append-mode behavior (dialect-mapped types);
- schema drift becomes ``ALTER TABLE … ADD COLUMN`` from a metadata
  diff (the reference's alter_table_if_new_keys), after which
  narrower-schema appends null-fill the new column store-side;
- ``overwrite`` (compaction / delete rewrite) stages into a ``__swap``
  table then swaps contents in ONE store transaction
  (DELETE + INSERT…SELECT, both store-side — no second data transfer),
  the relational analog of maintenance.atomic_overwrite's temp+rename;
- ``write_changes`` (the append-mode batch apply) appends, then runs
  ``apply_delete_versions``, the reference's per-key
  ``ALTER TABLE … DELETE`` loop: version-aware in-place DELETEs, so the
  append-mode tombstone path never rewrites the table.

Scale note: DDL/DELETE round-trips are per-table-per-batch driver calls
(bounded by tombstone-key count, not row count); every row moves through
Spark's partition-parallel JDBC writer. The store itself is the scale
ceiling here — exactly as in the reference, where one ClickHouse node
absorbs whatever the consumer throws at it.

Exercised for real in-container against embedded Derby
(tests/test_jdbc_sink.py), the same way tests/test_tables.py un-gates
the S13 scan.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from basic_data_pipeline_spark.sources.files import (
    JdbcUnavailable,
    read_jdbc,
    write_jdbc,
)

_IDENT = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*$")


def _quote(name: str) -> str:
    """Delimited SQL identifier. Column names come from payload JSON keys
    (untrusted), so quoting is mandatory, not cosmetic."""
    return '"' + name.replace('"', '""') + '"'


def _sql_type(dt: T.DataType) -> str:
    """Spark type → ANSI column type for ALTER TABLE ADD COLUMN (matches
    what Spark's own JDBC dialects emit on auto-create, so altered and
    created columns round-trip identically)."""
    if isinstance(dt, T.DecimalType):
        return f"DECIMAL({dt.precision},{dt.scale})"
    mapping = {
        # NOT the dialect default (CLOB): Derby CLOBs are not comparable,
        # which breaks every pushed-down string predicate on the sink
        # table. VARCHAR caps values at 32672 chars — fine for CDC
        # payloads, documented here for anyone widening the use.
        T.StringType: "VARCHAR(32672)",
        T.LongType: "BIGINT",
        T.IntegerType: "INTEGER",
        T.ShortType: "SMALLINT",
        T.ByteType: "SMALLINT",
        T.DoubleType: "DOUBLE",
        T.FloatType: "REAL",
        T.BooleanType: "BOOLEAN",
        T.TimestampType: "TIMESTAMP",
        T.DateType: "DATE",
        T.BinaryType: "BLOB",
    }
    for spark_t, sql_t in mapping.items():
        if isinstance(dt, spark_t):
            return sql_t
    raise JdbcUnavailable(f"no JDBC column type for Spark type {dt}")


class JdbcSinkTable:
    """CDC sink over JDBC; duck-types operators/cdc.SinkTable."""

    def __init__(
        self,
        spark: SparkSession,
        url: str,
        name: str,
        driver: str | None = None,
        key: str | None = None,
    ) -> None:
        # The table name is routed from the Kafka topic (untrusted input)
        # and is interpolated into DDL: restrict to plain identifiers.
        if not _IDENT.match(name):
            raise JdbcUnavailable(f"unsafe JDBC table name: {name!r}")
        self.spark = spark
        self.url = url
        self.name = name
        self.driver = driver
        self.key = key
        self.record_schema: T.StructType | None = None
        self.record_plan = None  # operators/cdc.RecordPlan for record_schema
        self.applied_offsets: dict[int, int] | None = None
        # Restart recovery: like SinkTable.__post_init__'s isdir probe,
        # an existing store table means evolution/delete/replay logic
        # must treat the sink as established.
        self.created = bool(self._columns())

    # -- JDBC plumbing (py4j java.sql; no extra Python dependency) ------

    def _connect(self):
        jvm = self.spark._sc._jvm
        if self.driver:
            jvm.java.lang.Class.forName(self.driver)
        try:
            return jvm.java.sql.DriverManager.getConnection(self.url)
        except Exception as exc:  # noqa: BLE001 — py4j raises Py4JJavaError
            raise JdbcUnavailable(f"jdbc connect failed for {self.url}: {exc}") from exc

    def _execute(self, *statements: str, transactional: bool = False) -> None:
        conn = self._connect()
        try:
            if transactional:
                conn.setAutoCommit(False)
            st = conn.createStatement()
            try:
                for sql in statements:
                    st.execute(sql)
            finally:
                st.close()
            if transactional:
                conn.commit()
        except JdbcUnavailable:
            raise
        except Exception as exc:  # noqa: BLE001
            if transactional:
                conn.rollback()
            raise JdbcUnavailable(f"jdbc statement failed: {exc}") from exc
        finally:
            conn.close()

    def _columns(self, table: str | None = None) -> list[str]:
        """Ordered column names of the store table ([] = absent). Names
        come back exactly as stored — Spark's writer quotes identifiers
        on create, so case matches the DataFrame schema."""
        conn = self._connect()
        try:
            # Unquoted simple names are stored case-folded (upper in
            # Derby); both patterns are probed so the lookup works
            # whichever convention the store applied.
            md = conn.getMetaData()
            for pattern in ((table or self.name).upper(), table or self.name):
                rs = md.getColumns(None, None, pattern, None)
                cols: list[tuple[int, str]] = []
                while rs.next():
                    cols.append(
                        (rs.getInt("ORDINAL_POSITION"), rs.getString("COLUMN_NAME"))
                    )
                rs.close()
                if cols:
                    return [c for _, c in sorted(cols)]
            return []
        finally:
            conn.close()

    def _write_opts(self, create_schema: T.StructType | None = None) -> dict[str, str]:
        opts = {"driver": self.driver} if self.driver else {}
        if create_schema is not None:
            # force comparable string columns on auto-create (see
            # _sql_type); backticks because Spark parses this option with
            # its own SQL parser, not the store's
            opts["createTableColumnTypes"] = ", ".join(
                f"`{f.name}` {_sql_type(f.dataType)}"
                for f in create_schema.fields
            )
        return opts

    # -- reference ensure_table / alter_table_if_new_keys ----------------

    def _evolve(self, schema: T.StructType) -> None:
        """ALTER TABLE ADD COLUMN for every batch column the store lacks
        (consumer_to_file.py:150-168). Store-side rows null-fill; later
        narrower batches insert by explicit column list, so drift in
        either direction is safe."""
        existing = set(self._columns())
        missing = [f for f in schema.fields if f.name not in existing]
        if not missing:
            return
        self._execute(
            *[
                f"ALTER TABLE {self.name} ADD COLUMN "
                f"{_quote(f.name)} {_sql_type(f.dataType)}"
                for f in missing
            ]
        )

    # -- SinkTable surface ------------------------------------------------

    def append(self, batch: DataFrame) -> None:
        if self.created:
            self._evolve(batch.schema)
            opts = self._write_opts()
        else:
            opts = self._write_opts(create_schema=batch.schema)
        write_jdbc(batch, self.url, self.name, mode="append", **opts)
        self.created = True

    def overwrite(self, full: DataFrame) -> None:
        """Replace contents via staging + one store transaction. The
        input plan may read this same table (compaction, delete rewrite),
        so the swap table materializes it fully BEFORE the target is
        touched — the JDBC analog of atomic_overwrite's temp+rename; a
        crash before the transaction leaves only a stale swap table,
        which the next overwrite drops."""
        if not self.created:
            # first materialization (compact mode, batch 1): nothing can
            # be reading a table that doesn't exist — plain auto-create
            # append, no staging cycle needed
            write_jdbc(
                full, self.url, self.name, mode="append",
                **self._write_opts(create_schema=full.schema),
            )
            self.created = True
            return
        swap = f"{self.name}__swap"
        try:
            self._execute(f"DROP TABLE {swap}")
        except JdbcUnavailable:
            pass  # no stale swap — the common case
        write_jdbc(
            full, self.url, swap, mode="append",
            **self._write_opts(create_schema=full.schema),
        )
        self._evolve(full.schema)
        cols = ", ".join(_quote(c) for c in self._columns(swap))
        self._execute(
            f"DELETE FROM {self.name}",
            f"INSERT INTO {self.name} ({cols}) SELECT {cols} FROM {swap}",
            transactional=True,
        )
        self._execute(f"DROP TABLE {swap}")
        self.created = True

    def read(self) -> DataFrame:
        return read_jdbc(self.spark, self.url, self.name, **self._write_opts())

    def write_changes(
        self, good: DataFrame | None, last_del: DataFrame | None, ord_cols: list[str]
    ) -> None:
        """Append-mode apply of one batch: append ``good``, then delete
        in place (apply_delete_versions) — the store is never rewritten."""
        if good is not None:
            self.append(good)
        if last_del is not None and self.created:
            self.apply_delete_versions(last_del, self.key, ord_cols)

    # -- reference ALTER TABLE … DELETE (consumer_to_file.py:241-243) -----

    def apply_delete_versions(
        self, last_del: DataFrame, key: str, ord_cols: list[str]
    ) -> None:
        """Version-aware in-place delete: for each tombstoned key, remove
        every stored version at-or-before the delete's
        (source_ts_ms, ts_ms, offset) — identical semantics to the
        parquet path's broadcast-join rewrite, but as per-key DELETEs so
        the table is never rewritten. ``last_del`` is one row per deleted
        key (already max-reduced), the same driver-small frame the
        parquet path broadcasts."""
        rows = last_del.collect()
        if not rows:
            return
        table_cols = set(self._columns())
        # (name, struct position) pairs — position indexes into the
        # _del_ver struct, which is built over the FULL ord_cols list
        ord_present = [
            (c, i) for i, c in enumerate(ord_cols) if c in table_cols
        ]
        conn = self._connect()
        try:
            for r in rows:
                ver = r["_del_ver"]
                # lexicographic (a,b,c) <= (A,B,C), NULL components
                # pinned to -1 exactly as the parquet path's coalesce
                pred = ""
                for name, pos in reversed(ord_present):
                    c = f"COALESCE({_quote(name)}, -1)"
                    v = int(ver[pos]) if ver[pos] is not None else -1
                    op = "<=" if not pred else "<"
                    pred = (
                        f"({c} {op} {v})"
                        if not pred
                        else f"({c} {op} {v} OR ({c} = {v} AND {pred}))"
                    )
                where = f"{_quote(key)} = ?" + (f" AND {pred}" if pred else "")
                ps = conn.prepareStatement(f"DELETE FROM {self.name} WHERE {where}")
                try:
                    ps.setObject(1, r[key])
                    ps.executeUpdate()
                finally:
                    ps.close()
        except Exception as exc:  # noqa: BLE001
            raise JdbcUnavailable(f"jdbc delete failed: {exc}") from exc
        finally:
            conn.close()
