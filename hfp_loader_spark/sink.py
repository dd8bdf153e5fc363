"""Routed append sinks (S5 + P4).

Two backends behind one API:

- **Parquet staging** (default; what the tests and driver gates exercise):
  one directory per sink table, partitioned by ``oday`` so the day-scoped
  dedup scan (utils/getEvents.ts:10-15) becomes partition pruning instead of
  a full scan.  At 100 TB this is the layout that keeps re-load dedup cheap:
  the existing-keys read touches exactly one date partition.
- **JDBC** (reference-parity sink): plain multi-row INSERT append — the
  reference's "upsert" is INSERT without ON CONFLICT (utils/upsert.ts:49-52),
  i.e. at-least-once with re-run dedup, and ``mode('append')`` matches that
  exactly.  Batching (EVENT_BATCH_SIZE, constants.ts:52) maps to the JDBC
  ``batchsize`` option; insert concurrency (INSERT_CONCURRENCY,
  constants.ts:51) maps to the number of write partitions.

The ``id`` DDL column (postgres_schema.sql:3) is never populated by the
reference (dead ``id: float`` transform key, SURVEY §1.3) → emitted as an
always-NULL double for schema parity.
"""

from __future__ import annotations

import datetime

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.utils import AnalysisException

from hfp_loader_spark.errors import is_path_not_found

from pyspark.sql import types as T

from hfp_loader_spark.schema import HFP_COLUMNS, TYPED_SCHEMA


def with_id_column(df: DataFrame) -> DataFrame:
    """Prepend the always-NULL ``id`` column (DDL parity)."""
    return df.select(F.lit(None).cast("double").alias("id"), *HFP_COLUMNS)


#: Exact on-disk schema of every ParquetSink table: ``id`` + the typed
#: columns, with the ``oday`` partition column last (where a partitioned
#: read surfaces it).  Pinning this on the ``existing_keys`` read skips
#: Spark's eager footer-schema job — measured 2-3 metadata jobs per
#: ``spark.read.parquet`` on a partitioned table vs 0 with an explicit
#: schema.  A re-load of a day that the sink already holds fires one
#: existing-keys read per sink table (4), and a fresh day fires none that
#: reach a file (see :meth:`ParquetSink.existing_keys`), so the load's
#: jobs stay its write jobs.
#: Safe because every file under a sink table was written by
#: :meth:`ParquetSink.write` from this exact projection — asserted
#: against the inferred schema in tests/test_etl_golden.py.
SINK_SCHEMA = T.StructType(
    [T.StructField("id", T.DoubleType(), True)]
    + [f for f in TYPED_SCHEMA.fields if f.name != "oday"]
    + [T.StructField("oday", T.DateType(), True)]
)


def empty_key_set(spark: SparkSession) -> DataFrame:
    """A ``uuid string`` key set that Catalyst can prove empty.

    A local relation under ``WHERE false`` optimizes to an empty
    ``LocalRelation``, so ``PropagateEmptyRelation`` removes an anti-join
    against it (and its shuffles) at plan time.  ``createDataFrame([])``
    does not: it is a ``LogicalRDD`` without statistics, and the join
    shuffles the whole incoming side before AQE sees 0 key rows.
    """
    return spark.sql("SELECT CAST(NULL AS STRING) AS uuid WHERE false")


def _no_unpartitioned_files(spark: SparkSession, path: str) -> bool:
    """True when ``path`` is missing or holds no data file of its own,
    only ``_``/``.`` metadata files beside its partition directories —
    the layout :meth:`ParquetSink.write` makes.  Lists only the files
    directly in the table directory (the listing skips directories), so
    the cost does not grow with the number of days held."""
    from hfp_loader_spark.versioned import _fs

    fs, P = _fs(spark, path)
    if not fs.exists(P(path)):
        return True
    files = fs.listFiles(P(path), False)
    while files.hasNext():
        if not files.next().getPath().getName().startswith(("_", ".")):
            return False
    return True


class ParquetSink:
    """Staging sink: ``<root>/<table>/`` parquet, partitioned by oday."""

    def __init__(self, root: str):
        self.root = root.rstrip("/")

    def table_path(self, table: str) -> str:
        return f"{self.root}/{table}"

    def write(self, df: DataFrame, table: str) -> None:
        (
            with_id_column(df)
            .write.mode("append")
            .partitionBy("oday")
            .parquet(self.table_path(table))
        )

    def existing_keys(
        self, spark: SparkSession, table: str, date: str
    ) -> DataFrame:
        """Day-scoped uuid scan (S4 analog).

        Reads only the day's ``oday=<date>`` partition directory (with the
        table as ``basePath``, so ``oday`` still surfaces as a partition
        column) and Catalyst prunes columns to just ``uuid`` — the Spark
        translation of ``SELECT uuid FROM <t> WHERE oday = $1``.  The read
        pins ``SINK_SCHEMA`` (our own write projection) so no footer-schema
        job runs at plan-build time.  The date is re-parsed here because it
        becomes part of a path.
        Missing table (first load) or no partition for the day in a table
        of our layout → the provably empty :func:`empty_key_set`, so the
        anti-join drops out of the plan.  A table directory with data
        files of its own, outside any partition directory (a corrupt or
        older unpartitioned layout), is read whole, as one table, so
        its read errors and the null-uuid backstop below still fire; any
        OTHER read error (corrupt footer, permission denial) propagates —
        swallowing it would silently re-insert the whole day.
        """
        date = datetime.date.fromisoformat(date).isoformat()
        path = self.table_path(table)
        try:
            df = (
                spark.read.option("basePath", path)
                .schema(SINK_SCHEMA)
                .parquet(f"{path}/oday={date}")
            )
        except AnalysisException as e:
            if not is_path_not_found(e):
                raise
            if _no_unpartitioned_files(spark, path):
                return empty_key_set(spark)
            df = spark.read.schema(SINK_SCHEMA).parquet(path)
        # Fail-loud backstop (ADVICE r15): a pinned read schema NULLs any
        # column the on-disk files lack instead of erroring, so a sink
        # table written by an older layout without ``uuid`` would yield
        # null keys and silently re-insert the whole day — the exact
        # failure the "any other read error propagates" contract rules
        # out.  Our own write path never stores a null uuid (null-uuid
        # rows are filtered before write), so a null here can only mean
        # schema drift; raise in-row, no extra action.
        checked_uuid = (
            F.when(
                F.col("uuid").isNull(),
                F.raise_error(
                    F.lit(
                        "existing_keys: null uuid in sink table "
                        f"'{table}' — on-disk schema is missing/nulling "
                        "the dedup key (older layout?); refusing to "
                        "serve a key scan that would re-insert the day"
                    )
                ),
            )
            .otherwise(F.col("uuid"))
            .alias("uuid")
        )
        return df.where(F.col("oday") == F.to_date(F.lit(date))).select(
            checked_uuid
        )


class JdbcSink:
    """Reference-parity Postgres sink (gated: needs a reachable database)."""

    def __init__(
        self,
        url: str,
        properties: dict[str, str] | None = None,
        batchsize: int = 1000,  # EVENT_BATCH_SIZE default, constants.ts:52
        num_partitions: int = 10,  # INSERT_CONCURRENCY deployed value
    ):
        self.url = url
        self.properties = dict(properties or {})
        self.properties.setdefault("batchsize", str(batchsize))
        # pgJDBC-specific defaults.  Spark consumes its own options
        # (batchsize, driver, …) but forwards UNKNOWN keys to the JDBC
        # driver at connect time, and non-Postgres drivers may reject
        # unrecognized properties outright (DuckDB's does) — so only
        # default these where they mean something.
        if url.startswith("jdbc:postgresql:"):
            # multi-row VALUES rewrite of the batched INSERT
            self.properties.setdefault("reWriteBatchedInserts", "true")
            # Spark binds every StringType via setString; against the
            # reference DDL's non-text columns (uuid uuid — and the CTAS
            # staging table inherits exactly those types) pgJDBC then
            # fails with 42804 unless parameters are sent untyped and
            # the server infers from context.
            self.properties.setdefault("stringtype", "unspecified")
        self.num_partitions = num_partitions

    def write(self, df: DataFrame, table: str) -> None:
        (
            with_id_column(df)
            .coalesce(self.num_partitions)
            .write.mode("append")
            .jdbc(self.url, f"public.{table}", properties=self.properties)
        )

    def existing_keys(
        self, spark: SparkSession, table: str, date: str
    ) -> DataFrame:
        # Predicate pushed into the remote query — only that day's uuids
        # cross the wire (utils/getEvents.ts:10-15).  The date is re-parsed
        # here (not only at the hfp_load entry) so a caller reaching this
        # directly cannot interpolate arbitrary SQL.
        # build (and date-validate) the query BEFORE touching the reader:
        # a bad date must raise ValueError, never reach the wire
        query = self._keys_query(table, date)
        return spark.read.jdbc(self.url, query, properties=self.properties)

    @staticmethod
    def _keys_query(table: str, date: str) -> str:
        """The exact pushed-down remote query (golden-locked in
        tests/test_jdbc.py against utils/getEvents.ts:10-15 semantics:
        uuid-only projection, one day's partition)."""
        date = datetime.date.fromisoformat(date).isoformat()
        return f"(SELECT uuid FROM public.{table} WHERE oday = DATE '{date}') q"


class VersionedParquetSink:
    """Staging sink on the snapshot-versioned table layer (versioned.py).

    Same contract as ParquetSink, plus table-format guarantees the plain
    layout can't give:

    - every load commits ATOMICALLY — a crash mid-write leaves an
      unreferenced data dir (reaped by ``versioned.vacuum``), never a
      half-visible day;
    - concurrent loaders of different days serialize through the
      manifest CAS instead of interleaving files in one directory;
    - a bad load is undone by reading the previous version (time
      travel), not by manual file surgery.

    ``existing_keys`` reads the LATEST snapshot with the same
    oday-pruned, uuid-only projection — the scan is a multi-path parquet
    read, so partition-style pruning happens via parquet row-group stats
    on the oday column within each committed dir.
    """

    def __init__(self, root: str):
        self.root = root.rstrip("/")

    def table_path(self, table: str) -> str:
        return f"{self.root}/{table}"

    def write(self, df: DataFrame, table: str) -> None:
        from hfp_loader_spark.versioned import commit_snapshot

        commit_snapshot(
            df.sparkSession,
            with_id_column(df),
            self.table_path(table),
            mode="append",
        )

    def existing_keys(
        self, spark: SparkSession, table: str, date: str
    ) -> DataFrame:
        from hfp_loader_spark.versioned import latest_version, read_snapshot

        if latest_version(spark, self.table_path(table)) is None:
            return empty_key_set(spark)
        df = read_snapshot(spark, self.table_path(table))
        return df.where(F.col("oday") == F.to_date(F.lit(date))).select("uuid")


class JdbcUpsertSink(JdbcSink):
    """Exactly-once JDBC sink: staging table + set-based
    ``INSERT … ON CONFLICT (uuid) DO NOTHING`` (extension tier).

    The reference's "upsert" is a plain INSERT (utils/upsert.ts:49-52) and
    relies on the day-scoped anti-join for re-run dedup; this variant
    makes re-runs idempotent AT THE DATABASE — the unique constraint, not
    the loader, is the final arbiter, so a crash between the anti-join
    read and the write can never double-insert.

    Shape (the scale-correct Spark→Postgres upsert):

    1. the per-call staging table (``<table>__stage_<token>``) is
       created SERVER-SIDE from the target's own shape
       (``CREATE TABLE … AS SELECT * FROM target WHERE 1 = 0``) — the
       stage inherits the target's exact column types, so the promotion
       can never hit an implicit-cast surprise from the writer's
       type mapping, and Spark's append lands in a table that already
       exists (Spark 4 refuses to auto-create against drivers whose
       not-found SQLExceptions it cannot classify);
    2. the batch lands DISTRIBUTED via the normal JDBC append into the
       stage — batchsize / reWriteBatchedInserts / write concurrency as
       the parent sink;
    3. ONE server-side, set-based
       ``INSERT INTO target SELECT … FROM staging ON CONFLICT (uuid) DO
       NOTHING`` promotes it — no per-row Python round-trips (a
       ``foreachPartition`` with a row-at-a-time driver is the slow path,
       and no Python Postgres driver ships in executors anyway); the
       driver issues the statement over java.sql via the same JDBC jar
       Spark's write used;
    4. the staging table is dropped in a ``finally``.

    Requires a UNIQUE index on ``uuid`` (the DDL's uuid column is the
    reference's dedup identity).  ``conflict_cols`` widens the target for
    tables keyed differently.
    """

    def __init__(self, *args, conflict_cols: tuple[str, ...] = ("uuid",), **kw):
        super().__init__(*args, **kw)
        self.conflict_cols = tuple(conflict_cols)

    #: Option keys Spark's JDBC source consumes itself and strips from
    #: the java.sql connection properties (JDBCOptions.asConnectionProperties)
    #: — forwarded to a driver they are unrecognized config and some
    #: drivers (DuckDB) reject them at connect time.
    _SPARK_OPTION_KEYS = frozenset(
        {"driver", "batchsize", "numpartitions", "isolationlevel",
         "querytimeout", "fetchsize", "truncate", "url", "dbtable",
         "query", "partitioncolumn", "lowerbound", "upperbound"}
    )

    def _exec_sql(self, spark: SparkSession, sql: str) -> None:
        """Run one statement driver-side through the JVM's DriverManager
        (same classpath/driver Spark's own JDBC write uses; same
        option-vs-connection-property split Spark itself applies)."""
        jvm = spark._jvm
        if "driver" in self.properties:
            jvm.java.lang.Class.forName(self.properties["driver"])
        props = jvm.java.util.Properties()
        for k, v in self.properties.items():
            if k.lower() not in self._SPARK_OPTION_KEYS:
                props.setProperty(k, v)
        conn = jvm.java.sql.DriverManager.getConnection(self.url, props)
        try:
            stmt = conn.createStatement()
            try:
                stmt.execute(sql)
            finally:
                stmt.close()
        finally:
            conn.close()

    def write(self, df: DataFrame, table: str) -> None:
        import uuid as _uuid

        if not table.replace("_", "").isalnum():  # defense-in-depth
            raise ValueError(f"suspicious table name: {table!r}")
        out = with_id_column(df)
        spark = out.sparkSession
        stage = f"{table}__stage_{_uuid.uuid4().hex[:12]}"
        self._exec_sql(spark, self._stage_create_sql(table, stage))
        try:
            (
                out.coalesce(self.num_partitions)
                .write.mode("append")
                .jdbc(self.url, f"public.{stage}", properties=self.properties)
            )
            self._exec_sql(spark, self._promote_sql(table, stage, out.columns))
        finally:
            self._exec_sql(spark, self._drop_sql(stage))

    @staticmethod
    def _stage_create_sql(table: str, stage: str) -> str:
        """The server-side stage DDL: an empty structural copy of the
        TARGET (``WHERE 1 = 0`` CTAS — ANSI; no constraints carried,
        which a stage must not have).  Typed by the target, not by the
        writer's Spark→SQL type mapping, so stage and target can never
        disagree on a column type at promotion time."""
        return (
            f'CREATE TABLE public."{stage}" AS '
            f'SELECT * FROM public."{table}" WHERE 1 = 0'
        )

    def _promote_sql(self, table: str, stage: str, columns: list[str]) -> str:
        """The set-based promotion statement (golden-locked in
        tests/test_jdbc.py against utils/upsert.ts:49-52: same INSERT …
        ON CONFLICT DO NOTHING semantics, set-based instead of batched
        VALUES)."""
        cols = ", ".join(f'"{c}"' for c in columns)
        conflict = ", ".join(f'"{c}"' for c in self.conflict_cols)
        return (
            f'INSERT INTO public."{table}" ({cols}) '
            f'SELECT {cols} FROM public."{stage}" '
            f"ON CONFLICT ({conflict}) DO NOTHING"
        )

    @staticmethod
    def _drop_sql(stage: str) -> str:
        return f'DROP TABLE IF EXISTS public."{stage}"'
