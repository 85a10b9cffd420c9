"""Table catalog: explicit schemas + loaders for the shared test tables
and for reference-shaped domain tables (FIXTURES.md).

Scans are plain ``spark.read.parquet`` so Catalyst keeps predicate
pushdown / column pruning / partition pruning; loaders never cache or
collect. At 100 TB these tables would be date-partitioned
(``partitionBy("date")``) so incremental loads prune to new partitions —
the loaders take directories, not files, so that layout drops in
unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TPCH_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
)
EXT_TABLES = ("events", "documents", "embeddings")
ALL_TABLES = TPCH_TABLES + EXT_TABLES

# Reference-shaped canonical long tables (SURVEY.md §1.1 inverted to
# long layout; money is DECIMAL(10,2) to mirror NUMERIC(10, 2) at
# /root/reference/stock_data_pipeline/definitions.py:13).
PRICES_SCHEMA = T.StructType(
    [
        T.StructField("date", T.DateType(), False),
        T.StructField("ticker", T.StringType(), False),
        T.StructField("open", T.DecimalType(10, 2), True),
        T.StructField("high", T.DecimalType(10, 2), True),
        T.StructField("low", T.DecimalType(10, 2), True),
        T.StructField("close", T.DecimalType(10, 2), True),
        T.StructField("volume", T.LongType(), True),
    ]
)
SHARES_SCHEMA = T.StructType(
    [
        T.StructField("date", T.DateType(), False),
        T.StructField("sector", T.StringType(), False),
        T.StructField("ticker", T.StringType(), False),
        T.StructField("weight", T.DoubleType(), True),
        T.StructField("shares_held", T.LongType(), True),
    ]
)
SHARES_OUTSTANDING_SCHEMA = T.StructType(
    [
        T.StructField("date", T.DateType(), False),
        T.StructField("sector", T.StringType(), False),
        T.StructField("shares_outstanding", T.LongType(), True),
    ]
)


# Explicit schemas for the shared test tables. Schema-on-read matters
# twice: (a) ``spark.read.parquet`` without a schema runs a footer-read
# Spark job at PLAN time — one cluster round-trip per table per query
# before any real work; (b) at 100 TB the catalog, not the files, should
# own the contract (a stray file with a drifted schema fails loudly at
# scan, not silently at merge). ``events.ts`` is declared LONG because
# the file's int64 timestamp unit has varied between fixture
# generations (NANOS/MICROS) — see events_ts_unit / load_events.
TABLE_SCHEMAS: dict[str, T.StructType] = {
    "region": T.StructType(
        [
            T.StructField("r_regionkey", T.IntegerType()),
            T.StructField("r_name", T.StringType()),
        ]
    ),
    "nation": T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
        ]
    ),
    "customer": T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("c_name", T.StringType()),
            T.StructField("c_nationkey", T.IntegerType()),
            T.StructField("c_acctbal", T.DoubleType()),
            T.StructField("c_mktsegment", T.StringType()),
        ]
    ),
    "supplier": T.StructType(
        [
            T.StructField("s_suppkey", T.LongType()),
            T.StructField("s_name", T.StringType()),
            T.StructField("s_nationkey", T.IntegerType()),
            T.StructField("s_acctbal", T.DoubleType()),
        ]
    ),
    "part": T.StructType(
        [
            T.StructField("p_partkey", T.LongType()),
            T.StructField("p_name", T.StringType()),
            T.StructField("p_brand", T.StringType()),
            T.StructField("p_type", T.StringType()),
            T.StructField("p_size", T.IntegerType()),
            T.StructField("p_retailprice", T.DoubleType()),
        ]
    ),
    "orders": T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_custkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("o_orderdate", T.TimestampNTZType()),
            T.StructField("o_orderpriority", T.StringType()),
        ]
    ),
    "lineitem": T.StructType(
        [
            T.StructField("l_orderkey", T.LongType()),
            T.StructField("l_partkey", T.LongType()),
            T.StructField("l_suppkey", T.LongType()),
            T.StructField("l_linenumber", T.IntegerType()),
            T.StructField("l_quantity", T.DoubleType()),
            T.StructField("l_extendedprice", T.DoubleType()),
            T.StructField("l_discount", T.DoubleType()),
            T.StructField("l_tax", T.DoubleType()),
            T.StructField("l_returnflag", T.StringType()),
            T.StructField("l_linestatus", T.StringType()),
            T.StructField("l_shipdate", T.TimestampNTZType()),
        ]
    ),
    "events": T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    ),
    "documents": T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    ),
    "embeddings": T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("label", T.IntegerType()),
        ]
    ),
}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one shared test table with its catalog schema (no footer
    probe — plan construction stays action-free). ``events`` needs
    special handling (int64 timestamp unit varies by fixture
    generation — see :func:`load_events`)."""
    if name == "events":
        return load_events(spark, sf_dir)
    return spark.read.schema(TABLE_SCHEMAS[name]).parquet(f"{sf_dir}/{name}.parquet")


def events_ts_unit(events_path: str) -> str:
    """``'ns'`` or ``'us'`` — the physical unit of ``events.ts``.

    The fixture has shipped with BOTH units (TIMESTAMP(NANOS)
    originally, TIMESTAMP(MICROS) after a regeneration), and reading
    one as the other silently shifts every timestamp 1000×. One
    pyarrow footer read (driver-side I/O, NOT a Spark job — plan
    construction stays action-free), cached per path.
    """
    if events_path not in _TS_UNIT_CACHE:
        import pyarrow.parquet as pq

        t = pq.ParquetFile(events_path).schema_arrow.field("ts").type
        # raw INT64 with no logical type was only ever the nanos fixture
        _TS_UNIT_CACHE[events_path] = getattr(t, "unit", "ns")
    return _TS_UNIT_CACHE[events_path]


_TS_UNIT_CACHE: dict[str, str] = {}


def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events fixture with ``ts`` as TIMESTAMP_NTZ at µs precision —
    the exact value DuckDB sees reading the same file (its TIMESTAMP is
    µs; a nanos fixture is µs-truncated identically by both engines).

    The UTC session-timezone pin lives in :func:`load_events_raw` (the
    bottom of every events chain), so queries that build their own NTZ
    timestamps from :func:`load_events_us` integers are covered too.
    """
    raw = load_events_us(spark, sf_dir)
    return raw.withColumn(
        "ts", F.expr("timestamp_micros(ts)").cast("timestamp_ntz")
    )


def load_events_us(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events with ``ts`` as exact integer epoch-MICROSECONDS — for
    queries doing integer time arithmetic (gap/session/TWAP math) where
    timestamp-diff semantics drift between engines. Unit-normalized:
    nanos fixtures are integer-divided (``div 1000`` — float division
    would lose precision: epoch-nanos needs 61 bits, double mantissa
    has 53), micros fixtures pass through.
    """
    raw = load_events_raw(spark, sf_dir)
    if events_ts_unit(f"{sf_dir}/events.parquet") == "ns":
        raw = raw.withColumn("ts", F.expr("ts div 1000"))
    return raw


def load_events_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events with ``ts`` left as the file's raw int64 (ns OR µs —
    check :func:`events_ts_unit`; prefer :func:`load_events_us`).
    The nanosAsLong conf lets the vectorized reader accept a
    TIMESTAMP(NANOS) column as LONG; a MICROS column reads as the raw
    int64 under the forced LONG schema either way.

    Also pins the session timezone to UTC (runtime-settable,
    idempotent — engine sessions already set it at build time): any
    downstream ``timestamp_micros(...)`` → NTZ conversion renders the
    SESSION-LOCAL wall clock of the instant, so under a non-UTC JVM
    every derived day/session bucket would shift while the DuckDB
    oracle reads naive timestamps — experimentally flips q141/q144
    (VERDICT r04) and q23/q95 (r05 self-review; they convert
    ``load_events_us`` integers themselves, which is why the pin lives
    HERE, at the bottom of every events chain, not in
    :func:`load_events`). UTC makes NTZ == the naive value DuckDB
    sees."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return spark.read.schema(TABLE_SCHEMAS["events"]).parquet(f"{sf_dir}/events.parquet")


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every shared table as a temp view for the SQL API."""
    for name in ALL_TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
