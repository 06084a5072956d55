"""Table catalog: explicit schemas for the ten driver tables.

Ground truth is FIXTURES.md (pyarrow inspection of the driver testdata).
Schemas are declared, never inferred — the driver's oracle compares result
schemas, so the engine must be deterministic about types from the scan up
(SURVEY.md §1.1). ``TABLES`` is exactly what ``load()`` returns, and every
scan reads through it, so no load starts a Spark job: an inferred read runs
one footer-inference job per table, and at 100 TB a pass over the whole
dataset. The one column whose read type comes from the file is
``events.ts`` (see ``load``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

TABLES: dict[str, T.StructType] = {
    "region": T.StructType([
        T.StructField("r_regionkey", T.IntegerType()),
        T.StructField("r_name", T.StringType()),
    ]),
    "nation": T.StructType([
        T.StructField("n_nationkey", T.IntegerType()),
        T.StructField("n_name", T.StringType()),
        T.StructField("n_regionkey", T.IntegerType()),
    ]),
    "customer": T.StructType([
        T.StructField("c_custkey", T.LongType()),
        T.StructField("c_name", T.StringType()),
        T.StructField("c_nationkey", T.IntegerType()),
        T.StructField("c_acctbal", T.DoubleType()),
        T.StructField("c_mktsegment", T.StringType()),
    ]),
    "supplier": T.StructType([
        T.StructField("s_suppkey", T.LongType()),
        T.StructField("s_name", T.StringType()),
        T.StructField("s_nationkey", T.IntegerType()),
        T.StructField("s_acctbal", T.DoubleType()),
    ]),
    "part": T.StructType([
        T.StructField("p_partkey", T.LongType()),
        T.StructField("p_name", T.StringType()),
        T.StructField("p_brand", T.StringType()),
        T.StructField("p_type", T.StringType()),
        T.StructField("p_size", T.IntegerType()),
        T.StructField("p_retailprice", T.DoubleType()),
    ]),
    "orders": T.StructType([
        T.StructField("o_orderkey", T.LongType()),
        T.StructField("o_custkey", T.LongType()),
        T.StructField("o_orderstatus", T.StringType()),
        T.StructField("o_totalprice", T.DoubleType()),
        T.StructField("o_orderdate", T.TimestampNTZType()),
        T.StructField("o_orderpriority", T.StringType()),
    ]),
    "lineitem": T.StructType([
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
    ]),
    "events": T.StructType([
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]),
    "documents": T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]),
    "embeddings": T.StructType([
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
        T.StructField("label", T.IntegerType()),
    ]),
}

# Dimension tables small enough to broadcast at ANY scale factor — region
# and nation are bounded by geography, not data volume, so broadcasting
# them is safe even at 100 TB fact-table scale.
BROADCAST_SAFE = frozenset({"region", "nation"})


def path_for(sf_dir: str, name: str) -> str:
    return f"{sf_dir}/{name}.parquet"


def _events_read(path: str):
    """The schema ``events`` is read with, whose ``ts`` type is keyed on the
    file's parquet footer, and the column that turns that ``ts`` into
    ``TABLES["events"]``'s µs timestamp (``None``: already one). pyarrow
    reads the footer on the driver, so no Spark job starts."""
    import json

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    footer = pq.read_metadata(path).schema
    logical = json.loads(footer.column(footer.names.index("ts")).logical_type.to_json())
    if logical.get("timeUnit") == "nanoseconds":
        ts_read, to_timestamp = T.LongType(), F.timestamp_micros(F.expr("ts DIV 1000"))
    elif logical.get("Type") == "Timestamp" and not logical["isAdjustedToUTC"]:
        ts_read, to_timestamp = T.TimestampNTZType(), F.col("ts").cast("timestamp")
    else:  # UTC-adjusted, or INT96 (no logical type), which Spark writes by default
        ts_read, to_timestamp = T.TimestampType(), None
    schema = T.StructType([
        T.StructField("ts", ts_read) if f.name == "ts" else f for f in TABLES["events"]
    ])
    return schema, to_timestamp


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one catalog table with its declared schema; the scan starts no
    Spark job. Parquet scan + Catalyst gives predicate pushdown and column
    pruning downstream for free.

    The result schema is ``TABLES[name]``. Every column reads as declared
    except ``events.ts``, whose read type comes from the file's footer:

    - TIMESTAMP(NANOS), which Spark's vectorized reader rejects outright,
      reads as a nanos long (legacy conf) and converts to a µs timestamp.
      Integer division is mandatory — the nanos magnitude (~1.7e18)
      exceeds double's 2^53 exact range. Sub-µs bits are dropped.
    - MILLIS/MICROS without a time zone read as TIMESTAMP_NTZ and cast to
      a session-UTC timestamp.
    - A UTC-adjusted timestamp reads as a timestamp.

    Trade-off noted for scale: cast ts predicates no longer push into the
    parquet scan; a production layout would partition by date instead.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; catalog has {sorted(TABLES)}")
    # The driver builds its own SparkSession (not session.get_session), so
    # pin timestamp semantics here on the query path: the DuckDB oracle
    # sees UTC-naive timestamps, and every date_trunc/window/cast must
    # render identically regardless of the host session's timezone.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = path_for(sf_dir, name)
    if name != "events":
        return spark.read.schema(TABLES[name]).parquet(path)
    return read_events(spark, spark.read, path, path)


def read_events(spark: SparkSession, reader, path: str, footer_path: str) -> DataFrame:
    """``events`` at ``path`` through ``reader`` (``spark.read`` or
    ``spark.readStream``), read and converted by the ``ts`` rule of
    `load`, keyed on the footer of the parquet file ``footer_path``."""
    schema, to_timestamp = _events_read(footer_path)
    if schema["ts"].dataType == T.LongType():
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = reader.schema(schema).parquet(path)
    return df if to_timestamp is None else df.withColumn("ts", to_timestamp)


def register_tables(spark: SparkSession, sf_dir: str, names: list[str] | None = None) -> None:
    """Create temp views named exactly like the oracle's pre-registered
    views, enabling the spark.sql entry path (SURVEY.md §3 entry point 3)."""
    for name in names or TABLES:
        load(spark, sf_dir, name).createOrReplaceTempView(name)
