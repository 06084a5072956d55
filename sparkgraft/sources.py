"""Extension sources & side-channel metrics (SURVEY.md §2.1 / §1.1).

Two Hadoop-canon capabilities that live OUTSIDE the parquet happy path:

- a custom **Python DataSource** (Spark 4 `pyspark.sql.datasource` API) —
  the Spark-native replacement for the reference world's custom
  InputFormat: a fixed-width record file parsed per-partition on the
  executors, with planner-visible partitions (one per file) so reads
  parallelize exactly like any built-in source;
- **observed metrics** (`DataFrame.observe`) — the replacement for
  MapReduce job counters: side-channel aggregates collected during a
  normal action, no extra pass over the data.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .catalog import load
from .registry import key_root, query

# Fixed-width layout for the custom-source file: the classic mainframe/
# log-processing record shape a Hadoop InputFormat would parse.
# value field is 26 chars: %.17g (exact double round-trip) renders at most
# sign + 17 significant digits + point + "e-308" = 25 chars, so lpad can
# never truncate, for ANY double — not just the current fixtures.
_FW_ID, _FW_TYPE, _FW_VALUE = 12, 10, 26
_FW_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
    ]
)


def _fixedwidth_datasource():
    """Build the DataSource class lazily (import is Spark ≥ 4 only)."""
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceReader,
        InputPartition,
    )

    class _FilePartition(InputPartition):
        def __init__(self, path: str) -> None:
            self.path = path

    class FixedWidthReader(DataSourceReader):
        def __init__(self, options) -> None:
            self.dir = options["path"]

        def partitions(self):
            # One planner-visible partition per data file — the same
            # split model as a file-based InputFormat, so executor-side
            # parallelism scales with the file count.
            return [
                _FilePartition(os.path.join(self.dir, f))
                for f in sorted(os.listdir(self.dir))
                if f.endswith(".txt")
            ]

        def read(self, partition):
            with open(partition.path, encoding="utf-8") as fh:
                for line in fh:
                    line = line.rstrip("\n")
                    yield (
                        int(line[:_FW_ID]),
                        line[_FW_ID : _FW_ID + _FW_TYPE].strip(),
                        float(line[_FW_ID + _FW_TYPE :]),
                    )

    class FixedWidthSource(DataSource):
        @classmethod
        def name(cls) -> str:
            return "sparkgraft_fixedwidth"

        def schema(self):
            return _FW_SCHEMA

        def reader(self, schema) -> DataSourceReader:
            return FixedWidthReader(self.options)

    return FixedWidthSource


@query(
    "source_fixedwidth_python",
    oracle="""
    SELECT event_type, count(*) AS n, round(sum(value), 4) AS total
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def source_fixedwidth_python(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-trip through the custom source: events rendered as
    fixed-width text (4 files), read back via the registered Python
    DataSource, aggregated — proving the executor-side parser and the
    partition planning, with the plain events table as the oracle."""
    tag = sf_dir.strip("/").replace("/", "_")
    # "v2" = layout version (value width 14 → 26); versioned path keeps a
    # stale cache from an older layout from being parsed at wrong offsets.
    out = os.path.join(tempfile.gettempdir(), "sparkgraft_fixedwidth_v2", tag)
    done = os.path.join(out, "_done")
    if not os.path.exists(done):
        (
            load(spark, sf_dir, "events")
            .select(
                F.concat(
                    F.lpad(F.col("event_id").cast("string"), _FW_ID, " "),
                    F.rpad(F.col("event_type"), _FW_TYPE, " "),
                    # %.17g: shortest text that exactly round-trips every
                    # IEEE double (17 significant digits)
                    F.lpad(F.format_string("%.17g", "value"), _FW_VALUE, " "),
                ).alias("value")
            )
            .repartition(4)
            .write.mode("overwrite")
            .text(out)
        )
        # .txt suffix marks data files apart from _SUCCESS markers
        for f in os.listdir(out):
            if f.startswith("part-"):
                os.rename(os.path.join(out, f), os.path.join(out, f + ".txt"))
        open(done, "w").close()

    spark.dataSource.register(_fixedwidth_datasource())
    back = spark.read.format("sparkgraft_fixedwidth").option("path", out).load()
    return (
        back.groupBy("event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("total"))
        .orderBy("event_type")
    )


@query(
    "agg_observed_metrics",
    oracle="""
    SELECT count(*)                                         AS n_rows,
           round(sum(l_extendedprice), 2)                   AS total_price,
           count(CASE WHEN l_discount > 0.05 THEN 1 END)    AS n_discounted
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    """,
)
def agg_observed_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MapReduce job counters, Spark-native: `observe()` attaches metric
    expressions to a normal pipeline; they are computed DURING the action
    (zero extra passes) and surface as a driver-side side channel. Here
    the observed pipeline is driven by a noop sink and the counters
    themselves become the result — which the oracle recomputes as plain
    aggregates, proving the side channel saw every row exactly once."""
    from pyspark.sql import Observation

    obs = Observation("counters")
    observed = (
        load(spark, sf_dir, "lineitem")
        .filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .observe(
            obs,
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.sum("l_extendedprice"), 2).alias("total_price"),
            F.count(F.when(F.col("l_discount") > 0.05, F.lit(1))).alias("n_discounted"),
        )
    )
    observed.write.format("noop").mode("overwrite").save()
    row = obs.get
    return spark.createDataFrame(
        [(row["n_rows"], row["total_price"], row["n_discounted"])],
        T.StructType(
            [
                T.StructField("n_rows", T.LongType()),
                T.StructField("total_price", T.DoubleType()),
                T.StructField("n_discounted", T.LongType()),
            ]
        ),
    )


def _roundtrip_sink():
    """Build the custom Python DataSource WRITE path (Spark 4
    `DataSource.writer`): each task serializes its partition to one text
    part-file and returns a WriterCommitMessage carrying (path, rows);
    the driver-side commit() writes a _SUCCESS manifest with the total
    row count only after every task has reported — the same all-or-
    nothing contract as Hadoop's FileOutputCommitter. abort() removes
    the partials, so a failed job can't leave a readable half-write."""
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceWriter,
        WriterCommitMessage,
    )

    class PartMessage(WriterCommitMessage):
        def __init__(self, path: str, n: int) -> None:
            self.path = path
            self.n = n

    class RoundtripWriter(DataSourceWriter):
        def __init__(self, options) -> None:
            self.path = options.get("path")

        @staticmethod
        def _fmt(v) -> str:
            # NULL → empty field (cast('' AS DOUBLE) is NULL on read-back);
            # NaN/±inf → the spellings Spark's string→double cast accepts.
            # %.17g alone would crash on None and round-trip NaN to NULL,
            # silently breaking the exactly-once row-count proof.
            if v is None:
                return ""
            if v != v:
                return "NaN"
            if v == float("inf"):
                return "Infinity"
            if v == float("-inf"):
                return "-Infinity"
            return f"{v:.17g}"

        def write(self, rows):
            import os
            import uuid

            part = os.path.join(self.path, f"part-{uuid.uuid4().hex}.txt")
            n = 0
            with open(part, "w") as f:
                for r in rows:
                    f.write(f"{r[0]},{self._fmt(r[1])}\n")
                    n += 1
            return PartMessage(part, n)

        def commit(self, messages) -> None:
            import os

            total = sum(m.n for m in messages)
            with open(os.path.join(self.path, "_SUCCESS"), "w") as f:
                f.write(str(total))

        def abort(self, messages) -> None:
            import os

            for m in messages:
                if m is not None and os.path.exists(m.path):
                    os.remove(m.path)

    class RoundtripSink(DataSource):
        @classmethod
        def name(cls) -> str:
            return "sg_roundtrip_sink"

        def writer(self, schema, overwrite):
            return RoundtripWriter(self.options)

    return RoundtripSink


@query(
    "sink_python_datasource",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(*) AS BIGINT) AS manifest_rows,
           round(sum(value), 2) AS total_value
    FROM events
    """,
)
def sink_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom WRITE connector via the Spark 4 Python DataSource writer —
    the executor-side write / driver-side commit protocol that backs
    every exactly-once file sink. events (event_id, value) stream through
    per-task part-files (%.17g renders doubles round-trip-exact), the
    commit manifest records the acknowledged total, and the query re-reads
    the part-files and aggregates — proving the sink saw every row exactly
    once: n_rows (read back) must equal manifest_rows (acked at commit),
    and both must equal the source count the oracle states. Per-pid
    scratch dir — concurrent runs on the same sf_dir can't cross-read."""
    import os

    out = key_root(sf_dir, "pysink")
    spark.dataSource.register(_roundtrip_sink())
    (
        load(spark, sf_dir, "events")
        .select("event_id", "value")
        .write.format("sg_roundtrip_sink")
        .option("path", out)
        .mode("append")
        .save()
    )
    with open(os.path.join(out, "_SUCCESS")) as f:
        manifest_rows = int(f.read())
    parsed = (
        spark.read.text(os.path.join(out, "part-*.txt"))
        .select(F.split("value", ",").alias("p"))
        .select(
            F.col("p")[0].cast("long").alias("event_id"),
            # the serializer writes NULL as an empty field; nullif keeps
            # ANSI cast strict for genuinely malformed bytes while
            # round-tripping NULL as NULL
            F.nullif(F.col("p")[1], F.lit("")).cast("double").alias("value"),
        )
    )
    return parsed.agg(
        F.count("*").cast("long").alias("n_rows"),
        F.lit(manifest_rows).cast("long").alias("manifest_rows"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )


def _eventstream_datasource():
    from pyspark.sql.datasource import (
        DataSource,
        SimpleDataSourceStreamReader,
    )

    class EventStreamReader(SimpleDataSourceStreamReader):
        """Replays events.parquet in _N_CHUNKS deterministic micro-batches
        (rows ordered by event_id, sliced evenly). The SIMPLE stream
        reader API reads on the DRIVER — Spark's documented prototyping
        path; a production source implements the partitioned
        DataSourceStreamReader instead. Offsets are plain dicts; the
        engine checkpoints them and calls readBetweenOffsets on replay,
        which re-slices the same immutable file — exactly-once by
        determinism."""

        _N_CHUNKS = 4

        def __init__(self, options):
            self.path = options["path"]
            self._rows = None

        def _load(self):
            if self._rows is None:
                import pyarrow.parquet as pq

                t = pq.read_table(
                    self.path, columns=["event_id", "event_type", "value"]
                )
                rows = sorted(
                    zip(
                        t.column("event_id").to_pylist(),
                        t.column("event_type").to_pylist(),
                        t.column("value").to_pylist(),
                    )
                )
                self._rows = rows
            return self._rows

        def _slice(self, i):
            rows = self._load()
            n = len(rows)
            lo = n * i // self._N_CHUNKS
            hi = n * (i + 1) // self._N_CHUNKS
            return rows[lo:hi]

        def initialOffset(self):
            return {"chunk": 0}

        def read(self, start):
            i = start["chunk"]
            if i >= self._N_CHUNKS:
                return iter([]), {"chunk": i}
            return iter(self._slice(i)), {"chunk": i + 1}

        def readBetweenOffsets(self, start, end):
            out = []
            for i in range(start["chunk"], end["chunk"]):
                out.extend(self._slice(i))
            return iter(out)

    class EventStreamSource(DataSource):
        @classmethod
        def name(cls) -> str:
            return "sparkgraft_eventstream"

        def schema(self):
            return T.StructType(
                [
                    T.StructField("event_id", T.LongType()),
                    T.StructField("event_type", T.StringType()),
                    T.StructField("value", T.DoubleType()),
                ]
            )

        def simpleStreamReader(self, schema):
            return EventStreamReader(self.options)

    return EventStreamSource


@query(
    "source_python_stream",
    oracle="""
    SELECT event_type, count(*) AS n,
           round(sum(value), 4) AS total
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def source_python_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom PYTHON STREAMING data source (Spark 4 `simpleStreamReader`
    API): events replayed in 4 deterministic micro-batches through a
    user-defined offset scheme (chunk index), aggregated with a
    streaming complete-mode query, checked against the plain batch
    oracle. `processAllAvailable()` drives the stream until the source
    reports no new offsets (the availableNow trigger falls back to a
    single batch for Python sources — this path exercises REAL
    multi-batch offset progression and the readBetweenOffsets replay
    contract)."""
    import os

    spark.dataSource.register(_eventstream_datasource())
    src = (
        spark.readStream.format("sparkgraft_eventstream")
        .option("path", os.path.join(sf_dir, "events.parquet"))
        .load()
    )
    agg = src.groupBy("event_type").agg(
        F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("total")
    )
    name = f"sg_pystream_{abs(hash(sf_dir)) % 10**8}"
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(name).orderBy("event_type")
