"""Apache Avro container-file round-trip via a from-spec Python codec
(SURVEY.md §2.12 `scan_avro_roundtrip`).

Avro is THE classic Hadoop serialization format, but this container ships
no `spark-avro` connector jar and has no network to fetch one
(`$SPARK_HOME/jars` holds only avro core / avro-mapred, which Spark's
DataFrame reader cannot use directly). Rather than record a blocked-format
justification, the gap closes from first principles: the Avro Object
Container File layout and binary encoding are a short public spec
(Apache Avro 1.12 specification, "Object Container Files" + "Binary
Encoding" + "Logical Types" — zigzag-varint longs, length-prefixed
UTF-8, little-endian IEEE doubles, sync-marker-delimited blocks,
timestamp-micros/date annotations, and the "deflate" codec as RFC 1951
raw deflate), implemented here as a writer/reader pair wired through
the Spark 4 Python DataSource API, the same executor-side write /
driver-commit and partition-per-file read contracts as
`sink_python_datasource` / `source_fixedwidth_python`. The embedded
record schema derives from the frame the writer is handed (r7 —
formerly a hard-coded orders layout).

Interop is not taken on faith: tests/test_round6_ops.py re-reads a
Python-written file with the REFERENCE Java implementation
(avro-1.12.1.jar, already on Spark's JVM classpath) through the py4j
gateway and compares record values, and the reader is schema-driven from
the file's own embedded header, not from a hard-coded layout.

Scale: writes happen one part-file per task and reads plan one partition
per file — parallelism follows the file count exactly like any
InputFormat; nothing corpus-sized touches the driver (the driver reads
one file HEADER to plan the schema).
"""

from __future__ import annotations

import calendar
import datetime as _dt
import json
import os
import struct
import zlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .catalog import load
from .registry import key_root, query

_MAGIC = b"Obj\x01"
_BLOCK_ROWS = 1000
_EPOCH_DATE = _dt.date(1970, 1, 1)
_EPOCH_DT = _dt.datetime(1970, 1, 1)

# ---------------------------------------------------------------------------
# binary encoding (spec: zigzag varint longs; length-prefixed bytes/strings;
# little-endian IEEE floats/doubles; 1-byte booleans)
# ---------------------------------------------------------------------------


def _enc_long(n: int, out: bytearray) -> None:
    u = (n << 1) ^ (n >> 63)  # zigzag (Python two's-complement semantics)
    while True:
        b = u & 0x7F
        u >>= 7
        if u:
            out.append(b | 0x80)
        else:
            out.append(b)
            return


def _enc_bytes(b: bytes, out: bytearray) -> None:
    _enc_long(len(b), out)
    out.extend(b)


def _enc_string(s: str, out: bytearray) -> None:
    _enc_bytes(s.encode("utf-8"), out)


def _enc_timestamp_micros(v: _dt.datetime, out: bytearray) -> None:
    # Exact integer epoch-micros from the naive datetime's fields
    # (sessions are pinned UTC by catalog.load, so fields ARE UTC) —
    # never float .timestamp(), whose double mantissa is ~0.5 µs coarse
    # at 2024 epochs.
    micros = calendar.timegm(v.utctimetuple()) * 1_000_000 + v.microsecond
    _enc_long(micros, out)


def _enc_date(v: _dt.date, out: bytearray) -> None:
    _enc_long((v - _EPOCH_DATE).days, out)


_ENCODERS = {
    "long": _enc_long,
    "int": _enc_long,
    "string": lambda v, out: _enc_string(v, out),
    "double": lambda v, out: out.extend(struct.pack("<d", v)),
    "float": lambda v, out: out.extend(struct.pack("<f", v)),
    "boolean": lambda v, out: out.append(1 if v else 0),
    # Avro logical types (spec "Logical Types"): annotations over the
    # long/int wire encodings.
    "timestamp-micros": _enc_timestamp_micros,
    "date": _enc_date,
}


def _dec_long(buf: bytes, pos: int) -> tuple[int, int]:
    u = shift = 0
    while True:
        b = buf[pos]
        pos += 1
        u |= (b & 0x7F) << shift
        if not b & 0x80:
            break
        shift += 7
    return (u >> 1) ^ -(u & 1), pos


def _dec_bytes(buf: bytes, pos: int) -> tuple[bytes, int]:
    n, pos = _dec_long(buf, pos)
    return buf[pos : pos + n], pos + n


def _dec_timestamp_micros(buf: bytes, pos: int) -> tuple[_dt.datetime, int]:
    m, pos = _dec_long(buf, pos)
    return _EPOCH_DT + _dt.timedelta(microseconds=m), pos


def _dec_date(buf: bytes, pos: int) -> tuple[_dt.date, int]:
    d, pos = _dec_long(buf, pos)
    return _EPOCH_DATE + _dt.timedelta(days=d), pos


_DECODERS = {
    "long": _dec_long,
    "int": _dec_long,
    "string": lambda buf, pos: (
        lambda b, p: (b.decode("utf-8"), p)
    )(*_dec_bytes(buf, pos)),
    "double": lambda buf, pos: (
        struct.unpack_from("<d", buf, pos)[0],
        pos + 8,
    ),
    "float": lambda buf, pos: (
        struct.unpack_from("<f", buf, pos)[0],
        pos + 4,
    ),
    "boolean": lambda buf, pos: (buf[pos] == 1, pos + 1),
    "timestamp-micros": _dec_timestamp_micros,
    "date": _dec_date,
}

_AVRO_TO_SPARK = {
    "long": "bigint",
    "int": "int",
    "string": "string",
    "double": "double",
    "float": "float",
    "boolean": "boolean",
    "timestamp-micros": "timestamp",
    "date": "date",
}


def _type_name(t) -> str:
    """Canonical codec key for an Avro field type: logical types (dict
    form `{"type": "long", "logicalType": "timestamp-micros"}`) resolve
    to the logical name when supported, else to their base wire type
    (the spec's mandated fallback for unknown logical types)."""
    if isinstance(t, dict):
        logical = t.get("logicalType")
        if logical in _DECODERS:
            return logical
        return t["type"]
    return t


def avro_schema_from_spark(ddl_fields, name: str = "sparkgraft_record") -> dict:
    """Derive the embedded Avro record schema from the Spark StructType
    the DataSource writer is handed — the writer serializes whatever
    frame the user writes, or fails loudly on a type this codec does not
    carry (silent mis-serialization was the former failure mode when the
    schema was hard-coded)."""
    spark_to_avro = {
        "bigint": "long",
        "int": "int",
        "string": "string",
        "double": "double",
        "float": "float",
        "boolean": "boolean",
        "timestamp": {"type": "long", "logicalType": "timestamp-micros"},
        "date": {"type": "int", "logicalType": "date"},
    }
    fields = []
    for f in ddl_fields:
        simple = f.dataType.simpleString()
        if simple not in spark_to_avro:
            raise ValueError(
                f"sg_avro cannot serialize column {f.name!r} of type "
                f"{simple!r}; supported: {sorted(spark_to_avro)}"
            )
        fields.append({"name": f.name, "type": spark_to_avro[simple]})
    return {
        "type": "record",
        "name": name,
        "namespace": "sparkgraft",
        "fields": fields,
    }


def write_container_file(
    path: str, rows, schema: dict, sync: bytes, codec: str = "null"
) -> int:
    """Write one Avro Object Container File: header with the embedded
    schema, then ≤ _BLOCK_ROWS-record blocks delimited by the 16-byte
    sync marker. ``codec`` is ``null`` or ``deflate`` (RFC 1951 raw
    deflate per the spec — no zlib header/checksum). Returns the row
    count."""
    if codec not in ("null", "deflate"):
        raise ValueError(f"unsupported Avro codec {codec!r}")
    field_types = [_type_name(f["type"]) for f in schema["fields"]]
    encoders = [_ENCODERS[t] for t in field_types]
    header = bytearray(_MAGIC)
    _enc_long(2, header)  # metadata map: one block of two entries
    _enc_string("avro.schema", header)
    _enc_bytes(json.dumps(schema).encode("utf-8"), header)
    _enc_string("avro.codec", header)
    _enc_bytes(codec.encode("ascii"), header)
    _enc_long(0, header)  # map terminator
    header.extend(sync)

    n_total = 0
    with open(path, "wb") as fh:
        fh.write(header)
        block = bytearray()
        n_block = 0

        def flush() -> None:
            nonlocal block, n_block
            if not n_block:
                return
            payload = bytes(block)
            if codec == "deflate":
                # zlib default effort (-1 == level 6), matching Avro's
                # own deflate default; the previous level 9 spent ~3x
                # the CPU per block for a marginal ratio gain (guide
                # §1.2 step 2 — per-task work). Any level is valid RFC
                # 1951 deflate; readers are level-agnostic.
                co = zlib.compressobj(
                    zlib.Z_DEFAULT_COMPRESSION, zlib.DEFLATED, -15
                )
                payload = co.compress(payload) + co.flush()
            head = bytearray()
            _enc_long(n_block, head)
            _enc_long(len(payload), head)
            fh.write(head)
            fh.write(payload)
            fh.write(sync)
            block = bytearray()
            n_block = 0

        for row in rows:
            for enc, v in zip(encoders, row):
                enc(v, block)
            n_block += 1
            n_total += 1
            if n_block >= _BLOCK_ROWS:
                flush()
        flush()
    return n_total


def read_header(buf: bytes) -> tuple[dict, bytes, int, str]:
    """(schema, sync_marker, payload_offset, codec) from a container
    file's bytes; validates magic and accepts the null or deflate codec."""
    if buf[:4] != _MAGIC:
        raise ValueError("not an Avro object container file (bad magic)")
    pos = 4
    meta: dict[str, bytes] = {}
    while True:
        count, pos = _dec_long(buf, pos)
        if count == 0:
            break
        if count < 0:  # spec: negative count is followed by a byte size
            _, pos = _dec_long(buf, pos)
            count = -count
        for _ in range(count):
            k, pos = _dec_bytes(buf, pos)
            v, pos = _dec_bytes(buf, pos)
            meta[k.decode("utf-8")] = v
    codec = meta.get("avro.codec", b"null").decode("ascii")
    if codec not in ("null", "deflate"):
        raise ValueError(f"unsupported Avro codec {codec!r}")
    schema = json.loads(meta["avro.schema"])
    sync = buf[pos : pos + 16]
    return schema, sync, pos + 16, codec


def read_container_file(path: str):
    """Yield records (tuples) from a container file, decoding with the
    schema (and codec) embedded in ITS OWN header."""
    with open(path, "rb") as fh:
        buf = fh.read()
    schema, sync, pos, codec = read_header(buf)
    decoders = [_DECODERS[_type_name(f["type"])] for f in schema["fields"]]
    while pos < len(buf):
        n, pos = _dec_long(buf, pos)
        size, pos = _dec_long(buf, pos)
        raw = buf[pos : pos + size]
        pos += size
        if codec == "deflate":
            raw = zlib.decompress(raw, -15)
        rp = 0
        for _ in range(n):
            vals = []
            for dec in decoders:
                v, rp = dec(raw, rp)
                vals.append(v)
            yield tuple(vals)
        if rp != len(raw):
            raise ValueError("Avro block size mismatch")
        if buf[pos : pos + 16] != sync:
            raise ValueError("Avro sync marker mismatch")
        pos += 16


def spark_schema_of(path: str) -> str:
    """DDL schema string derived from one file's embedded Avro schema —
    the driver-side planning step (header-only; data blocks unread)."""
    with open(path, "rb") as fh:
        buf = fh.read(65536)
    schema, _, _, _ = read_header(buf)
    return ", ".join(
        f"{f['name']} {_AVRO_TO_SPARK[_type_name(f['type'])]}"
        for f in schema["fields"]
    )


_ORDERS_AVRO_SCHEMA = {
    "type": "record",
    "name": "order_line",
    "namespace": "sparkgraft",
    "fields": [
        {"name": "o_orderkey", "type": "long"},
        {"name": "o_orderstatus", "type": "string"},
        {"name": "o_totalprice", "type": "double"},
    ],
}


def _avro_datasource():
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceReader,
        DataSourceWriter,
        InputPartition,
        WriterCommitMessage,
    )

    class _FilePartition(InputPartition):
        def __init__(self, path: str) -> None:
            self.path = path

    class PartMessage(WriterCommitMessage):
        def __init__(self, path: str, n: int) -> None:
            self.path = path
            self.n = n

    class AvroWriter(DataSourceWriter):
        def __init__(self, options, avro_schema: dict) -> None:
            self.path = options.get("path")
            self.codec = options.get("codec", "null")
            self.avro_schema = avro_schema

        def write(self, rows):
            import uuid

            part = os.path.join(
                self.path, f"part-{uuid.uuid4().hex}.avro"
            )
            n = write_container_file(
                part, rows, self.avro_schema, uuid.uuid4().bytes,
                codec=self.codec,
            )
            return PartMessage(part, n)

        def commit(self, messages) -> None:
            total = sum(m.n for m in messages)
            with open(os.path.join(self.path, "_SUCCESS"), "w") as f:
                f.write(str(total))

        def abort(self, messages) -> None:
            for m in messages:
                if m is not None and os.path.exists(m.path):
                    os.remove(m.path)

    class AvroReader(DataSourceReader):
        def __init__(self, options) -> None:
            self.dir = options.get("path")

        def partitions(self):
            return [
                _FilePartition(os.path.join(self.dir, f))
                for f in sorted(os.listdir(self.dir))
                if f.endswith(".avro")
            ]

        def read(self, partition):
            yield from read_container_file(partition.path)

    class AvroSource(DataSource):
        @classmethod
        def name(cls) -> str:
            return "sg_avro"

        def schema(self):
            d = self.options.get("path")
            files = sorted(
                f for f in os.listdir(d) if f.endswith(".avro")
            )
            return spark_schema_of(os.path.join(d, files[0]))

        def reader(self, schema) -> DataSourceReader:
            return AvroReader(self.options)

        def writer(self, schema, overwrite):
            # The embedded record schema derives from the schema Spark
            # hands the writer — whatever frame the user writes — never
            # a hard-coded layout (which silently mis-serialized any
            # other frame written through the registered format).
            return AvroWriter(
                self.options, avro_schema_from_spark(schema.fields)
            )

    return AvroSource


@query(
    "scan_avro_roundtrip",
    oracle="""
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS total_cents
    FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
)
def scan_avro_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Avro conversion (the classic Hadoop serialization format): orders
    → Avro object container files (one per task, from-spec Python codec,
    null codec, schema embedded per file) → read back through the
    partition-per-file Python DataSource, whose planning derives the
    Spark schema from the file's OWN header → exact-cents aggregate the
    oracle restates over the source table, proving the binary round-trip
    lost nothing. Java-Avro interop for the written files is pinned in
    tests/test_round6_ops.py via the reference avro-1.12.1 reader."""
    out = key_root(sf_dir, "avro")
    spark.dataSource.register(_avro_datasource())
    (
        load(spark, sf_dir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        # r14 (guide §2.5 — one unsplittable input): the sfN orders
        # table is a single parquet file, so the scan plans ONE task
        # and the per-row Python codec ran serially on one core with
        # the rest idle. Repartition to the core budget so the encode
        # (write: one container file per task) AND the decode (read:
        # one partition per file) parallelize; the tiny shuffle is
        # nothing next to the serial-Python wall it removes.
        .repartition(spark.sparkContext.defaultParallelism)
        .write.format("sg_avro")
        .option("path", out)
        .mode("append")
        .save()
    )
    back = spark.read.format("sg_avro").option("path", out).load()
    return (
        back.groupBy("o_orderstatus")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("total_cents"),
        )
        .orderBy("o_orderstatus")
    )


@query(
    "scan_avro_deflate_roundtrip",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
             AS value_cents,
           CAST(epoch_us(min(ts)) AS BIGINT) AS first_us,
           CAST(epoch_us(max(ts)) AS BIGINT) AS last_us,
           CAST(count(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_days
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def scan_avro_deflate_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Avro round-trip in the form real Hadoop-era corpora take:
    DEFLATE-compressed blocks (RFC 1951 raw deflate per the spec's
    "deflate" codec — no zlib header) and LOGICAL TYPES
    (timestamp-micros over long, date over int) — the null-codec
    flat-schema `scan_avro_roundtrip` is the demo form; this one carries
    events.ts at exact microsecond precision plus a derived date column
    through the compressed container and back. The embedded record
    schema derives from the written frame's own Spark schema (nothing
    hard-coded), the reader plans from the file's own header including
    logical-type resolution, and the oracle restates the exact-µs /
    exact-cents aggregate over the SOURCE table, proving the compressed
    binary round-trip lost nothing — timestamps compare as integer
    epoch-µs (`unix_micros` / `epoch_us`), never formatted strings.
    Java avro-1.12.1 interop for the deflate+logical-type file is pinned
    in tests/test_round7_ops.py. Scale: same one-part-file-per-task
    write / partition-per-file read as the null-codec key; deflate adds
    CPU per block, never a driver touch."""
    out = key_root(sf_dir, "avro-defl")
    spark.dataSource.register(_avro_datasource())
    (
        load(spark, sf_dir, "events")
        .select(
            "event_id",
            "ts",
            F.to_date("ts").alias("day"),
            "event_type",
            "value",
        )
        # r14: parallelize the per-row Python codec across the core
        # budget (single-file source planned ONE task — see the
        # scan_avro_roundtrip note)
        .repartition(spark.sparkContext.defaultParallelism)
        .write.format("sg_avro")
        .option("path", out)
        .option("codec", "deflate")
        .mode("append")
        .save()
    )
    back = spark.read.format("sg_avro").option("path", out).load()
    return (
        back.groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("long"))
            .cast("long")
            .alias("value_cents"),
            F.unix_micros(F.min("ts")).alias("first_us"),
            F.unix_micros(F.max("ts")).alias("last_us"),
            F.countDistinct("day").cast("long").alias("n_days"),
        )
        .orderBy("event_type")
    )
