"""Records wider than the code generator accepts.

``avroio.codegen`` declines a generated body over ``_MAX_BODY_LINES``
(about 100 nullable-string fields) and its ``get_batch_*`` entry points
then return closure-backed codecs with the same interface. These tests
drive every Spark call site at such widths (101 strings to decode, 500
to encode) and check the values, bytes and PERMISSIVE null rows against
the closure codecs of ``avroio.binary``. The schemas carry a uuid
field, which the numpy vector tier declines, so every batch reaches the
per-datum tier.
"""

from __future__ import annotations

import datetime as dt
import io
import json

import pandas as pd
import pytest

from redshift_avro_spark.avroio import codegen
from redshift_avro_spark.avroio.binary import (
    AvroDecodeError,
    BinaryReader,
    compile_decoder,
    compile_resolver,
    encode_datum,
)
from redshift_avro_spark.avroio.container import ContainerWriter
from redshift_avro_spark.avroio.schema_model import parse_schema

N_DECODE = 101
N_ENCODE = 500
_EPOCH = dt.datetime(1970, 1, 1)
_UTC = dt.timezone.utc


def _wide(n: int, drop: tuple = (), extra: tuple = ()):
    fields = [
        {"name": "id", "type": "long"},
        {
            "name": "ts",
            "type": ["null", {"type": "long", "logicalType": "timestamp-micros"}],
            "default": None,
        },
        {"name": "uid", "type": {"type": "string", "logicalType": "uuid"}},
        *({"name": f"s{i}", "type": ["null", "string"], "default": None} for i in range(n)),
        *extra,
    ]
    return parse_schema(
        {"type": "record", "name": "Wide", "fields": [f for f in fields if f["name"] not in drop]}
    )


WIDE = _wide(N_DECODE)
# evolved reader: drops a writer field, adds a defaulted one
READER = _wide(
    N_DECODE, drop=("s0",), extra=({"name": "added", "type": "string", "default": "dflt"},)
)
# a writer the generator accepts, resolvable to WIDE
NARROW = _wide(1)
ENC = _wide(N_ENCODE)
# good leading fields, then a string with a negative length
BAD_DATUM = b"\x02\x00\x00\x02\x7f"


def _row(i: int, n: int = N_DECODE) -> dict:
    return {
        "id": i,
        "ts": None if i % 3 else dt.datetime(2024, 1, 1, tzinfo=_UTC) + dt.timedelta(seconds=i),
        "uid": f"00000000-0000-0000-0000-{i:012d}",
        **{f"s{j}": None if (i + j) % 4 == 0 else f"v{i}_{j}" for j in range(n)},
    }


def _norm(rec):
    """A spark-mode record (or collected Row) with its timestamp as epoch
    micros, so closure values and Spark values compare exactly."""
    if rec is None:
        return None
    d = rec.asDict() if hasattr(rec, "asDict") else dict(rec)
    if isinstance(d.get("ts"), dt.datetime):
        d["ts"] = (d["ts"] - _EPOCH) // dt.timedelta(microseconds=1)
    return d


def _closure(blob, writer=WIDE, reader=None):
    fn = (
        compile_decoder(writer, mode="spark")
        if reader is None
        else compile_resolver(writer, reader, mode="spark")
    )
    return _norm(fn(BinaryReader(blob)))


def _collect(df, names: list, order: str = "id") -> list:
    """Columns ``names`` of ``df`` ordered by ``order``, timestamps as
    epoch micros."""
    from pyspark.sql import functions as F

    cols = [F.unix_micros(n).alias(n) if n == "ts" else F.col(n) for n in names]
    return [r.asDict() for r in df.orderBy(order).select(*cols).collect()]


def _container(schema, rows, bad: bool = False) -> bytes:
    buf = io.BytesIO()
    with ContainerWriter(buf, schema) as w:
        for r in rows:
            w.append(r)
        if bad:
            w.append_encoded(BAD_DATUM)
    return buf.getvalue()


def test_generator_declines_these_widths():
    """The fixtures below really exercise the closure-backed tier."""
    with pytest.raises(codegen._Unsupported):
        codegen._build_decoder(WIDE, "spark")
    with pytest.raises(codegen._Unsupported):
        codegen._build_resolver(WIDE, READER, "spark")
    with pytest.raises(codegen._Unsupported):
        codegen._build_encoder(ENC)
    codegen._build_resolver(NARROW, WIDE, "spark")  # generated


def test_closure_backed_decoder_matches_closure():
    blobs = [encode_datum(WIDE, _row(i)) for i in range(6)]
    bd = codegen.get_batch_decoder(json.dumps(WIDE.to_json()), "spark")
    outs = bd.new_columns()
    bd.decode_blobs(blobs + [None, BAD_DATUM], outs, permissive=True)
    got = pd.DataFrame(bd.to_pandas(outs)).astype(object).where(lambda f: f.notna(), None)
    want = [_closure(b) for b in blobs] + [dict.fromkeys(bd.names)] * 2
    assert [_norm(r) for r in got.to_dict("records")] == want
    with pytest.raises(AvroDecodeError):
        bd.decode_blobs([BAD_DATUM], bd.new_columns())

    rows: list = []
    assert bd.decode_stream_rows(b"".join(blobs), 0, 6, rows) == sum(map(len, blobs))
    assert [_norm(r) for r in rows] == want[:6]


def test_column_series_converts_mixed_tier_timestamps():
    """One column can hold a generated resolver's raw epoch ints next to
    closure-decoded datetimes (explode_containers over mixed writers);
    the closure-backed decoder converts both."""
    bd = codegen.get_batch_decoder(json.dumps(WIDE.to_json()), "spark")
    i = bd.names.index("ts")
    ts = dt.datetime(2024, 1, 1, 0, 0, 1)
    micros = (ts - _EPOCH) // dt.timedelta(microseconds=1)
    assert list(bd.column_series(i, [micros, ts, None])) == [ts, ts, None]


def test_append_pandas_matches_per_datum_append():
    rows = [_row(i, N_ENCODE) for i in range(5)]
    pdf = pd.DataFrame(rows).drop(columns=["s7"])  # absent: takes its default
    sync = b"\x01" * 16
    a, b = io.BytesIO(), io.BytesIO()
    with ContainerWriter(a, ENC, sync_marker=sync) as w:
        w.append_pandas(pdf)
    with ContainerWriter(b, ENC, sync_marker=sync) as w:
        for r in rows:
            w.append({k: v for k, v in r.items() if k != "s7"})
    assert a.getvalue() == b.getvalue()


@pytest.mark.parametrize("reader", [None, READER], ids=["writer", "evolved"])
def test_from_avro(spark, reader):
    from redshift_avro_spark.sources.columns import from_avro

    blobs = [encode_datum(WIDE, _row(i)) for i in range(6)] + [None, BAD_DATUM]
    df = spark.createDataFrame(list(enumerate(blobs)), "k int, b binary")
    out_schema = reader or WIDE
    names = [f.name for f in out_schema.fields]
    decoded = df.select(
        "k", from_avro("b", WIDE, reader_schema=reader, mode="PERMISSIVE").alias("r")
    )
    # a null struct reads as a row of nulls
    got = _collect(decoded.select("k", "r.*"), names, order="k")
    null_row = dict.fromkeys(names)
    assert got == [_closure(b, reader=reader) for b in blobs[:6]] + [null_row, null_row]
    strict = df.select(from_avro("b", WIDE, reader_schema=reader).alias("r"))
    with pytest.raises(Exception, match="truncated|AvroDecodeError"):
        strict.collect()


def test_to_avro(spark):
    """500 fields, one of them absent from the struct: its default fills
    in, and every datum is the closure encoder's bytes."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import StructType

    from redshift_avro_spark.avroio.convert import avro_to_spark_type
    from redshift_avro_spark.sources.columns import to_avro

    rows = [_row(i, N_ENCODE) for i in range(4)]
    spark_schema = StructType([f for f in avro_to_spark_type(ENC).fields if f.name != "s7"])
    df = spark.createDataFrame(
        [tuple(r[f.name] for f in spark_schema.fields) for r in rows], spark_schema
    )
    got = df.orderBy("id").select(to_avro(F.struct(*spark_schema.names), ENC).alias("b")).collect()
    want = [encode_datum(ENC, {k: v for k, v in r.items() if k != "s7"}) for r in rows]
    assert [bytes(r.b) for r in got] == want


@pytest.mark.parametrize("reader", [None, READER], ids=["writer", "evolved"])
def test_decode_container(spark, reader):
    from redshift_avro_spark.sources.columns import decode_container

    cells = [
        _container(WIDE, [_row(i) for i in range(3)]),
        _container(WIDE, [_row(i) for i in range(3, 5)]),
        _container(WIDE, [_row(9)], bad=True),
    ]
    df = spark.createDataFrame(list(enumerate(cells)), "k int, cell binary")
    out = df.select(
        "k", decode_container("cell", WIDE, reader_schema=reader, mode="PERMISSIVE").alias("a")
    ).orderBy("k")
    got = [None if r.a is None else [_norm(x) for x in r.a] for r in out.collect()]
    want = [
        [_closure(encode_datum(WIDE, _row(i)), reader=reader) for i in range(3)],
        [_closure(encode_datum(WIDE, _row(i)), reader=reader) for i in range(3, 5)],
        None,
    ]
    assert got == want


def test_explode_containers_mixed_writers(spark):
    """Cells from the wide writer (closure-backed) and from a narrow
    writer (generated resolver, raw timestamp ints) flush as one batch."""

    from redshift_avro_spark.sources.columns import explode_containers

    narrow_rows = [_row(i, 1) for i in range(10, 13)]
    cells = [_container(WIDE, [_row(i) for i in range(4)]), _container(NARROW, narrow_rows)]
    df = spark.createDataFrame(list(enumerate(cells)), "cell_id int, cell binary").coalesce(1)
    out = explode_containers(df, "cell", WIDE, keep_cols=["cell_id"])
    assert out.columns[0] == "cell_id"
    names = [f.name for f in WIDE.fields]
    got = _collect(out, names)
    want = [_closure(encode_datum(WIDE, _row(i))) for i in range(4)] + [
        _closure(encode_datum(NARROW, r), NARROW, WIDE) for r in narrow_rows
    ]
    assert got == want


def test_unwrap_kpl_spring_avro(spark):
    from redshift_avro_spark.sources.envelopes import (
        build_spring_message,
        encode_kpl_simple,
        unwrap_kpl_spring_avro,
    )

    bodies = [encode_datum(WIDE, _row(i)) for i in range(5)]
    aggs = [
        encode_kpl_simple("pk", [build_spring_message({"contentType": "x"}, b) for b in part])
        for part in (bodies[:2], bodies[2:])
    ]
    df = spark.createDataFrame([(a,) for a in aggs], "agg binary")
    out = unwrap_kpl_spring_avro(df, "agg", WIDE)
    names = [f.name for f in WIDE.fields]
    got = _collect(out, names)
    assert got == [_closure(b) for b in bodies]


def test_write_read_avro_roundtrip(spark, tmp_path):
    from redshift_avro_spark.avroio.convert import avro_to_spark_type
    from redshift_avro_spark.sources.files import read_avro, write_avro

    rows = [_row(i) for i in range(6)]
    names = [f.name for f in WIDE.fields]
    df = spark.createDataFrame([tuple(r[n] for n in names) for r in rows], avro_to_spark_type(WIDE))
    path = str(tmp_path / "wide")
    write_avro(df, path, avro_schema=WIDE)
    blobs = [encode_datum(WIDE, r) for r in rows]
    for reader in (None, READER):
        out = read_avro(spark, path, reader_schema=reader)
        cols = [f.name for f in (reader or WIDE).fields]
        got = _collect(out, cols)
        assert got == [_closure(b, reader=reader) for b in blobs]


@pytest.mark.parametrize("schema", [NARROW, WIDE], ids=["generated", "closure"])
def test_read_with_reordered_user_schema(spark, tmp_path, schema):
    """A user-given read schema in another field order, with one field
    the file lacks, picks the decoded columns by name."""
    from pyspark.sql.types import StringType, StructField, StructType

    from redshift_avro_spark.avroio.convert import avro_to_spark_type
    from redshift_avro_spark.sources.files import register_avro_datasource, write_avro

    names = [f.name for f in schema.fields]
    n = len(names) - 3
    rows = [_row(i, n) for i in range(5)]
    file_type = avro_to_spark_type(schema)
    df = spark.createDataFrame([tuple(r[k] for k in names) for r in rows], file_type)
    path = str(tmp_path / "reordered")
    write_avro(df, path, avro_schema=schema)
    user = StructType(
        [StructField("missing", StringType(), True)] + list(reversed(file_type.fields))
    )
    register_avro_datasource(spark)
    out = spark.read.format("avro_py").schema(user).load(path)
    assert out.columns == user.names
    got = _collect(out, user.names)
    want = [{"missing": None, **_closure(encode_datum(schema, r), schema)} for r in rows]
    assert got == want
