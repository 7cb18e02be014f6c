"""avro_lake: write two seeded tables as deflate Avro container files,
read both back in full, and read the nested one with an evolved reader
schema. Writes and reads sit in the same layer, so both are timed, and
the stored size is reported next to them."""

from __future__ import annotations

import os
import time

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import gen
from common import Ctx, dir_bytes, median, plan_shape

_UNION = pa.struct([("member0", pa.string()), ("member1", pa.int64())])
NESTED_ARROW = pa.schema(
    [
        ("order_id", pa.int64()),
        ("qty", pa.int32()),
        ("note", pa.string()),
        ("tags", pa.list_(pa.string())),
        ("attrs", pa.map_(pa.string(), pa.float64())),
        ("ref", _UNION),
        ("ship", pa.struct([("city", pa.string()), ("zip", pa.int32())])),
    ]
)


def _union(v):
    if v is None:
        return None
    return {"member0": v, "member1": None} if isinstance(v, str) else {"member0": None, "member1": v}


def land_sources(inp: gen.Inputs, root: str) -> dict:
    """The two source tables as parquet (the timed write scans them),
    plus a 200-row warm-up cut of the nested one. Returns name → directory."""
    cols = {k: [r[k] for r in inp.flat_rows] for k in gen.EVENT_FIELDS}
    flat = pa.table(
        {
            "event_id": pa.array(cols["event_id"], pa.int64()),
            "ts": pa.array(cols["ts"], pa.timestamp("us", tz="UTC")),
            "user_id": pa.array(cols["user_id"], pa.int64()),
            "event_type": pa.array(cols["event_type"], pa.string()),
            "value": pa.array(cols["value"], pa.float64()),
            "props": pa.array(cols["props"], pa.string()),
        }
    )
    rows = [
        {**r, "attrs": list(r["attrs"].items()), "ref": _union(r["ref"])} for r in inp.nested_rows
    ]
    nested = pa.Table.from_pylist(rows, schema=NESTED_ARROW)
    tables = {"flat": flat, "nested": nested, "warm": nested.slice(0, 200)}
    dirs = {}
    for name, tbl in tables.items():
        dirs[name] = os.path.join(root, f"{name}_src")
        os.makedirs(dirs[name])
        pq.write_table(tbl, os.path.join(dirs[name], "part-0.parquet"))
    return dirs


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class AvroLake:
    part = "avro_lake"

    def __init__(self, ctx: Ctx, inp: gen.Inputs, src: dict) -> None:
        self.ctx = ctx
        self.inp = inp
        self.src = src
        self.flat_out = ctx.path("lake", "flat")
        self.nested_out = ctx.path("lake", "nested")
        self.samples = {"write": [], "read": [], "evolved": [], "bytes_per_row": []}

    def _cycle(self) -> None:
        """Write both tables, read both back, read the nested one evolved."""
        from redshift_avro_spark.sources.files import read_avro, write_avro

        ctx, spark, tr = self.ctx, self.ctx.spark, self.ctx.tracer
        n_flat, n_nested = len(self.inp.flat_rows), len(self.inp.nested_rows)
        ctx.group("avro_lake.write")
        t0 = time.perf_counter()
        with tr.span("sources.files.write_avro"):
            write_avro(spark.read.parquet(self.src["flat"]), self.flat_out, compression="deflate",
                       avro_schema=gen.EVENT_SCHEMA)
            write_avro(spark.read.parquet(self.src["nested"]), self.nested_out, compression="deflate",
                       avro_schema=gen.NESTED_SCHEMA)
        ctx.group("avro_lake.read")
        t1 = time.perf_counter()
        with tr.span("sources.files.read_avro"):
            _noop(read_avro(spark, self.flat_out))
            _noop(read_avro(spark, self.nested_out))
        ctx.group("avro_lake.evolved_read")
        t2 = time.perf_counter()
        with tr.span("sources.files.read_avro.evolved"):
            _noop(read_avro(spark, self.nested_out, reader_schema=gen.EVOLVED_READER))
        t3 = time.perf_counter()
        stored = sum(
            dir_bytes(d) - os.path.getsize(os.path.join(d, "_SUCCESS"))
            for d in (self.flat_out, self.nested_out)
        )
        self.samples["write"].append((n_flat + n_nested, t1 - t0))
        self.samples["read"].append((n_flat + n_nested, t2 - t1))
        self.samples["evolved"].append((n_nested, t3 - t2))
        self.samples["bytes_per_row"].append(stored / (n_flat + n_nested))

    def warm(self) -> None:
        """Write and read the 200-row nested cut, untimed: the Python data
        source's first use costs seconds."""
        from redshift_avro_spark.sources.files import read_avro, write_avro

        def cycle():
            spark, out = self.ctx.spark, self.ctx.path("lake", "warm")
            self.ctx.group("avro_lake.warmup")
            write_avro(spark.read.parquet(self.src["warm"]), out, compression="deflate",
                       avro_schema=gen.NESTED_SCHEMA)
            _noop(read_avro(spark, out))

        self.ctx.op(self.part, cycle)

    def step(self) -> None:
        """One measured write / read / evolved-read cycle."""
        with self.ctx.tracer.span("avro_lake"):
            self.ctx.op(self.part, self._cycle)

    def check(self) -> None:
        self.ctx.op(self.part, self._check)

    def _check(self) -> None:
        """Read-back content equals the source rows; the evolved read
        drops `note`, widens `qty` and fills `priority` with its default."""
        from redshift_avro_spark.sources.files import read_avro

        ctx = self.ctx
        spark = ctx.spark
        ctx.group("avro_lake.check")
        flat = read_avro(spark, self.flat_out).withColumn("ts", F.unix_micros("ts"))
        got = sorted((r.asDict() for r in flat.collect()), key=lambda r: r["event_id"])
        ctx.check(self.part, got == self.inp.flat_rows, "flat read-back differs from source")

        def plain(r: dict) -> dict:
            ref = r["ref"]
            ref = None if ref is None else (ref["member0"] if ref["member0"] is not None else ref["member1"])
            return {**r, "ref": ref}

        nested = [plain(r.asDict(recursive=True)) for r in read_avro(spark, self.nested_out).collect()]
        nested.sort(key=lambda r: r["order_id"])
        ctx.check(self.part, nested == self.inp.nested_rows, "nested read-back differs from source")

        evolved = [
            plain(r.asDict(recursive=True))
            for r in read_avro(spark, self.nested_out, reader_schema=gen.EVOLVED_READER).collect()
        ]
        evolved.sort(key=lambda r: r["order_id"])
        want = [
            {**{k: v for k, v in r.items() if k != "note"}, "priority": gen.PRIORITY_DEFAULT}
            for r in self.inp.nested_rows
        ]
        ctx.check(self.part, evolved == want, "evolved read differs (defaults/promotion/drop)")

    def report(self) -> None:
        ctx = self.ctx
        s = self.samples
        if not s["write"]:
            return
        # rows ÷ wall time, over every measured cycle
        for key, metric in (("write", "write"), ("read", "read"), ("evolved", "evolved_read")):
            rows, secs = (sum(x) for x in zip(*s[key]))
            ctx.metric(f"avro_lake.{metric}_rows_per_s", rows / secs, "rows/s")
        ctx.metric("avro_lake.stored_bytes_per_row", median(s["bytes_per_row"]), "B")
        ctx.detail["avro_lake.cycles"] = {k: s[k] for k in ("write", "read", "evolved")}
        if ctx.traced:
            from redshift_avro_spark.sources.files import read_avro

            spark = ctx.spark
            reads = {
                "flat": read_avro(spark, self.flat_out),
                "nested": read_avro(spark, self.nested_out),
                "evolved": read_avro(spark, self.nested_out, reader_schema=gen.EVOLVED_READER),
            }
            ctx.layer(
                "sources.files.read_splits",
                sum(df.rdd.getNumPartitions() for k, df in reads.items() if k != "evolved"),
                "count",
            )
            for k, df in reads.items():
                udfs, shuffles = plan_shape(df)
                ctx.layer(f"plans.avro_lake.read_{k}.codec_udf_nodes", udfs, "count")
                ctx.layer(f"plans.avro_lake.read_{k}.shuffles", shuffles, "count")
