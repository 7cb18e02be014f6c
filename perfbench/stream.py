"""stream_ingest: replay the landed backlogs through Structured Streaming.

Each drain is a closed loop: an ``availableNow`` query works through the
whole backlog one file (one micro-batch) at a time, and the next drain
starts only when the last one has finished. Every micro-batch is forced
in full by a ``noop`` write inside ``foreach_batch_sink``; the same action
observes the batch's row count and value sums for the output check.
"""

from __future__ import annotations

import itertools
import shutil
import time

from pyspark.sql import Observation
from pyspark.sql import functions as F
from pyspark.sql import types as T

import gen
from common import Ctx, median, plan_shape

KAFKA_SCHEMA = T.StructType(
    [T.StructField("offset", T.LongType()), T.StructField("payload", T.BinaryType())]
)
KINESIS_SCHEMA = T.StructType([T.StructField("hexcell", T.StringType())])
_obs_ids = itertools.count()


def kafka_query(df):
    """raw datums → PERMISSIVE decode → filter on a decoded field."""
    from redshift_avro_spark.streaming.pipeline import decode_avro_stream

    decoded = decode_avro_stream(df, "payload", gen.EVENT_SCHEMA, mode="PERMISSIVE")
    return decoded.where(F.col("value") > 1.0)


def kinesis_query(df):
    """hex KPL aggregates → unhex → fused KPL/Spring/Avro unwrap."""
    from redshift_avro_spark.sources.envelopes import unwrap_kpl_spring_avro

    return unwrap_kpl_spring_avro(
        df.select(F.unhex("hexcell").alias("agg")), "agg", gen.EVENT_SCHEMA
    )


def _expected(events, filtered: bool) -> dict:
    kept = [e for e in events if e["value"] > 1.0 or not filtered]
    return {
        "n": len(kept),
        "value_sum": sum(e["value"] for e in kept),
        "id_sum": sum(e["event_id"] for e in kept),
    }


def _drain(ctx: Ctx, name: str, backlog: str, schema, build) -> dict:
    """One availableNow drain of ``backlog``; returns the wall time, the
    per-batch progress and the observed totals."""
    from redshift_avro_spark.streaming.pipeline import foreach_batch_sink, read_binary_file_stream

    spark = ctx.spark
    ckpt = ctx.path("ckpt", f"{name}-{next(_obs_ids)}")
    observed = []

    def sink(batch_df, batch_id):
        obs = Observation(f"pb_{name}_{next(_obs_ids)}")
        batch_df.observe(
            obs,
            F.count(F.lit(1)).alias("n"),
            F.coalesce(F.sum("value"), F.lit(0.0)).alias("value_sum"),
            F.coalesce(F.sum("event_id"), F.lit(0)).alias("id_sum"),
        ).write.format("noop").mode("overwrite").save()
        observed.append(obs.get)

    stream = read_binary_file_stream(spark, backlog, schema, max_files_per_trigger=1)
    out = build(stream)
    with ctx.tracer.span("streaming.drain"):
        t0 = time.perf_counter()
        q = foreach_batch_sink(out, sink, ckpt)
        # micro-batch jobs run under the query's run id as job group
        ctx.labels[str(q.runId)] = ctx.label(f"stream_ingest.{name}")
        q.awaitTermination()
        wall = time.perf_counter() - t0
    if q.exception() is not None:
        raise RuntimeError(str(q.exception()))
    progress = [p for p in q.recentProgress if p.numInputRows > 0]
    shutil.rmtree(ckpt, ignore_errors=True)
    return {
        "wall": wall,
        "input_rows": sum(p.numInputRows for p in progress),
        "durations": [dict(p.durationMs) for p in progress],
        "observed": {
            k: sum(o[k] for o in observed) for k in ("n", "value_sum", "id_sum")
        },
    }


class StreamIngest:
    part = "stream_ingest"

    def __init__(self, ctx: Ctx, inp: gen.Inputs, dirs: dict) -> None:
        self.ctx = ctx
        self.inp = inp
        self.dirs = dirs
        self.expected = {
            "kafka": _expected(inp.kafka_events, filtered=True),
            "kinesis": _expected(inp.kinesis_events, filtered=False),
        }
        self.runs = {"kafka": [], "kinesis": []}

    def _one(self, name: str, record: bool = True) -> None:
        ctx = self.ctx
        if name == "kafka":
            r = _drain(ctx, "kafka", self.dirs["kafka"], KAFKA_SCHEMA, kafka_query)
            # every datum is decoded, the poison ones included
            r["rows"] = r["input_rows"]
            inputs = len(self.inp.kafka_events) + self.inp.poison_rows
        else:
            r = _drain(ctx, "kinesis", self.dirs["kinesis"], KINESIS_SCHEMA, kinesis_query)
            # one input row is a KPL aggregate; the decoded rows are records
            r["rows"] = r["observed"]["n"]
            inputs = sum(len(b) for b in self.inp.kinesis_batches)
        exp = self.expected[name]
        ctx.check(self.part, r["observed"] == exp, f"{name} totals {r['observed']} != {exp}")
        ctx.check(self.part, r["input_rows"] == inputs, f"{name} input rows {r['input_rows']} != {inputs}")
        if record:
            self.runs[name].append(r)

    def warm(self, name: str) -> None:
        """One full drain of the ``name`` query, untimed: Python workers,
        codegen caches and the streaming classes load, and the JIT settles
        (a one-file warm-up left the first measured drain ~15 % slower)."""
        self.ctx.op(self.part, self._one, name, False)

    def step(self, name: str) -> None:
        """One measured drain of the ``name`` query."""
        with self.ctx.tracer.span(f"stream_ingest.{name}"):
            self.ctx.op(self.part, self._one, name)

    def check_permissive(self) -> None:
        """PERMISSIVE must null exactly the planted poison rows of the
        whole backlog (a batch decode; it runs beside the warm-ups)."""
        self.ctx.op(self.part, self._check_permissive)

    def _check_permissive(self) -> None:
        from redshift_avro_spark.streaming.pipeline import decode_avro_stream

        ctx = self.ctx
        ctx.group("stream_ingest.permissive_check")
        df = decode_avro_stream(
            ctx.spark.read.parquet(self.dirs["kafka"]), "payload", gen.EVENT_SCHEMA, mode="PERMISSIVE"
        )
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(F.col("event_id").isNull(), 1).otherwise(0)).alias("nulls"),
        ).collect()[0]
        total = len(self.inp.kafka_events) + self.inp.poison_rows
        ctx.check(self.part, row["n"] == total, f"permissive rows {row['n']} != {total}")
        ctx.check(
            self.part,
            row["nulls"] == self.inp.poison_rows,
            f"permissive nulls {row['nulls']} != planted {self.inp.poison_rows}",
        )
        ctx.detail["stream_ingest.permissive_nulls"] = row["nulls"]

    def report(self) -> None:
        ctx = self.ctx
        for name in ("kafka", "kinesis"):
            runs = self.runs[name]
            if not runs:
                continue
            # decoded rows ÷ drain time, over every measured drain
            ctx.metric(
                f"stream_ingest.{name}_rows_per_s",
                sum(r["rows"] for r in runs) / sum(r["wall"] for r in runs),
                "rows/s",
            )
            batch_s = [d["triggerExecution"] / 1e3 for r in runs for d in r["durations"]]
            ctx.metric(f"stream_ingest.{name}_batch_p50_s", median(batch_s), "s")
            ctx.detail[f"stream_ingest.{name}"] = {
                "drains": len(runs),
                "batches": len(batch_s),
                "rows": [r["rows"] for r in runs],
                "drain_s": [r["wall"] for r in runs],
                "batch_s": batch_s,
            }
        if ctx.traced and self.runs["kafka"]:
            durs = [d for r in self.runs["kafka"] + self.runs["kinesis"] for d in r["durations"]]
            for key, metric in (
                ("addBatch", "add_batch_ms"),
                ("queryPlanning", "query_planning_ms"),
                ("walCommit", "wal_commit_ms"),
                ("latestOffset", "latest_offset_ms"),
            ):
                ctx.layer(f"streaming.{metric}", median([d.get(key, 0) for d in durs]), "ms")
            spark = ctx.spark
            kafka_df = kafka_query(spark.read.schema(KAFKA_SCHEMA).parquet(self.dirs["kafka"]))
            kinesis_df = kinesis_query(spark.read.schema(KINESIS_SCHEMA).parquet(self.dirs["kinesis"]))
            for name, df in (("kafka", kafka_df), ("kinesis", kinesis_df)):
                udfs, shuffles = plan_shape(df)
                ctx.layer(f"plans.stream_ingest.{name}.codec_udf_nodes", udfs, "count")
                ctx.layer(f"plans.stream_ingest.{name}.shuffles", shuffles, "count")
                if name == "kafka":
                    # 2 while the pushed-down filter duplicates the decode UDF
                    ctx.layer("sources.columns.codec_udf_nodes", udfs, "count")
