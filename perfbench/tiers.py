"""Codec-tier section of the traced run.

Times each Avro codec tier (vectorized, generated, closure) and the
container, block-codec, JSON and envelope layers directly on the
workload's own generated bytes, and counts the kafka micro-batches the
vector tier gives up on. Each figure is the median of a few repeats.
"""

from __future__ import annotations

import io
import json
import time

import gen
from common import Ctx, median

REPEATS = 3
SAMPLE = 3000


def _timed(fn, n: int) -> float:
    """Median microseconds per item over REPEATS calls of ``fn``."""
    out = []
    for _ in range(REPEATS):
        t0 = time.perf_counter()
        fn()
        out.append((time.perf_counter() - t0) * 1e6 / n)
    return median(out)


def run(ctx: Ctx, inp: gen.Inputs) -> None:
    import numpy as np
    import pandas as pd

    from redshift_avro_spark.avroio.binary import (
        BinaryReader,
        BinaryWriter,
        compile_decoder,
        compile_encoder,
        compile_resolver,
    )
    from redshift_avro_spark.avroio.block_codecs import get_codec
    from redshift_avro_spark.avroio.codegen import get_batch_decoder, get_batch_encoder, get_batch_resolver
    from redshift_avro_spark.avroio.container import ContainerWriter, iter_container
    from redshift_avro_spark.avroio.jsonio import datum_to_json
    from redshift_avro_spark.avroio.schema_model import parse_schema
    from redshift_avro_spark.avroio.vectorized import VectorFallback, get_vector_decoder, get_vector_encoder
    from redshift_avro_spark.sources.envelopes import decode_kpl_aggregate, parse_spring_message

    tr = ctx.tracer
    event_json = json.dumps(gen.EVENT_SCHEMA)
    nested_json = json.dumps(gen.NESTED_SCHEMA)
    evolved_json = json.dumps(gen.EVOLVED_READER)
    nested_schema = parse_schema(gen.NESTED_SCHEMA)
    evolved_schema = parse_schema(gen.EVOLVED_READER)

    # vector tier, flat Event datums from the kafka backlog
    with tr.span("avroio.vectorized"):
        vd = get_vector_decoder(event_json)
        ve = get_vector_encoder(event_json)
        blobs = np.array([gen.encode_event(e) for e in inp.kafka_events[:SAMPLE]], dtype=object)
        mask = np.zeros(len(blobs), dtype=bool)
        pdf = pd.DataFrame(vd.decode_blobs_to_pandas(blobs, mask))
        ctx.layer("avroio.vectorized.decode_us_per_row",
                  _timed(lambda: vd.decode_blobs_to_pandas(blobs, mask), len(blobs)), "us")
        ctx.layer("avroio.vectorized.encode_us_per_row", _timed(lambda: ve.encode_pandas(pdf), len(pdf)), "us")
        block = b"".join(blobs)
        ctx.layer("avroio.vectorized.stream_decode_us_per_row",
                  _timed(lambda: vd.decode_stream_arrow(block, len(blobs)), len(blobs)), "us")
        fallbacks = []
        for batch in inp.kafka_batches:
            arr = np.array(batch, dtype=object)
            try:
                vd.decode_blobs_to_pandas(arr, np.zeros(len(arr), dtype=bool))
                fallbacks.append(0)
            except VectorFallback:
                fallbacks.append(1)
        ctx.layer("avroio.vectorized.fallback_ratio", sum(fallbacks) / len(fallbacks), "ratio")
        ctx.detail["avroio.vectorized.fallback_per_kafka_batch"] = fallbacks

    # generated and closure tiers, on the nested shapes the vector tier declines
    nested_blobs = [gen.encode(gen.NESTED_SCHEMA, r) for r in inp.nested_rows[:SAMPLE]]
    n = len(nested_blobs)
    nested_arr = np.array(nested_blobs, dtype=object)
    with tr.span("avroio.codegen"):
        bd = get_batch_decoder(nested_json, "spark")
        br = get_batch_resolver(nested_json, evolved_json, "spark")
        be = get_batch_encoder(nested_json)
        ctx.layer("avroio.codegen.decode_us_per_row",
                  _timed(lambda: bd.decode_blobs(nested_arr, bd.new_columns()), n), "us")
        ctx.layer("avroio.codegen.resolve_us_per_row",
                  _timed(lambda: br.decode_blobs(nested_arr, br.new_columns()), n), "us")
        py_rows = [compile_decoder(nested_schema)(BinaryReader(b)) for b in nested_blobs]
        cols = [[r[name] for r in py_rows] for name in be.names]
        ctx.layer("avroio.codegen.encode_us_per_row", _timed(lambda: be.encode_columns(cols, n), n), "us")
    with tr.span("avroio.binary"):
        dec = compile_decoder(nested_schema)
        res = compile_resolver(nested_schema, evolved_schema)
        enc = compile_encoder(nested_schema)

        def encode_all():
            for r in py_rows:
                w = BinaryWriter()
                enc(w, r)
                w.getvalue()

        ctx.layer("avroio.binary.decode_us_per_row",
                  _timed(lambda: [dec(BinaryReader(b)) for b in nested_blobs], n), "us")
        ctx.layer("avroio.binary.resolve_us_per_row",
                  _timed(lambda: [res(BinaryReader(b)) for b in nested_blobs], n), "us")
        ctx.layer("avroio.binary.encode_us_per_row", _timed(encode_all, n), "us")

    # container files, block codec and JSON, on the flat lake rows
    flat = inp.flat_rows[:SAMPLE]
    with tr.span("avroio.container"):
        sink = io.BytesIO()

        def append_all():
            sink.seek(0)
            sink.truncate()
            with ContainerWriter(sink, gen.EVENT_SCHEMA, codec="deflate") as w:
                for r in flat:
                    w.append(r)

        ctx.layer("avroio.container.append_us_per_row", _timed(append_all, len(flat)), "us")
        data = sink.getvalue()
        ctx.layer("avroio.container.read_us_per_row",
                  _timed(lambda: list(iter_container(data)), len(flat)), "us")
    with tr.span("avroio.block_codecs"):
        codec = get_codec("deflate")
        raw = b"".join(gen.encode_event(e) for e in flat)
        packed = codec.compress(raw)
        mb = len(raw) / 1e6
        ctx.layer("avroio.block_codecs.deflate_compress_mb_per_s",
                  1e6 / _timed(lambda: codec.compress(raw), 1) * mb, "MB/s")
        ctx.layer("avroio.block_codecs.deflate_decompress_mb_per_s",
                  1e6 / _timed(lambda: codec.decompress(packed), 1) * mb, "MB/s")
        ctx.layer("avroio.block_codecs.compression_ratio", len(raw) / len(packed), "ratio")
    with tr.span("avroio.jsonio"):
        decoded = list(iter_container(data))
        ctx.layer("avroio.jsonio.to_json_us_per_record",
                  _timed(lambda: [datum_to_json(d) for d in decoded], len(decoded)), "us")

    # KPL aggregate + Spring header parsing on the kinesis cells
    with tr.span("sources.envelopes"):
        cells = [bytes.fromhex(c) for c in inp.kinesis_batches[0]]
        n_rec = len(cells) * gen.KINESIS_RECORDS_PER_CELL

        def unwrap():
            for c in cells:
                for rec in decode_kpl_aggregate(c).records:
                    parse_spring_message(rec.data)

        ctx.layer("sources.envelopes.kpl_unwrap_us_per_record", _timed(unwrap, n_rec), "us")
