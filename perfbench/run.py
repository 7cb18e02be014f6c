"""The repository benchmark: one process drives the library's public
entry points on ``local[4]`` and prints one JSON line.

    python3 perfbench/run.py --workload poisoned --seed 1 --seconds 24 --trace 0

Parts (see perfbench/README.md for why each is there):
  redshift_udf   the Redshift Lambda batch protocol; no Spark, so its
                 slices run while the session is idle
  stream_ingest  kafka-style raw datums and kinesis-style KPL aggregates,
                 replayed through Structured Streaming (availableNow)
  avro_lake      deflate container-file write and read of a flat and a
                 nested table, plus an evolved-schema read
  curation       q49, q31 and q187 over the sf0.1 documents table, in the
                 traced run only

Workloads differ in one input property: ``poisoned`` plants undecodable
datums in a fixed minority of the kafka micro-batches, ``clean`` has none.

``--trace 0`` prints the end-to-end metrics named in BENCHMARK.json.
``--trace 1`` runs the same work with spans and the Spark event log on,
adds the curation part and the codec-tier section, and prints the
per-layer metrics. Spans and a detail file are written under
``.perfbench/out``.
"""

from __future__ import annotations

import argparse
import gc
import importlib.util
import json
import os
import shutil
import sys
import tempfile
import time
from concurrent.futures import ThreadPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = {"poisoned": True, "clean": False}
# the traced run's curation part measures for this share of --seconds
CURATION_SHARE = 0.4
CPUS = 4
# Redshift invocations sent after each Spark operation of a round: two
# rounds send two whole cycles of the 50-invocation mix and two more
UDF_SLICE = 17


def _log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _start_spark(work: str, tmp: str, traced: bool):
    from redshift_avro_spark.session import get_spark

    conf = {
        "spark.driver.memory": "2g",
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if traced:
        os.makedirs(os.path.join(work, "eventlog"))
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": os.path.join(work, "eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    spark = get_spark(app_name="perfbench", cpus=CPUS, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def _round(udf, stream, lake) -> None:
    """One round: each Spark operation, then a slice of the Redshift mix."""
    for op in (lambda: stream.step("kafka"), lambda: stream.step("kinesis"), lake.step):
        op()
        udf.send(UDF_SLICE)


def _event_log_layers(ctx, parts: dict) -> None:
    import eventlog

    logdir = ctx.path("eventlog")
    files = [os.path.join(logdir, f) for f in os.listdir(logdir)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log, found {files}")
    rows, stage_rows = eventlog.summarize(files[0], ctx.labels)
    ctx.detail["eventlog"] = {"labels": rows, "stages": stage_rows}
    empty = eventlog.empty_row()

    stream, lake, cur = parts["stream_ingest"], parts["avro_lake"], parts["curation"]
    kafka = rows.get("stream_ingest.kafka", empty)
    decoded = sum(r["rows"] for r in stream.runs["kafka"])
    ctx.layer("sources.columns.python_rows_ratio", kafka["python_rows"] / decoded, "ratio")
    n = max(1, len(lake.samples["write"]))
    ctx.layer("sources.files.write_task_s", rows.get("avro_lake.write", empty)["task_run_s"] / n, "s")
    ctx.layer("sources.files.read_task_s", rows.get("avro_lake.read", empty)["task_run_s"] / n, "s")
    from curation import SHORT

    for q, runs in cur.per_query.items():
        r = rows.get(f"curation.{SHORT[q]}", empty)
        for key, unit in (
            ("jobs", "count"),
            ("stages", "count"),
            ("task_run_s", "s"),
            ("task_cpu_s", "s"),
            ("shuffle_bytes", "B"),
            ("spill_bytes", "B"),
            ("python_bytes", "B"),
        ):
            ctx.layer(f"queries.{SHORT[q]}.{key}", r[key] / max(1, len(runs)), unit)


def _emit(ctx, spec: list, attempted: int, failed: int, correct: bool) -> None:
    metrics = {}
    for m in spec:
        have = ctx.layers.get(m["name"]) or ctx.metrics.get(m["name"])
        if have is None or have[1] != m["unit"]:
            raise RuntimeError(f"metric {m['name']} [{m['unit']}] not produced (got {have})")
        metrics[m["name"]] = {"value": have[0], "unit": m["unit"]}
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}))


def main(argv=None) -> int:
    args = _args(argv)
    sys.path.insert(0, ROOT)
    bench_file = os.path.join(ROOT, "BENCHMARK.json")
    if importlib.util.find_spec("redshift_avro_spark") is None or not os.path.exists(bench_file):
        print("perfbench: the redshift_avro_spark package and BENCHMARK.json must sit "
              "next to perfbench/", file=sys.stderr)
        return 2
    with open(bench_file) as fh:
        bench = json.load(fh)
    traced = bool(args.trace)

    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, "work")
    out = os.path.join(base, "out")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.makedirs(out, exist_ok=True)
    # every temp file (staging dirs, Python and JVM scratch) stays inside;
    # the JVMs keep no perf-data files, which HotSpot always puts in /tmp
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    tempfile.tempdir = None

    import gen
    import spans
    from common import Ctx, repeat

    run_id = f"{args.workload}-{args.seed}-t{args.trace}"
    ctx = Ctx(work=work, tracer=spans.Tracer(traced, run_id), traced=traced)
    spark = None
    try:
        with ctx.tracer.span("setup"):
            t0 = time.perf_counter()
            inp = gen.make_inputs(args.seed, WORKLOADS[args.workload])
            gen_s = time.perf_counter() - t0
            # the inputs stay alive all run; keep the collector from
            # rescanning them between measured calls
            gc.collect()
            gc.freeze()

            from udf import RedshiftUdf

            udf = RedshiftUdf(ctx, inp)
            t0 = time.perf_counter()
            ctx.phase = "warmup"
            udf.warm()
            udf_warm_s = time.perf_counter() - t0

            ctx.phase = "setup"
            t0 = time.perf_counter()
            spark = ctx.spark = _start_spark(work, tmp, traced)
            spark_s = time.perf_counter() - t0

            t0 = time.perf_counter()
            from lake import AvroLake, land_sources
            from stream import StreamIngest

            stream = StreamIngest(ctx, inp, gen.land_stream_backlog(inp, ctx.path("landing")))
            lake = AvroLake(ctx, inp, land_sources(inp, ctx.path("landing")))
            parts = {"redshift_udf": udf, "stream_ingest": stream, "avro_lake": lake}
            pool_jobs = {
                "kafka": lambda: stream.warm("kafka"),
                "kinesis": lambda: stream.warm("kinesis"),
                "permissive_check": stream.check_permissive,
            }
            # the parts' first-use costs (Python workers, the Python data
            # source, streaming classes, JIT) overlap. avro_lake warms on
            # this thread: the Python data source is not found by writes
            # issued from other threads.
            ctx.phase = "warmup"
            ctx.tracer.enabled = False  # spans are per thread of work
            warm_jobs = {}

            def timed(name, job):
                t = time.perf_counter()
                job()
                warm_jobs[name] = time.perf_counter() - t

            with ThreadPoolExecutor(len(pool_jobs)) as pool:
                futures = [pool.submit(timed, *job) for job in pool_jobs.items()]
                timed("lake", lake.warm)
                for f in futures:
                    f.result()
            ctx.tracer.enabled = traced
            warm_s = time.perf_counter() - t0
        setup_s = gen_s + udf_warm_s + spark_s + warm_s
        ctx.metric("setup_s", setup_s, "s")
        ctx.detail["setup"] = {
            "generate_s": gen_s, "udf_warm_s": udf_warm_s, "spark_start_s": spark_s,
            "land_and_warm_s": warm_s, "warm_jobs_s": warm_jobs,
        }
        _log(f"setup {setup_s:.1f}s {ctx.detail['setup']}")

        ctx.phase = "measure"
        t0 = time.perf_counter()
        # two rounds at least: every Spark operation is sampled twice and
        # the Redshift mix is sent in two whole cycles
        end = time.perf_counter() + args.seconds
        _round(udf, stream, lake)
        rounds = 1 + repeat(max(0.0, end - time.perf_counter()), lambda: _round(udf, stream, lake))
        ctx.detail["rounds"] = rounds
        lake.check()
        _log(f"{rounds} rounds {time.perf_counter() - t0:.1f}s")
        if traced:
            from curation import Curation

            parts["curation"] = cur = Curation(ctx)
            ctx.phase = "warmup"
            cur.prepare()
            ctx.phase = "measure"
            t0 = time.perf_counter()
            cur.measure(args.seconds * CURATION_SHARE)
            _log(f"curation {time.perf_counter() - t0:.1f}s")
        for p in parts.values():
            p.report()
        if traced:
            import tiers

            t0 = time.perf_counter()
            tiers.run(ctx, inp)
            _log(f"codec tiers {time.perf_counter() - t0:.1f}s")
    finally:
        if spark is not None:
            _stop_spark(spark)

    if traced:
        _event_log_layers(ctx, parts)
        for name, secs in ctx.tracer.self_times_s().items():
            ctx.layer(f"self_s.{name}", secs, "s")
        for name, (value, unit) in list(ctx.metrics.items()):
            ctx.layer(f"traced.{name}", value, unit)
        ctx.tracer.dump(os.path.join(out, f"spans-{run_id}.json"))
    ctx.detail["attempted"] = ctx.attempted
    ctx.detail["failed"] = ctx.failed
    with open(os.path.join(out, f"detail-{run_id}.json"), "w") as fh:
        json.dump(ctx.detail, fh, indent=1, default=str)
    shutil.rmtree(work, ignore_errors=True)

    attempted = sum(ctx.attempted.values())
    failed = sum(ctx.failed.values())
    _emit(ctx, bench["per_layer" if traced else "end_to_end"], attempted, failed, failed == 0)
    return 0


if __name__ == "__main__":
    sys.exit(main())
