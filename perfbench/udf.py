"""redshift_udf: the Redshift Lambda batch protocol, no Spark involved.

One client runs a closed loop over a seeded, fixed traffic mix of batch
events: the next invocation is sent only when the previous response is
back. The mix is sent in slices between the Spark operations of each
measured round (the session is idle while a slice runs), so the samples
come from the whole measured time. Every response is compared with the
expected JSON."""

from __future__ import annotations

import json
import time

import gen
from common import Ctx, median, percentile


def _envelope(kind: str, event: dict, results: list):
    """The response a handler must return: registry and spring_kpl answer
    with a JSON string, container with a dict."""
    env = {"success": True, "num_records": event["num_records"], "results": results}
    return env if kind == "container" else json.dumps(env)


class RedshiftUdf:
    part = "redshift_udf"

    def __init__(self, ctx: Ctx, inp: gen.Inputs) -> None:
        from redshift_avro_spark.sources.redshift_udf import (
            container_file_handler,
            registry_datum_handler,
            spring_kpl_handler,
        )
        from redshift_avro_spark.sources.registry import InMemorySchemaRegistry

        registry = InMemorySchemaRegistry(
            {gen.REGISTRY_STREAM: gen.EVENT_SCHEMA, gen.SPRING_CONTENT_TYPE: gen.EVENT_SCHEMA}
        )
        self.ctx = ctx
        self.inp = inp
        self.handlers = {
            "registry": registry_datum_handler(registry),
            "container": container_file_handler,
            "spring_kpl": spring_kpl_handler(registry),
        }
        self.records = {
            "registry": gen.UDF_REGISTRY_ROWS,
            "container": gen.UDF_CONTAINER_CELLS * gen.UDF_CONTAINER_RECORDS,
            "spring_kpl": gen.UDF_KPL_CELLS * gen.UDF_KPL_RECORDS,
        }
        self.expected = {
            kind: [_envelope(kind, ev, exp) for ev, exp in inp.udf_events[kind]]
            for kind in self.handlers
        }
        self.latency_s: list = []
        self.per_kind: dict = {k: [] for k in self.handlers}
        self.wall = 0.0
        self.n_records = 0
        self.sent = 0

    def _invoke(self, kind: str, idx: int) -> float:
        event = self.inp.udf_events[kind][idx][0]
        with self.ctx.tracer.span(f"sources.redshift_udf.{kind}"):
            t0 = time.perf_counter()
            resp = self.handlers[kind](event, None)
            dt = time.perf_counter() - t0
        self.ctx.check(
            self.part, resp == self.expected[kind][idx], f"{kind} response differs from expected JSON"
        )
        return dt

    def warm(self) -> None:
        for kind in self.handlers:
            self.ctx.op(self.part, self._invoke, kind, 0)

    def send(self, n: int) -> None:
        """Send the next ``n`` invocations of the mix, back to back,
        wrapping round it; the loop's wall time accumulates across slices."""
        mix = self.inp.udf_mix
        with self.ctx.tracer.span("redshift_udf"):
            t0 = time.perf_counter()
            for _ in range(n):
                kind, idx = mix[self.sent % len(mix)]
                self.sent += 1
                dt = self.ctx.op(self.part, self._invoke, kind, idx)
                if dt is None:
                    continue
                self.latency_s.append(dt)
                self.per_kind[kind].append(dt)
                self.n_records += self.records[kind]
            self.wall += time.perf_counter() - t0

    def report(self) -> None:
        ctx = self.ctx
        if not self.latency_s:
            return
        ms = [x * 1e3 for x in self.latency_s]
        ctx.metric("redshift_udf.invoke_p50_ms", median(ms), "ms")
        ctx.metric("redshift_udf.invoke_p90_ms", percentile(ms, 90), "ms")
        ctx.metric("redshift_udf.records_per_s", self.n_records / self.wall, "rec/s")
        ctx.detail["redshift_udf.invocations"] = len(ms)
        ctx.detail["redshift_udf.p50_ms_by_kind"] = {
            k: median(v) * 1e3 for k, v in self.per_kind.items() if v
        }
        if ctx.traced:
            for kind, v in self.per_kind.items():
                if v:
                    ctx.layer(
                        f"sources.redshift_udf.{kind}_us_per_record",
                        median(v) * 1e6 / self.records[kind],
                        "us",
                    )
