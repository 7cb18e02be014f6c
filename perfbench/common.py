"""State shared by the benchmark parts: the session, the tracer, the work
directory, the time budget and the operation ledger."""

from __future__ import annotations

import os
import re
import statistics
import sys
import threading
import time
import traceback
from dataclasses import dataclass, field


@dataclass
class Ctx:
    work: str
    tracer: object
    traced: bool
    spark: object = None
    # job group id (or streaming run id) -> label, for the event log
    labels: dict = field(default_factory=dict)
    attempted: dict = field(default_factory=dict)
    failed: dict = field(default_factory=dict)
    metrics: dict = field(default_factory=dict)  # name -> (value, unit)
    layers: dict = field(default_factory=dict)  # name -> (value, unit)
    detail: dict = field(default_factory=dict)
    phase: str = "setup"
    # per thread: whether a check failed in the running operation
    _op: threading.local = field(default_factory=threading.local)
    _lock: threading.Lock = field(default_factory=threading.Lock)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def op(self, part: str, fn, *args):
        """Run one operation of ``part``. It fails when it raises or when
        an output check inside it fails; the run carries on either way."""
        with self._lock:
            self.attempted[part] = self.attempted.get(part, 0) + 1
        self._op.bad = False
        try:
            out = fn(*args)
        except Exception:
            print(f"[perfbench] {part}: operation raised", file=sys.stderr)
            traceback.print_exc(file=sys.stderr)
            self._op.bad = True
            out = None
        if self._op.bad:
            with self._lock:
                self.failed[part] = self.failed.get(part, 0) + 1
        return out

    def check(self, part: str, ok: bool, what: str) -> None:
        """An output check inside an operation of ``part``."""
        if not ok:
            self._op.bad = True
            print(f"[perfbench] {part}: check failed: {what}", file=sys.stderr)

    def label(self, name: str) -> str:
        """Jobs run while setting up are labelled apart from measured ones."""
        return name if self.phase == "measure" else f"{self.phase}.{name}"

    def group(self, name: str) -> None:
        """Tag the Spark jobs that follow with a job group."""
        label = self.label(name)
        gid = f"pb-{label}"
        self.labels[gid] = label
        self.spark.sparkContext.setJobGroup(gid, label)

    def metric(self, name: str, value: float, unit: str) -> None:
        self.metrics[name] = (float(value), unit)

    def layer(self, name: str, value: float, unit: str) -> None:
        self.layers[name] = (float(value), unit)


def median(xs) -> float:
    return float(statistics.median(xs))


def percentile(xs, q: float) -> float:
    """Nearest-rank percentile (q in 0..100) of a non-empty sample."""
    s = sorted(xs)
    k = max(0, min(len(s) - 1, int(-(-q * len(s) // 100)) - 1))
    return float(s[k])


def repeat(seconds: float, fn) -> int:
    """Call ``fn`` once, then again while the next call, as long as the
    last one, would still end within ``seconds``."""
    end = time.perf_counter() + seconds
    n = 0
    while True:
        t0 = time.perf_counter()
        fn()
        n += 1
        now = time.perf_counter()
        if now + (now - t0) > end:
            return n


def plan_shape(df) -> tuple:
    """(codec UDF nodes, shuffle exchanges) in the physical plan: every
    Python-evaluated node the codec columns compile to."""
    from redshift_avro_spark.plans.inspect import explain_str, shuffle_count

    text = explain_str(df, "simple")
    udf_nodes = len(re.findall(r"\b(?:ArrowEvalPython|MapInPandas|PythonMapInArrow|MapInArrow)\b", text))
    return udf_nodes, shuffle_count(df)


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total
