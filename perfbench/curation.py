"""curation: registered curation queries over the sf0.1 ``documents``
table, run in the traced run only (a pass costs more than the untraced
runs' time budget allows).

q49 (filter → exact dedup → near-dup drop → token stats) and q31
(MinHash-LSH candidates) make up each timed pass; q187 (the full release
funnel, with its counting actions) then runs twice on its own. All three
read only ``documents``. ``perfbench/sf0.1/documents.parquet`` is a byte
copy of the repository's read-only sf0.1 test table (5 000 documents),
kept here so the benchmark reads nothing outside its checkout; the seed
does not change it. Every run of a query collects its full result through
Arrow and compares it with the query's registered DuckDB oracle.
Memo-backed queries are left out: a repeated pass would time a memo read.
"""

from __future__ import annotations

import hashlib
import math
import os
import tempfile
import time
from concurrent.futures import ThreadPoolExecutor

from common import Ctx, dir_bytes, median, plan_shape, repeat

QUERIES = ("q49_curation_pipeline", "q31_minhash_lsh_candidates")
SEPARATE = ("q187_full_funnel",)
SHORT = {"q49_curation_pipeline": "q49", "q187_full_funnel": "q187", "q31_minhash_lsh_candidates": "q31"}
# a different query, so the first timed pass is not the JVM's first
WARMUP_QUERY = "q37_text_quality"
TABLE_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "sf0.1")
DOCUMENTS_SHA256 = "d10b0da67e5aceb465e89365781dab5c69d3c62b64a8308398c6fd3fb09bcf82"


def _norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    return repr(v)


def _rows(table) -> tuple:
    """(sorted column names, sorted normalized rows) of an Arrow table."""
    cols = sorted(table.column_names)
    data = table.select(cols).to_pylist()
    return cols, sorted(tuple(_norm(r[c]) for c in cols) for r in data)


def _staged_names() -> set:
    root = tempfile.gettempdir()
    return {n for n in os.listdir(root) if n.startswith("stage_")}


class Curation:
    part = "curation"

    def __init__(self, ctx: Ctx) -> None:
        from redshift_avro_spark.queries import load_all

        self.ctx = ctx
        self.corpus = TABLE_DIR
        self.specs = load_all()
        self.oracle = {}
        self.first_pass_s = None
        self.passes: list = []
        self.per_query: dict = {q: [] for q in QUERIES + SEPARATE}
        self.staged: list = []

    def _load_oracles(self) -> None:
        import duckdb

        table = os.path.join(self.corpus, "documents.parquet")
        with open(table, "rb") as fh:
            digest = hashlib.sha256(fh.read()).hexdigest()
        self.ctx.check(self.part, digest == DOCUMENTS_SHA256, "documents.parquet is not the sf0.1 table")
        con = duckdb.connect()
        try:
            con.execute("SET threads TO 2")
            con.execute(f"CREATE VIEW documents AS SELECT * FROM '{table}'")
            for q in QUERIES + SEPARATE:
                self.oracle[q] = _rows(con.execute(self.specs[q].oracle).arrow())
        finally:
            con.close()

    def _run(self, q: str) -> float:
        ctx = self.ctx
        ctx.group(f"curation.{SHORT[q]}")
        with ctx.tracer.span(f"queries.{SHORT[q]}"):
            t0 = time.perf_counter()
            result = self.specs[q].fn(ctx.spark, self.corpus).toArrow()
            dt = time.perf_counter() - t0
        ctx.check(self.part, _rows(result) == self.oracle[q], f"{q} differs from its DuckDB oracle")
        return dt

    def _pass(self) -> float:
        before = _staged_names()
        total = 0.0
        for q in QUERIES:
            dt = self.ctx.op(self.part, self._run, q)
            if dt is None:
                return None
            self.per_query[q].append(dt)
            total += dt
        root = tempfile.gettempdir()
        self.staged.append(sum(dir_bytes(os.path.join(root, n)) for n in _staged_names() - before))
        return total

    def prepare(self) -> None:
        """Load the oracles beside a warm-up query. Runs after setup_s is
        taken, so the traced setup_s holds the same work as the untraced."""
        ctx = self.ctx
        ctx.group("curation.warmup")
        with ThreadPoolExecutor(1) as pool:
            oracles = pool.submit(ctx.op, self.part, self._load_oracles)
            ctx.op(
                self.part,
                lambda: self.specs[WARMUP_QUERY].fn(ctx.spark, self.corpus).write.format("noop").mode("overwrite").save(),
            )
            oracles.result()

    def measure(self, seconds: float) -> None:
        ctx = self.ctx
        end = time.perf_counter() + seconds
        with ctx.tracer.span("curation"):
            self.first_pass_s = self._pass()

            def warm_pass():
                dt = self._pass()
                if dt is not None:
                    self.passes.append(dt)

            repeat(max(0.0, end - time.perf_counter()), warm_pass)
            for q in SEPARATE:
                for _ in range(2):
                    dt = ctx.op(self.part, self._run, q)
                    if dt is not None:
                        self.per_query[q].append(dt)

    def report(self) -> None:
        ctx = self.ctx
        if self.first_pass_s is not None:
            ctx.layer("curation.first_pass_s", self.first_pass_s, "s")
        if self.passes:
            ctx.layer("curation.pass_s", median(self.passes), "s")
        ctx.detail["curation.passes"] = len(self.passes) + 1
        ctx.detail["curation.query_s"] = {SHORT[q]: v for q, v in self.per_query.items()}
        if self.staged:
            ctx.layer("operators.staging.staged_bytes", median(self.staged), "B")
        count_vs_full = {}
        for q in QUERIES + SEPARATE:
            # the count()-forced time, for the record only: Catalyst
            # prunes what a count does not need
            ctx.group(f"curation.{SHORT[q]}.count")
            t0 = time.perf_counter()
            df = self.specs[q].fn(ctx.spark, self.corpus)
            build_s = time.perf_counter() - t0
            udfs, shuffles = plan_shape(df)
            ctx.layer(f"plans.curation.{SHORT[q]}.codec_udf_nodes", udfs, "count")
            ctx.layer(f"plans.curation.{SHORT[q]}.shuffles", shuffles, "count")
            t0 = time.perf_counter()
            df.count()
            count_vs_full[SHORT[q]] = {
                "count_s": build_s + time.perf_counter() - t0,
                "full_result_s": median(self.per_query[q][1:] or self.per_query[q]),
            }
        ctx.detail["curation.count_vs_full_result"] = count_vs_full
