"""Round-11 surface (optimization round 2 — VERDICT r10 tasks):

- Bound-once text feature expressions (quality_features / language_id
  / token_count / top_word_share_ppm_expr): the flat forms re-ran the
  O(L) split per textual reference because HOFs fall back from codegen
  — the bound forms must stay VALUE-identical, pinned here against the
  flat legacy twins on edge inputs and on the smoke corpus.
- q187's merged final-stage aggregation (one pass over survivors with
  drop-list flags) must equal the three-job chain it replaced, and its
  shard count must keep SELECT-DISTINCT NULL-group semantics
  (ADVICE r10 #1 — countDistinct over bare columns drops NULL-source
  tuples; the struct form must not).
- The new staging cuts (jaccard gram sliver, knn LSH-key projection)
  must be value-invariant under SPARK_GRAFT_MATERIALIZE=none.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from conftest import SF_SMOKE

from redshift_avro_spark.queries import load_all

REGISTRY = load_all()


def _rows(df):
    cols = sorted(df.columns)
    return sorted(tuple(repr(r[c]) for c in cols) for r in df.collect())


# the pre-round-11 flat expression forms, verbatim — the value twins
# the bound forms are pinned against
def _quality_features_flat(text_col):
    from redshift_avro_spark.operators.text import STOPWORDS, _WORDS

    words = _WORDS.format(c=text_col)
    sw = ", ".join(f"'{w}'" for w in STOPWORDS["en"])
    n_words = f"size({words})"
    stop_ratio = f"(size(filter({words}, w -> w IN ({sw}))) / CAST({n_words} AS DOUBLE))"
    punct_ratio = (
        f"(length(regexp_replace({text_col}, '[^!-/:-@\\\\[-`]', '')) / CAST(length({text_col}) AS DOUBLE))"
    )
    distinct_ratio = f"(size(array_distinct({words})) / CAST({n_words} AS DOUBLE))"
    mean_wlen = f"(aggregate({words}, CAST(0 AS DOUBLE), (acc, w) -> acc + length(w)) / CAST({n_words} AS DOUBLE))"
    score = (
        f"round(least(CAST(1 AS DOUBLE), greatest(CAST(0 AS DOUBLE), "
        f"0.25 * least(CAST(1 AS DOUBLE), {n_words} / CAST(50 AS DOUBLE)) + "
        f"0.25 * (1 - {punct_ratio}) + "
        f"0.25 * {distinct_ratio} + "
        f"0.25 * least(CAST(1 AS DOUBLE), {mean_wlen} / CAST(8 AS DOUBLE)))), 6)"
    )
    return F.expr(
        f"named_struct("
        f"'n_chars', length({text_col}), "
        f"'n_words', {n_words}, "
        f"'mean_word_len', round({mean_wlen}, 6), "
        f"'stopword_ratio', round({stop_ratio}, 6), "
        f"'punct_ratio', round({punct_ratio}, 6), "
        f"'distinct_ratio', round({distinct_ratio}, 6), "
        f"'quality_score', {score})"
    )


def _language_id_flat(text_col):
    from redshift_avro_spark.operators.text import STOPWORDS, _WORDS

    words = _WORDS.format(c=text_col)
    hits = {
        lang: f"size(filter({words}, w -> w IN ({', '.join(repr(w) for w in ws)})))"
        for lang, ws in STOPWORDS.items()
    }
    best = (
        f"CASE WHEN {hits['en']} >= {hits['es']} AND {hits['en']} >= {hits['de']} AND {hits['en']} >= {hits['fr']} AND {hits['en']} > 0 THEN 'en' "
        f"WHEN {hits['es']} >= {hits['de']} AND {hits['es']} >= {hits['fr']} AND {hits['es']} > 0 THEN 'es' "
        f"WHEN {hits['de']} >= {hits['fr']} AND {hits['de']} > 0 THEN 'de' "
        f"WHEN {hits['fr']} > 0 THEN 'fr' "
        f"ELSE 'und' END"
    )
    return F.expr(
        f"CASE WHEN {text_col} RLIKE '[\\\\x{{4E00}}-\\\\x{{9FFF}}]' THEN 'zh' ELSE ({best}) END"
    )


def _token_count_flat(text_col):
    from redshift_avro_spark.operators.text import _WORDS

    words = _WORDS.format(c=text_col)
    return F.expr(
        f"named_struct("
        f"'n_words', size({words}), "
        f"'n_tokens_est', greatest(size({words}), CAST(ceil(length({text_col}) / 4.0) AS INT)))"
    )


def _top_word_share_flat(text_col):
    from redshift_avro_spark.operators.text import _WORDS

    w = _WORDS.format(c=text_col)
    step = (
        "named_struct('prev', x, "
        "'cur', CASE WHEN acc.prev <=> x THEN acc.cur + 1 ELSE CAST(1 AS BIGINT) END, "
        "'best', GREATEST(acc.best, "
        "CASE WHEN acc.prev <=> x THEN acc.cur + 1 ELSE CAST(1 AS BIGINT) END))"
    )
    top_n = (
        f"aggregate(array_sort({w}), "
        f"named_struct('prev', CAST(NULL AS STRING), "
        f"'cur', CAST(0 AS BIGINT), 'best', CAST(0 AS BIGINT)), "
        f"(acc, x) -> {step}, acc -> acc.best)"
    )
    return F.expr(f"{top_n} * 1000000 div size({w})")


class TestBoundFeatureExpressions:
    EDGE_ROWS = [
        (1, None),
        (3, "   "),
        (4, "the"),
        (5, "the the the quick fox"),
        (6, "汉字 text"),
        (7, "a!!! b??? c"),
        (8, "el la de que y"),
        (9, "der die das und le la les de"),  # cross-lexicon tie pressure
        (10, "x" * 2000),
        (11, "one-word"),
    ]

    def _assert_twin(self, spark, df):
        from redshift_avro_spark.operators.text import (
            language_id,
            quality_features,
            token_count,
            top_word_share_ppm_expr,
        )

        both = df.select(
            "doc_id",
            quality_features("text").alias("qn"),
            _quality_features_flat("text").alias("qo"),
            language_id("text").alias("ln"),
            _language_id_flat("text").alias("lo"),
            token_count("text").alias("tn"),
            _token_count_flat("text").alias("to"),
            top_word_share_ppm_expr("text").alias("wn"),
            _top_word_share_flat("text").alias("wo"),
        )
        bad = both.where(
            ~F.expr("qn <=> qo")
            | ~F.expr("ln <=> lo")
            | ~F.expr("tn <=> to")
            | ~F.expr("wn <=> wo")
        ).count()
        assert bad == 0

    def test_edge_inputs_value_identical(self, spark):
        df = spark.createDataFrame(self.EDGE_ROWS, "doc_id long, text string")
        self._assert_twin(spark, df)

    def test_smoke_corpus_value_identical(self, spark):
        from redshift_avro_spark.queries.relational import load_table

        self._assert_twin(spark, load_table(spark, SF_SMOKE, "documents"))


class TestQ187MergedFinalCounts:
    def _survivors(self, spark, rows):
        return spark.createDataFrame(
            rows, "doc_id long, text string, source string, tok long"
        )

    def test_equals_three_job_chain(self, spark):
        from redshift_avro_spark.queries.curation import (
            _BENCH_MOD,
            _SHARD_BUDGET,
            _q187_final_counts,
        )
        from pyspark.sql.window import Window

        rows = [
            (i, f"doc {i}", ["web", "books", None][i % 3], 100 + i)
            for i in range(1, 60)
        ]
        surv = self._survivors(spark, rows)
        nd_drop = spark.createDataFrame(
            [(i,) for i in range(1, 60, 7)], "doc_id long"
        )
        hits = spark.createDataFrame(
            [(i,) for i in range(2, 60, 11)], "doc_id long"
        )
        got = _q187_final_counts(surv, nd_drop, hits).collect()[0]

        # the replaced three-job reference chain
        s_nd = surv.join(nd_drop, "doc_id", "left_anti")
        s_final = s_nd.where(F.col("doc_id") % _BENCH_MOD != 0).join(
            hits, "doc_id", "left_anti"
        )
        assert (got["n5"], got["t5"]) == (
            surv.count(),
            surv.agg(F.sum("tok")).collect()[0][0],
        )
        assert (got["n6"], got["t6"]) == (
            s_nd.count(),
            s_nd.agg(F.sum("tok")).collect()[0][0],
        )
        assert (got["n7"], got["t7"]) == (
            s_final.count(),
            s_final.agg(F.sum("tok")).collect()[0][0],
        )
        w = Window.partitionBy("source").orderBy("doc_id").rowsBetween(
            Window.unboundedPreceding, 0
        )
        nsh_ref = (
            s_final.withColumn("cum_tok", F.sum("tok").over(w))
            .withColumn("shard", F.expr(f"(cum_tok - tok) div {_SHARD_BUDGET}"))
            .select("source", "shard")
            .distinct()
            .count()
        )
        assert got["nsh"] == nsh_ref

    def test_null_source_shard_group_is_counted(self, spark):
        """ADVICE r10 #1: the oracle's SELECT DISTINCT counts a
        NULL-source shard group; the struct-based countDistinct must
        too (the bare-column form silently dropped it)."""
        from redshift_avro_spark.queries.curation import _q187_final_counts

        rows = [(1, "a", None, 10), (3, "b", None, 10), (2, "c", "web", 10)]
        surv = self._survivors(spark, rows)
        empty = spark.createDataFrame([], "doc_id long")
        got = _q187_final_counts(surv, empty, empty).collect()[0]
        # two groups: (NULL, 0) and ('web', 0) — doc_ids 1,3 avoid the
        # bench mod residue at the fixture's _BENCH_MOD
        assert got["nsh"] == 2

    def test_drop_lists_are_not_force_broadcast(self, spark):
        """nd_drop and hits grow with the corpus: with automatic
        broadcast off, neither join may plan as a broadcast."""
        from redshift_avro_spark.plans.inspect import has_broadcast_join
        from redshift_avro_spark.queries.curation import _q187_final_counts

        surv = self._survivors(spark, [(1, "a", "web", 10)])
        drop = spark.createDataFrame([(1,)], "doc_id long")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            assert not has_broadcast_join(_q187_final_counts(surv, drop, drop))
        finally:
            spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")

    def test_gated_funnel_unchanged(self, spark):
        out = REGISTRY["q187_full_funnel"].fn(spark, SF_SMOKE)
        rows = {r["stage"]: r for r in out.collect()}
        assert list(rows) == [
            "url_dedup", "line_clean", "language", "quality",
            "exact_dedup", "near_dup", "decontam", "packing",
        ]
        # stage masses chain: n_out of stage k == n_in of stage k+1
        order = list(rows)
        for a, b in zip(order, order[1:]):
            assert rows[b]["n_in"] == rows[a]["n_out"]


class TestStagingCutsModeIndependence:
    def test_jaccard_gram_staging_value_invariant(self, spark, monkeypatch):
        from redshift_avro_spark.operators.dedup import ngram_jaccard_pairs

        rows = [
            (1, "abcabcabc"),
            (2, "abcabcabd"),
            (3, "zzzzyyyyxxxx"),
            (4, "abcabcabc"),
        ]
        df = spark.createDataFrame(rows, "id long, text string")
        cands = spark.createDataFrame(
            [(1, 2), (1, 4), (2, 4), (3, 4)], "id_a long, id_b long"
        )
        staged = ngram_jaccard_pairs(
            df, "id", "text", n=3, threshold=0.3, candidates=cands
        )
        monkeypatch.setenv("SPARK_GRAFT_MATERIALIZE_JACCARD_GRAMS", "none")
        unstaged = ngram_jaccard_pairs(
            df, "id", "text", n=3, threshold=0.3, candidates=cands
        )
        assert _rows(staged) == _rows(unstaged)

    def test_knn_lsh_key_staging_value_invariant(self, spark, monkeypatch):
        from redshift_avro_spark.operators.similarity import knn_graph
        from redshift_avro_spark.queries.relational import load_table

        emb = load_table(spark, SF_SMOKE, "embeddings").limit(200)
        staged = knn_graph(emb, "vec_id", "embedding", k=3, n_planes=6, n_bands=2)
        monkeypatch.setenv("SPARK_GRAFT_MATERIALIZE_KNN_LSH_KEYS", "none")
        unstaged = knn_graph(emb, "vec_id", "embedding", k=3, n_planes=6, n_bands=2)
        assert _rows(staged) == _rows(unstaged)
