"""Quality filtering for large-scale training-data pipelines.

Gopher-style heuristic filters (Rae et al. 2021, "Scaling Language Models:
Methods, Analysis & Insights from Training Gopher", §A.1.1): repetition
ratios, token-shape stats, and a composite keep/drop decision — plus PII
redaction. Everything is a per-row native Column expression (whole-stage
codegen, zero shuffle): at 100 TB these run as a map-only stage over the
corpus, and Catalyst prunes the text column into the parquet scan.

Cross-engine contract: every expression here has an exact DuckDB SQL twin
(regex character classes shared by Java regex and RE2, arithmetic kept in
bigint/double), so the driver's oracle hash-checks the output bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from exon_duckdb_spark.operators.text import tokens
from exon_duckdb_spark.session import scoped_conf

__all__ = [
    "word_ngrams",
    "repetition_stats",
    "quality_filter",
    "source_mix_report",
    "per_source_cap",
    "curriculum_shards",
    "pii_scrub",
    "perplexity_score",
    "bigram_perplexity_score",
    "interpolated_bigram_score",
    "kneser_ney_bigram_score",
    "dsir_importance",
    "logistic_regression_train",
    "logistic_score",
    "auc_score",
    "PII_PATTERNS",
]


def word_ngrams(toks: Column, n: int) -> Column:
    """Word n-grams ('a b c' for n=3) from a token-array column.

    Guarded for short docs: a doc with fewer than n tokens yields an empty
    array (Spark's ``sequence(1, 0)`` would otherwise count DOWN and emit
    two bogus indices).
    """
    if n == 1:
        return toks
    idx = F.sequence(F.lit(1), F.size(toks) - (n - 1))
    grams = F.transform(
        idx, lambda i: F.concat_ws(" ", *[F.element_at(toks, i + k) for k in range(n)])
    )
    return F.when(F.size(toks) >= n, grams).otherwise(
        F.array().cast("array<string>")
    )


def ngram_rows(
    df: DataFrame, toks_col: str, n: int, *keep: str, outer: bool = False
) -> DataFrame:
    """The row form of :func:`word_ngrams`: ``(*keep, gram)``, one row per
    word n-gram of the token-array column ``toks_col``, in the same order.

    ``explode(sequence(...))`` plus ``concat_ws``/``element_at`` on each
    row has no lambda, so the stage runs in whole-stage codegen; the
    short-doc guard sits inside the generator, so it holds wherever
    Catalyst places a filter. ``outer=True`` keeps a doc with no n-gram
    as one row with a NULL gram.
    """
    toks = F.col(toks_col)
    explode = F.explode_outer if outer else F.explode
    if n == 1:
        return df.select(*keep, explode(toks).alias("gram"))
    idx = F.when(F.size(toks) >= n, F.sequence(F.lit(1), F.size(toks) - (n - 1)))
    i = F.col("_i")
    gram = F.concat_ws(" ", *[F.element_at(toks, i + k) for k in range(n)])
    if outer:
        gram = F.when(i.isNotNull(), gram)
    return df.select(*keep, toks, explode(idx).alias("_i")).select(
        *keep, gram.alias("gram")
    )


def repetition_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document repetition ratios (the Gopher duplicate-n-gram family).

    dup_word_frac / dup_2gram_frac / dup_3gram_frac = fraction of word
    n-grams that are repeats of an earlier occurrence (1 − distinct/total).
    A boilerplate-stuffed or looping-generation document scores high; clean
    prose scores near 0 for n≥2. Map-only, no shuffle.

    The distinct-gram counting is ONE fused Arrow pass (tuple sets over the
    split token list — measured 1.25 s → ~0.6 s at sf0.1 vs three
    interpreted ``array_distinct(transform(...))`` HOF chains); the UDF
    returns integer counts only and the fractions stay native Column
    arithmetic, so ``round(…, 6)`` keeps Spark's half-up convention and the
    DuckDB oracle stays bit-for-bit.
    """
    import pandas as pd
    from pyspark.sql.types import IntegerType, StructField, StructType

    out_type = StructType(
        [
            StructField("nt", IntegerType()),
            StructField("t1", IntegerType()), StructField("d1", IntegerType()),
            StructField("t2", IntegerType()), StructField("d2", IntegerType()),
            StructField("t3", IntegerType()), StructField("d3", IntegerType()),
        ]
    )

    @F.pandas_udf(out_type)
    def counts(s):
        rows = []
        for x in s:
            if x is None:
                rows.append((None, 0, 0, 0, 0, 0, 0))
                continue
            toks = x.split(" ")  # mirrors tokens()
            n = len(toks)
            g2 = list(zip(toks, toks[1:])) if n >= 2 else []
            g3 = list(zip(toks, toks[1:], toks[2:])) if n >= 3 else []
            rows.append(
                (n, n, len(set(toks)), len(g2), len(set(g2)), len(g3), len(set(g3)))
            )
        return pd.DataFrame(rows, columns=["nt", "t1", "d1", "t2", "d2", "t3", "d3"])

    def frac(t: str, d: str) -> Column:
        tc, dc = F.col(f"_r.{t}"), F.col(f"_r.{d}")
        return F.when(tc > 0, F.round(1.0 - dc / tc, 6)).otherwise(F.lit(0.0))

    return df.select(F.col(id_col), counts(F.col(text_col)).alias("_r")).select(
        F.col(id_col),
        F.col("_r.nt").alias("n_tokens"),
        frac("t1", "d1").alias("dup_word_frac"),
        frac("t2", "d2").alias("dup_2gram_frac"),
        frac("t3", "d3").alias("dup_3gram_frac"),
    )


def quality_filter(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    min_tokens: int = 10,
    max_tokens: int = 100_000,
    min_avg_token_len: float = 2.0,
    max_avg_token_len: float = 12.0,
    min_alpha_ratio: float = 0.6,
    min_stopword_hits: int = 1,
    max_dup_3gram_frac: float = 0.5,
    extra_cols: list[str] | None = None,
) -> DataFrame:
    """Composite Gopher-style quality gate: per-doc metrics + ``keep``.

    Thresholds are the classic heuristics (word count window, mean word
    length 2–12, alpha ratio, ≥1 stopword hit, bounded duplicate-3-gram
    fraction); all are keyword-tunable. Returns every metric alongside the
    boolean so pipelines can log WHY a doc was dropped. One map-only pass:
    the token array is materialized once and every metric derives from it.
    ``extra_cols`` passes identity columns (source, lang, …) through for
    downstream grouping without a join back.

    Like :func:`repetition_stats`, the per-doc counting is ONE fused Arrow
    pass returning raw INTEGER counts only (token count, summed token
    length, alpha chars, stopword hits, 3-gram totals); every division and
    ``round(…, 6)`` stays native Column arithmetic so each metric — and the
    DuckDB oracle — is bit-identical to the old expression form. The HOF
    form's stopword filter alone was O(tokens × |stopwords|) interpreted
    ``array_contains`` probes per doc (measured: the fused pass takes q61
    0.84 s → ~0.35 s at sf0.1).
    """
    import re

    import pandas as pd
    from pyspark.sql.types import (
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    from exon_duckdb_spark.operators.text import STOPWORDS

    # NO fan-out here: the map-only (zero-Exchange) plan shape is this
    # family's scale contract (test_plans::test_quality_ops_are_map_only);
    # the measured under-split gain was ~0.1 s, not worth an exchange
    extra = list(extra_cols or [])
    stop = frozenset(STOPWORDS)

    out_type = StructType(
        [
            StructField("n_tokens", IntegerType()),
            StructField("len_sum", LongType()),
            StructField("alpha_len", IntegerType()),
            StructField("text_len", IntegerType()),
            StructField("stop_hits", IntegerType()),
            StructField("g3_n", IntegerType()),
            StructField("g3_d", IntegerType()),
        ]
    )
    cols = ["n_tokens", "len_sum", "alpha_len", "text_len", "stop_hits", "g3_n", "g3_d"]

    @F.pandas_udf(out_type)
    def metrics(s):
        non_alpha = re.compile("[^a-zA-Z]")
        rows = []
        for x in s:
            if x is None:
                # NULL text: size/aggregate over a null array are NULL in
                # the expression form — emit all-NULL so the when(...)
                # .otherwise(0.0) guards downstream reproduce it exactly
                rows.append((None,) * 7)
                continue
            toks = x.split(" ")  # mirrors tokens(): split(' '), empties kept
            n = len(toks)
            g3 = list(zip(toks, toks[1:], toks[2:])) if n >= 3 else []
            rows.append(
                (
                    n,
                    sum(map(len, toks)),
                    len(non_alpha.sub("", x)),
                    len(x),
                    sum(1 for w in toks if w in stop),
                    len(g3),
                    len(set(g3)),
                )
            )
        return pd.DataFrame(rows, columns=cols)

    avg_len = F.round(F.col("_m.len_sum") / F.col("_m.n_tokens"), 6)
    # zero guard: an empty doc divides 0/0 — NULL in Spark but NaN/inf under
    # DuckDB's ieee_floating_point_ops, breaking the bit-for-bit oracle
    # contract (keep is false either way; only the metric column diverged)
    alpha = F.when(
        F.col("_m.text_len") > 0, F.round(F.col("_m.alpha_len") / F.col("_m.text_len"), 6)
    ).otherwise(F.lit(0.0))
    dup3 = F.when(
        F.col("_m.g3_n") > 0, F.round(1.0 - F.col("_m.g3_d") / F.col("_m.g3_n"), 6)
    ).otherwise(F.lit(0.0))

    m = df.select(
        F.col(id_col),
        *[F.col(c) for c in extra],
        metrics(F.col(text_col)).alias("_m"),
    ).select(
        F.col(id_col),
        *[F.col(c) for c in extra],
        F.col("_m.n_tokens").alias("n_tokens"),
        avg_len.alias("avg_token_len"),
        alpha.alias("alpha_ratio"),
        F.col("_m.stop_hits").alias("stopword_hits"),
        dup3.alias("dup_3gram_frac"),
    )
    keep = (
        F.col("n_tokens").between(min_tokens, max_tokens)
        & F.col("avg_token_len").between(min_avg_token_len, max_avg_token_len)
        & (F.col("alpha_ratio") >= min_alpha_ratio)
        & (F.col("stopword_hits") >= min_stopword_hits)
        & (F.col("dup_3gram_frac") <= max_dup_3gram_frac)
    )
    return m.select("*", keep.alias("keep"))


def source_mix_report(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_cols: list[str] | None = None,
    **quality_kwargs,
) -> DataFrame:
    """Per-(source, lang) corpus dashboard: document count, token volume,
    and the quality-gate keep rate — the report a pipeline publishes after
    every ingest to steer the training mix.

    One map-only metrics pass (:func:`quality_filter` with identity columns
    threaded through) followed by one aggregation keyed on the tiny
    (source, lang) space — partial aggregation makes the shuffle carry a
    handful of rows per task regardless of corpus size.
    """
    groups = group_cols or ["source", "lang"]
    m = quality_filter(
        df, text_col=text_col, id_col=id_col, extra_cols=groups, **quality_kwargs
    )
    return m.groupBy(*groups).agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.round(F.avg("n_tokens"), 6).alias("avg_tokens"),
        F.sum(F.col("keep").cast("int")).alias("n_kept"),
        F.round(F.avg(F.col("keep").cast("int")), 6).alias("keep_rate"),
    )


def per_source_cap(
    df: DataFrame,
    cap: int = 50,
    group_col: str = "source",
    score_col: str = "n_chars",
    id_col: str = "doc_id",
    ascending: bool = False,
) -> DataFrame:
    """Per-source document cap: keep at most ``cap`` documents per
    ``group_col``, ranked by ``score_col`` (descending by default, ties
    toward the smaller id) — the RefinedWeb/Gopher-style guard against one
    domain (a crawler trap, a mirror farm, one mega-site) drowning the
    training mix. Rank by a quality signal and the cap keeps each source's
    BEST documents, not a random subset.

    Scale: a naive rank window shuffles the whole corpus keyed by source —
    and source keys are exactly the skewed ones (that is why the cap
    exists). :func:`~exon_duckdb_spark.operators.similarity.partition_topk`
    first reduces map-side to ≤ cap rows per (partition, source), so the
    window's exchange carries ≤ cap × n_partitions rows per source no
    matter how large the hot source is. Deterministic output, no UDF in
    the ranking decision (the reducer is Arrow-batched but exact).
    """
    from pyspark.sql import Window

    from exon_duckdb_spark.operators.similarity import partition_topk

    reduced = partition_topk(df, cap, group_col, score_col, id_col, ascending)
    order = (
        F.col(score_col).asc() if ascending else F.col(score_col).desc()
    )
    w = Window.partitionBy(group_col).orderBy(order, F.col(id_col).asc())
    return (
        reduced.withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") <= int(cap))
        .drop("_rk")
    )


def curriculum_shards(
    df: DataFrame,
    n_shards: int = 4,
    score_col: str = "n_chars",
    id_col: str = "doc_id",
    round_digits: int = 6,
) -> DataFrame:
    """Curriculum sharding: assign every document to one of ``n_shards``
    difficulty tiers by global score order (shard 0 = lowest scores) —
    the data-ordering stage of curriculum training (easy→hard) and of
    staged-mixture schedules, as a SCALABLE order statistic.

    The naive ``ntile`` needs a total order — one task sorts the corpus.
    Here the global order comes from a two-pass rounded-score histogram:

      1. count docs per distinct round-6 score (map-side partial agg);
      2. exclusive cumulative counts over the DISTINCT-score table — its
         size is bounded by the score's value granularity (≤ range/1e-6),
         NOT the corpus, so the unpartitioned window runs on a
         histogram, never on documents;
      3. ``shard = floor(cum_before · k / n)`` broadcast-joined back on
         the rounded score — map-only assignment.

    ``round_digits`` is the score-granularity knob that keeps step 2's
    histogram bounded when the score is CONTINUOUS (perplexity, classifier
    probability): the window input is the distinct-rounded-score table,
    so its cardinality is at most ``range · 10^round_digits`` values —
    independent of corpus size. A perplexity-like score in [0, 100) at the
    default 6 digits allows up to 1e8 rows (too many at 100 TB); pass
    ``round_digits=3`` to cap it at 1e5. Coarser rounding widens boundary
    ties (same documented bias as below), never changes determinism.
    Property-tested: tests/test_operators.py asserts the histogram, not
    the corpus, bounds the window input.

    Deterministic and engine-replayable: every doc with the same rounded
    score lands in the same shard, so shard sizes are n/k exact up to
    boundary-score tie mass (documented bias, not nondeterminism — the
    alternative, ranking within tied scores, is the global sort this
    operator exists to avoid).

    Returns (id_col, score_col, shard int).
    """
    from pyspark.sql import Window

    k = int(n_shards)
    if k < 1:
        raise ValueError("n_shards must be >= 1")
    # stable_round, not engine round(): continuous scores land on 6-dp
    # ties where Spark's and DuckDB's round() diverge (numeric.py)
    from exon_duckdb_spark.operators.numeric import stable_round

    s = stable_round(F.col(score_col).cast("double"), int(round_digits))
    hist = df.select(s.alias("_s")).groupBy("_s").agg(F.count("*").alias("_c"))
    w = Window.orderBy(F.col("_s").asc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    cum = hist.withColumn("_cum", F.coalesce(F.sum("_c").over(w), F.lit(0)))
    total = hist.agg(F.sum("_c").alias("_n"))
    shard = F.floor(F.col("_cum") * k / F.col("_n")).cast("int")
    bounds = cum.crossJoin(F.broadcast(total)).select(
        "_s", shard.alias("shard")
    )
    return df.select(F.col(id_col), F.col(score_col), s.alias("_s")).join(
        bounds, "_s"
    ).select(F.col(id_col), F.col(score_col), "shard")


def histogram_quantiles(
    df: DataFrame,
    score_col: str = "n_chars",
    qs: tuple[float, ...] = (0.5, 0.9, 0.99),
    round_digits: int = 6,
) -> DataFrame:
    """Global quantiles as a histogram order statistic — the threshold
    picker for quality gates ("drop the worst 10% by perplexity") that a
    100 TB corpus cannot compute with a sort.

    value(q) = the smallest rounded score whose cumulative count reaches
    ``ceil(q·n)`` (the inverse-CDF / lower-quantile convention). The
    cumulative window runs over the DISTINCT-rounded-score histogram —
    bounded by ``range·10^round_digits``, never corpus-sized (same
    machinery and knob as :func:`curriculum_shards`). The rank threshold
    is computed in INTEGER space (``(q_micro·n + 999999) div 1e6``): a
    float ``ceil(q·n)`` diverges between engines when q·n is integral
    (0.9·1000 → 900.0000000001 in binary but exact in DuckDB's DECIMAL
    literals). Deterministic, exactly SQL-replayable; returns (q, value).
    """
    from functools import reduce

    from pyspark.sql import Window

    from exon_duckdb_spark.operators.numeric import stable_round

    if not qs or not all(0 < q <= 1 for q in qs):
        raise ValueError("quantiles must be in (0, 1]")
    s = stable_round(F.col(score_col).cast("double"), int(round_digits))
    hist = df.select(s.alias("_s")).groupBy("_s").agg(F.count("*").alias("_c"))
    w = Window.orderBy(F.col("_s").asc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = hist.withColumn("_cum", F.sum("_c").over(w))
    total = hist.agg(F.sum("_c").alias("_n"))
    base = cum.crossJoin(F.broadcast(total))
    parts = []
    for q in qs:
        qm = int(round(q * 1_000_000))
        rank = F.expr(f"({qm} * _n + 999999) div 1000000")
        parts.append(
            base.where(F.col("_cum") >= rank).agg(
                F.lit(float(q)).alias("q"), F.min("_s").alias("value")
            )
        )
    return reduce(lambda a, b: a.unionByName(b), parts)


def histogram_quantiles_sql(
    source_sql: str,
    score_expr: str,
    qs: tuple[float, ...] = (0.5, 0.9, 0.99),
    round_digits: int = 6,
) -> str:
    """DuckDB twin of :func:`histogram_quantiles` (same stable rounding,
    same integer rank thresholds)."""
    from exon_duckdb_spark.operators.numeric import stable_round_sql

    sel = "\n            UNION ALL\n            ".join(
        f"SELECT CAST({float(q)!r} AS DOUBLE) AS q, MIN(s) AS value "
        f"FROM cum, tot WHERE cum >= ({int(round(q * 1_000_000))} * n + 999999) // 1000000"
        for q in qs
    )
    return f"""
        WITH h AS (
          SELECT {stable_round_sql(f'CAST({score_expr} AS DOUBLE)', round_digits)} AS s,
                 count(*) AS c
          FROM {source_sql} GROUP BY 1
        ),
        cum AS (SELECT s, SUM(c) OVER (ORDER BY s ASC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
                FROM h),
        tot AS (SELECT SUM(c) AS n FROM h)
        {sel}
    """



def _micro_avg_logprob(logp, tf):
    """Per-doc average log-prob as an integer micro-unit mean: quantize
    each (term/bigram)-level log-prob ONCE (vocab-sized, explicit floor
    form so both engines agree), sum exact integers weighted by tf, and
    stable-round the final quotient — no partition-order 1-ULP drift, no
    cross-engine ln()/round() divergence compounding across a document's
    terms (the q29 bug class; see operators/numeric.py)."""
    from pyspark.sql import functions as F

    from exon_duckdb_spark.operators.numeric import stable_round

    lp_micro = F.floor(logp * 1e6 + F.lit(0.5)).cast("long")
    return stable_round(F.sum(lp_micro * tf) / (F.sum(tf) * 1e6))


def perplexity_score(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus-trained unigram language-model score per document — the
    classic perplexity quality signal (CCNet/Gopher pipelines filter on LM
    perplexity; a unigram model is its fully-SQL-replayable core).

    Model: add-one-smoothed unigram over the corpus's own token counts,
    p(w) = (count(w) + 1) / (total + V). Per doc we report
    ``avg_logprob`` = mean ln p(w) over its tokens (rounded 6 dp; higher =
    more typical text) and ``n_tokens``. Gibberish, boilerplate-free junk
    and wrong-language docs sit far below the corpus mode.

    Scale design (same shape as tfidf_top_terms): one (doc, token) tf
    shuffle with partial aggregation, one vocab-keyed join against the
    token-count table (every token of a doc exists in the vocab by
    construction — the model is self-trained, so the join is inner and
    loses nothing), one id-keyed weighted-average aggregation. Three
    linear shuffles, no driver data path, no UDF.

    Cache lifecycle: the intermediate count tables persist lazily and the
    CALLER owns their release (the per-doc output is corpus-sized, so the
    eager materialize-then-unpersist pattern hybrid_topk uses would cost a
    full extra materialization here). Identical repeated plans dedupe in
    the CacheManager; pipelines scoring MANY distinct corpora in one
    session should ``spark.catalog.clearCache()`` between corpora.
    """
    from pyspark import StorageLevel

    from exon_duckdb_spark.operators.relational import ensure_parallelism

    # recover map parallelism on under-split scans (measured 0.6 s ->
    # 0.33 s at sf0.1); no-op on real multi-split layouts
    df = ensure_parallelism(df, id_col)
    toksed = df.select(F.col(id_col), F.explode(tokens(text_col)).alias("_tok"))
    tf = toksed.groupBy(id_col, "_tok").agg(F.count("*").alias("_tf"))
    # persisted: both the scoring join's broadcast AND the (total, vocab)
    # stats row read `counts` — without the persist Spark recomputes the
    # whole tf lineage (two extra corpus scans) for the stats branch
    counts = (
        tf.groupBy("_tok")
        .agg(F.sum("_tf").alias("_cnt"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    stats = counts.agg(
        F.sum("_cnt").alias("_total"), F.count("*").alias("_vocab")
    )
    logp = F.log(
        (F.col("_cnt") + 1).cast("double") / (F.col("_total") + F.col("_vocab"))
    )
    scored = tf.join(counts, "_tok").crossJoin(F.broadcast(stats))
    return (
        scored.groupBy(id_col)
        .agg(
            _micro_avg_logprob(logp, F.col("_tf")).alias("avg_logprob"),
            F.sum("_tf").cast("bigint").alias("n_tokens"),
        )
    )


def _bigram_tf_tables(df: DataFrame, text_col: str, id_col: str):
    """The ONE copy of the bigram LM training lineage, shared by the
    add-one (:func:`bigram_perplexity_score`) and Jelinek-Mercer
    (:func:`interpolated_bigram_score`) scorers: per-(doc, bigram) tf
    (persisted — every consumer reads it at least twice), corpus bigram
    counts, and context counts aggregated off the bigram table itself
    (single corpus scan). Sharing one builder is what makes the two
    scorers' tf2 plans byte-identical, so when q78m runs both in one
    session the CacheManager dedupes the persist instead of scanning the
    corpus twice. ``ensure_parallelism`` recovers map parallelism on
    under-split scans (measured 1.4 s -> 0.8 s at sf0.1)."""
    from pyspark import StorageLevel

    from exon_duckdb_spark.operators.relational import ensure_parallelism

    df = ensure_parallelism(df, id_col)
    toksed = df.select(F.col(id_col), tokens(text_col).alias("_toks"))
    tf2 = (
        ngram_rows(toksed, "_toks", 2, id_col)
        .groupBy(id_col, F.col("gram").alias("_bg"))
        .agg(F.count("*").alias("_tf"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    c2 = tf2.groupBy("_bg").agg(F.sum("_tf").alias("_c2"))
    ctx = (
        tf2.groupBy(
            F.substring_index(F.col("_bg"), " ", 1).alias("_w1")
        )
        .agg(F.sum("_tf").alias("_c1"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    return tf2, c2, ctx


def bigram_perplexity_score(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus-trained add-one BIGRAM LM score per document — one Markov
    order up from :func:`perplexity_score` toward CCNet's KenLM filter:
    ``P(w2 | w1) = (c(w1 w2) + 1) / (c(w1) + V)``. Context counts are the
    exact MLE denominator ``c(w1) = Σ_w2 c(w1 w2)`` — aggregated off the
    persisted bigram table itself (``sum(_tf) group by first word``), not
    a second tokenization of the raw text, so the corpus is scanned ONCE;
    ``V`` is the context vocabulary (distinct observed ``w1``).

    ``avg_logprob`` = mean ln P over the document's ``n_tokens − 1``
    transitions. Bigram scores separate shuffled/templated junk that a
    unigram cannot (same word histogram, broken word ORDER). Documents
    with fewer than 2 tokens have no transitions and are omitted.

    Scale: one (doc, bigram) tf shuffle, a bigram-keyed count join — the
    bigram table is NOT broadcastable at corpus scale, so this is a
    shuffle join on the bigram key — one context-keyed join against the
    bigram-derived context counts, one id-keyed weighted average. All
    linear, no UDF, single corpus scan (test_plans.py pins the scan
    count). Cache lifecycle: as in :func:`perplexity_score`, the persisted
    tf2/context tables are caller-owned (corpus-sized output rules out
    eager release); identical repeated plans dedupe in the CacheManager.
    """
    tf2, c2, uni = _bigram_tf_tables(df, text_col, id_col)
    stats = uni.agg(F.count("*").alias("_vocab"))
    logp = F.log(
        (F.col("_c2") + 1).cast("double") / (F.col("_c1") + F.col("_vocab"))
    )
    scored = (
        tf2.join(c2, "_bg")
        .withColumn("_w1", F.substring_index(F.col("_bg"), " ", 1))
        .join(uni, "_w1")
        .crossJoin(F.broadcast(stats))
    )
    return scored.groupBy(id_col).agg(
        _micro_avg_logprob(logp, F.col("_tf")).alias("avg_logprob"),
        F.sum("_tf").cast("bigint").alias("n_transitions"),
    )


def interpolated_bigram_score(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lam: float = 0.75,
) -> DataFrame:
    """Jelinek-Mercer INTERPOLATED bigram LM score per document — the
    smoothing the KenLM-style filters actually use (a fixed-λ mixture of
    orders), versus :func:`bigram_perplexity_score`'s add-one:

        P(w2 | w1) = λ · c(w1 w2)/c(w1)  +  (1−λ) · c(·, w2)/T

    MLE bigram term (no pseudo-counts — the mixture handles unseen mass)
    interpolated with the transition-position unigram ``c(·, w2)/T``
    (count of w2 as a SECOND element over total transitions). All three
    count tables derive from the one persisted (doc, bigram) tf table, so
    the corpus is still scanned once; λ rides into the expression as a
    literal, and ``(1.0 − λ)`` is computed the same way on both engines.
    Per doc: ``avg_logprob`` = mean ln P over its transitions (rounded
    6 dp), ``n_transitions``; < 2-token docs are omitted.

    Scale: the :func:`bigram_perplexity_score` shape plus ONE extra
    second-word-keyed count join — four linear shuffles, no UDF, no
    driver data path; totals ride a broadcast 1-row stats frame.
    """
    lam = float(lam)
    tf2, c2, ctx = _bigram_tf_tables(df, text_col, id_col)
    w2c = tf2.groupBy(
        F.substring_index(F.col("_bg"), " ", -1).alias("_w2")
    ).agg(F.sum("_tf").alias("_cw2"))
    stats = tf2.agg(F.sum("_tf").alias("_T"))
    p = F.lit(lam) * (F.col("_c2").cast("double") / F.col("_c1")) + (
        F.lit(1.0) - F.lit(lam)
    ) * (F.col("_cw2").cast("double") / F.col("_T"))
    scored = (
        tf2.join(c2, "_bg")
        .withColumn("_w1", F.substring_index(F.col("_bg"), " ", 1))
        .join(ctx, "_w1")
        .withColumn("_w2", F.substring_index(F.col("_bg"), " ", -1))
        .join(w2c, "_w2")
        .crossJoin(F.broadcast(stats))
    )
    return scored.groupBy(id_col).agg(
        _micro_avg_logprob(F.log(p), F.col("_tf")).alias("avg_logprob"),
        F.sum("_tf").cast("bigint").alias("n_transitions"),
    )


def kneser_ney_bigram_score(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    discount: float = 0.75,
) -> DataFrame:
    """Interpolated Kneser-Ney bigram LM score per document — the smoothing
    KenLM actually ships (Heafield 2011; Kneser & Ney 1995), one step past
    :func:`interpolated_bigram_score`'s fixed-λ Jelinek-Mercer mixture:

        P(w2 | w1) = max(c(w1 w2) − D, 0) / c(w1)
                   + D · N1+(w1 ·) / c(w1) · N1+(· w2) / N1+(· ·)

    Absolute discounting with the CONTINUATION unigram — a word's backoff
    mass is how many distinct contexts it follows (type count), not how
    often it occurs (token count). That is KN's insight: "Francisco" is
    frequent but nearly always follows "San", so its continuation count is
    tiny and templated junk leaning on it scores poorly where a JM mixture
    is fooled. Every scored bigram is observed (c ≥ 1 > D), so the max()
    never clips here; it stays in the expression for formula fidelity.

    All four count tables derive from the one persisted (doc, bigram) tf
    table (single corpus scan). The bigram count table ``c2`` is itself
    persisted here: four consumers read it (the scoring join, the fused
    per-first-word aggregate, the per-second-word aggregate, the types
    count), and without the persist each would re-aggregate it from tf2 —
    measured 1.9 s → where the add-one sibling runs 0.66 s at sf0.1.
    ``c(w1)`` and ``N1+(w1 ·)`` come from ONE aggregate over c2
    (``c(w1) = Σ_w2 c(w1 w2)`` exactly, integer arithmetic — identical to
    the ctx table the siblings use), so the first-word key joins once;
    ``N1+(· ·)`` rides a broadcast 1-row frame. Per doc: ``avg_logprob``
    = mean ln P over its transitions (6 dp), ``n_transitions``; < 2-token
    docs are omitted.

    Scale: the :func:`interpolated_bigram_score` shape — one (doc,
    bigram) tf shuffle plus word-keyed count joins (bigram and word
    tables are NOT broadcastable at corpus scale), one id-keyed weighted
    average. All linear, no UDF, no driver data path. Cache lifecycle:
    caller-owned, as for the persisted tf2/ctx lineage.
    """
    from pyspark import StorageLevel

    d = float(discount)
    tf2, c2, _ = _bigram_tf_tables(df, text_col, id_col)
    c2 = c2.persist(StorageLevel.MEMORY_AND_DISK)
    w1stats = c2.groupBy(
        F.substring_index(F.col("_bg"), " ", 1).alias("_w1")
    ).agg(F.sum("_c2").alias("_c1"), F.count("*").alias("_n1f"))
    n1b = c2.groupBy(
        F.substring_index(F.col("_bg"), " ", -1).alias("_w2")
    ).agg(F.count("*").alias("_n1b"))
    stats = c2.agg(F.count("*").alias("_types"))
    p = F.greatest(F.col("_c2") - F.lit(d), F.lit(0.0)).cast("double") / F.col(
        "_c1"
    ) + (F.lit(d) * F.col("_n1f") / F.col("_c1")) * (
        F.col("_n1b").cast("double") / F.col("_types")
    )
    scored = (
        tf2.join(c2, "_bg")
        .withColumn("_w1", F.substring_index(F.col("_bg"), " ", 1))
        .join(w1stats, "_w1")
        .withColumn("_w2", F.substring_index(F.col("_bg"), " ", -1))
        .join(n1b, "_w2")
        .crossJoin(F.broadcast(stats))
    )
    return scored.groupBy(id_col).agg(
        _micro_avg_logprob(F.log(p), F.col("_tf")).alias("avg_logprob"),
        F.sum("_tf").cast("bigint").alias("n_transitions"),
    )


def dsir_importance(
    raw: DataFrame,
    target: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    buckets: int = 8192,
    alpha: float = 1.0,
) -> DataFrame:
    """Data Selection via Importance Resampling (DSIR, Xie et al. 2023):
    score every document of ``raw`` by how much more likely it is under a
    bag-of-hashed-unigrams model of ``target`` than under the same model
    of ``raw`` itself — the standard recipe for skewing a web-scale corpus
    toward a high-quality exemplar set (Wikipedia, books, a curated
    domain) without training a classifier.

    Features are whitespace tokens hashed into ``buckets`` slots
    (md5-based so a SQL oracle reproduces them); both models are
    add-``alpha`` smoothed over the bucket space. Per document:

        dsir_logw = Σ_b tf(b) · [ ln p_target(b) − ln p_raw(b) ]

    rounded 6 dp; ``kept`` = dsir_logw > 0 after rounding (importance
    ratio > 1 — more target-like than raw-like). The paper resamples with
    Gumbel-top-k over these weights; composing the returned weights with
    :func:`exon_duckdb_spark.operators.text.hash_sample` or a calibrated
    threshold is the deterministic, shuffle-free scale path — a global
    top-k over 100 TB of weights would be a full sort for no modeling
    gain.

    Scale design: two bucket-keyed count aggregations (map-side partial,
    key space ≤ ``buckets``), a bucket-space full-outer join producing the
    log-ratio table (≤ ``buckets`` rows — broadcast), then one (doc,
    bucket) tf shuffle joined against that broadcast and reduced per doc.
    Totals ride a broadcast 1-row stats frame, not a driver collect. All
    linear; the corpus text is read once per side.
    """
    from exon_duckdb_spark.operators.hashing import md5_int32
    from exon_duckdb_spark.operators.relational import ensure_parallelism

    raw = ensure_parallelism(raw, id_col)
    bucket = lambda c: (md5_int32(c) % buckets).alias("_b")  # noqa: E731

    tok_r = raw.select(
        F.col(id_col), F.explode(tokens(text_col)).alias("_tok")
    ).select(F.col(id_col), bucket(F.col("_tok")))
    tok_t = target.select(F.explode(tokens(text_col)).alias("_tok")).select(
        bucket(F.col("_tok"))
    )
    tf = tok_r.groupBy(id_col, "_b").agg(F.count("*").alias("_tf"))
    cr = tf.groupBy("_b").agg(F.sum("_tf").alias("_nr"))
    ct = tok_t.groupBy("_b").agg(F.count("*").alias("_nt"))
    stats_r = cr.agg(F.sum("_nr").alias("_R"))
    stats_t = ct.agg(F.sum("_nt").alias("_T"))
    ratio = (
        cr.join(ct, "_b", "full_outer")
        .crossJoin(F.broadcast(stats_r))
        .crossJoin(F.broadcast(stats_t))
        .select(
            "_b",
            (
                F.log(
                    (F.coalesce(F.col("_nt"), F.lit(0)) + F.lit(alpha))
                    / (F.col("_T") + F.lit(alpha * buckets))
                )
                - F.log(
                    (F.coalesce(F.col("_nr"), F.lit(0)) + F.lit(alpha))
                    / (F.col("_R") + F.lit(alpha * buckets))
                )
            ).alias("_logr"),
        )
    )
    # quantize the log-ratio to integer micro-units BEFORE the per-doc
    # sum: the sum is then exact and commutative (no run-order 1-ULP
    # drift), and the cross-engine ln() last-ulp variance is absorbed at
    # the per-BUCKET quantization (≤ 8192 values) instead of compounding
    # across every term of every document's sum — the q29 bug class
    # applied to the `kept = logw > 0` threshold
    scored = tf.join(
        F.broadcast(
            ratio.select(
                "_b",
                F.floor(F.col("_logr") * 1e6 + F.lit(0.5))
                .cast("long")
                .alias("_lr_micro"),
            )
        ),
        "_b",
    )
    return scored.groupBy(id_col).agg(
        (F.sum(F.col("_tf") * F.col("_lr_micro")) / 1e6).alias("dsir_logw"),
        F.sum("_tf").cast("bigint").alias("n_tokens"),
        (F.sum(F.col("_tf") * F.col("_lr_micro")) > 0).alias("kept"),
    ).select(F.col(id_col), "dsir_logw", "n_tokens", "kept")


# Regexes restricted to syntax Java regex (Spark) and RE2 (DuckDB) evaluate
# identically: explicit character classes, bounded repetition, \\b word
# boundaries. No backreferences, no lookaround (RE2 has neither).
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ipv4": r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b",
    "phone": r"\+[0-9]{1,2} [0-9]{3}-[0-9]{3}-[0-9]{4}",
}


def pii_scrub(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Redact emails / IPv4 addresses / intl-format phone numbers and count
    what was removed. Map-only regexp pass (codegen); the per-type counts
    let a pipeline monitor PII density per source without keeping the raw
    text.

    Semantics on overlap: the counts are measured on the ORIGINAL text
    (they answer "how much PII density does this source carry"), while
    redaction applies the patterns sequentially in dict order (email, ipv4,
    phone) — so an ipv4 embedded in an email address (``user@10.1.2.3.net``)
    counts under BOTH types but is redacted once, as ``<EMAIL>``. Counts are
    therefore occurrence counts, not replacement counts. Two invariants the
    tests pin: no redaction token ``<NAME>`` matches any pattern (else a
    later replace would corrupt an earlier one), and the oracle SQL mirrors
    the same count-then-sequential-replace order so both engines agree
    bit-for-bit."""
    t = F.col(text_col)
    counts = [
        F.regexp_count(t, F.lit(pat)).alias(f"n_{name}")
        for name, pat in PII_PATTERNS.items()
    ]
    red = t
    for name, pat in PII_PATTERNS.items():
        red = F.regexp_replace(red, pat, f"<{name.upper()}>")
    return df.select(F.col(id_col), *counts, red.alias("redacted_text"))


def _round_py(v: float, digits: int) -> float:
    """Driver-side twin of :func:`~exon_duckdb_spark.operators.numeric.
    stable_round`: floor(v·10^d + 0.5)/10^d — half-up toward +∞, the same
    fixed convention both engines share."""
    import math

    s = 10**digits
    return math.floor(v * s + 0.5) / s


def logistic_regression_train(
    df: DataFrame,
    feature_cols: "list[str]",
    label_col: str,
    iters: int = 6,
    lr: float = 1.0,
    digits: int = 6,
) -> "list[tuple[list[float], float]]":
    """Distributed logistic-regression training by full-batch gradient
    descent — the in-engine path for learning a document quality
    classifier (the FineWeb-Edu / fastText-gate pattern: distill a
    hand-tuned keep/drop rule, or human labels, into a smooth scorer that
    ranks the whole corpus). Returns the per-iteration trajectory
    ``[(weights, bias), ...]`` (driver-held, iters × (p+1) floats — the
    same metadata-residency rationale as ``kmeans_refine``'s centroids);
    the last entry is the model.

    Exactness contract (what makes the trajectory a gate-able value
    rather than "ML-ish floats"): the margin folds features in
    feature_cols ORDER (both engines left-fold the written expression, so
    the IEEE double is identical), sigmoid errors aggregate through
    ``stable_avg`` (quantize → exact integer SUM → one division:
    order/partitioning/engine-independent), and each weight update is
    re-rounded with the stable half-up convention, so iteration t's
    weights are a pure function of iteration t-1's — the whole trajectory
    replays bit-for-bit in the SQL oracle as a K-unrolled chain. The only
    cross-engine seam is ``exp()``'s final ulp, absorbed by the 10^-d
    quantization except on exact floor boundaries (probability ~10^-10
    per addend).

    Scale: one corpus-scan aggregation job per iteration (p+1
    ``stable_avg`` columns, map-side partial aggregation — no shuffle of
    rows, only of partial sums); persist the feature frame before calling
    so the scan doesn't recompute upstream UDF metrics per iteration.
    For SMALL feature frames (distilling from a labeled subset), also
    ``coalesce`` before calling: the iterations are sequential jobs, so a
    tiny frame spread over the corpus scan's partition count pays per-task
    scheduling K times for sub-MB of data (round 11 measured this as the
    dominant q106 wall; values are partition-independent by stable_avg's
    contract, so coalescing never changes the trajectory).
    Labels may be boolean or numeric 0/1."""
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    if not feature_cols:
        raise ValueError("need at least one feature column")
    # One parameterized spark.sql call per iteration instead of ~200
    # Column-DSL py4j round trips (r14 q106 attribution: the event log
    # showed the 6-iteration wall was ~0.5 s of DRIVER think time per
    # iteration against ~0.05 s of task execution, and the think time was
    # dominated by Python-side expression construction). The SQL text is
    # the SAME unresolved tree the Column form built — margin left-folds
    # in feature_cols order, stable_avg's quantize → three-lane integer
    # SUM → one division (_stable_avg_spark_sql is its literal SQL twin)
    # — and the weights bind as parameter markers (exact doubles, no
    # literal rendering), so the analyzed plan and every per-row IEEE op
    # are identical: the trajectory is bit-unchanged (pinned by
    # TestLogisticRegression::test_sql_form_quoting_and_digits and the
    # q106 gate sha).
    # The chain stays one corpus-scan aggregation job per iteration —
    # the 100 TB shape is untouched; only the per-iteration driver
    # constant shrank (measured 3.9 -> 1.5 s for q106's 6x500-row chain,
    # interleaved min-of-6).
    from exon_duckdb_spark.operators.similarity import _bt

    margin = ":b"
    for j, c in enumerate(feature_cols):
        margin = f"{margin} + :w{j} * CAST({_bt(c)} AS DOUBLE)"
    err = (
        "CAST(1.0 AS DOUBLE) / (CAST(1.0 AS DOUBLE) + EXP(-("
        + margin
        + f"))) - CAST({_bt(label_col)} AS DOUBLE)"
    )
    inner = ", ".join(
        [f"({err}) AS _err"]
        + [
            f"CAST({_bt(c)} AS DOUBLE) AS _f{j}"
            for j, c in enumerate(feature_cols)
        ]
    )
    aggs = ", ".join(
        [
            _stable_avg_spark_sql(f"_err * _f{j}", digits) + f" AS g{j}"
            for j in range(len(feature_cols))
        ]
        + [_stable_avg_spark_sql("_err", digits) + " AS gb"]
    )
    sql = f"SELECT {aggs} FROM (SELECT {inner} FROM {{df}}) _gd_proj"
    spark = df.sparkSession
    w = [0.0] * len(feature_cols)
    b = 0.0
    traj: list[tuple[list[float], float]] = []
    # AQE off for the training sub-jobs only (restored after): each
    # iteration is a GLOBAL aggregate — partial agg at the scan, then a
    # single-partition exchange of one partial-sum row per task — so
    # adaptive re-planning has nothing to improve at any scale, and its
    # per-iteration cost (materialize the shuffle stage as its own job,
    # re-plan, submit the final stage as a second job) is pure sequential
    # latency × iters. Interleaved A/B (7 alternations, sf0.1 6-iter
    # chain): 2.41 s AQE-on vs 2.21 s AQE-off, every pair in favor;
    # trajectory bit-identical (AQE never changes values).
    with scoped_conf(spark, **{"spark.sql.adaptive.enabled": "false"}):
        for _ in range(iters):
            args = {"b": b}
            for j, wj in enumerate(w):
                args[f"w{j}"] = wj
            row = spark.sql(sql, args, df=df).collect()[0]
            w = [
                _round_py(wj - lr * float(row[f"g{j}"]), digits)
                for j, wj in enumerate(w)
            ]
            b = _round_py(b - lr * float(row["gb"]), digits)
            traj.append((list(w), b))
    return traj


def _stable_avg_spark_sql(expr: str, digits: int) -> str:
    """Spark-SQL text twin of :func:`~exon_duckdb_spark.operators.numeric.
    stable_avg`'s Column tree (NOT the DuckDB twin ``stable_avg_sql`` —
    this one reproduces the three-lane long-sum form so the parsed tree
    matches the Column DSL's node for node). Kept private to the
    training loop; everything else keeps building the Column form."""
    s = f"{float(10 ** digits)!r}D"
    q = f"FLOOR(({expr}) * {s} + 0.5D)"
    a = f"FLOOR({q} / 68719476736.0D)"
    b = f"FLOOR(({q} - {a} * 68719476736.0D) / 262144.0D)"
    c = f"CAST({q} - {a} * 68719476736.0D - {b} * 262144.0D AS LONG)"
    total = (
        f"CAST(SUM(CAST({a} AS LONG)) AS DECIMAL(38,0)) * 68719476736"
        f" + CAST(SUM(CAST({b} AS LONG)) AS DECIMAL(38,0)) * 262144"
        f" + CAST(SUM({c}) AS DECIMAL(38,0))"
    )
    return f"CAST(({total}) / (COUNT({expr}) * {s}) AS DOUBLE)"


def logistic_score(
    df: DataFrame,
    feature_cols: "list[str]",
    weights: "list[float]",
    bias: float,
    digits: int = 6,
    prob_col: str = "prob",
    pred_col: str = "pred",
) -> DataFrame:
    """Apply a trained :func:`logistic_regression_train` model: appends
    ``prob`` (sigmoid of the margin, stable-rounded so both engines agree
    bit-for-bit) and ``pred`` (prob ≥ 0.5 — decided on the ROUNDED value,
    the replayable convention). Map-only codegen: the 100 TB corpus scan
    this model exists for adds zero shuffles."""
    from exon_duckdb_spark.operators.numeric import stable_round

    if len(weights) != len(feature_cols):
        raise ValueError(
            f"{len(weights)} weights for {len(feature_cols)} features"
        )
    margin = F.lit(float(bias))
    for wj, c in zip(weights, feature_cols):
        margin = margin + F.lit(float(wj)) * F.col(c).cast("double")
    prob = stable_round(F.lit(1.0) / (F.lit(1.0) + F.exp(-margin)), digits)
    return df.withColumn(prob_col, prob).withColumn(
        pred_col, F.col(prob_col) >= 0.5
    )


def auc_score(
    df: DataFrame,
    prob_col: str = "prob",
    label_col: str = "y",
) -> DataFrame:
    """Exact ROC-AUC of a scorer against binary labels as a 1-row frame
    (auc double, n_pos long, n_neg long) — the evaluation a classifier
    pipeline (:func:`logistic_regression_train`) runs corpus-wide.

    Computed by the rank-sum identity over the DISTINCT-score histogram,
    not a corpus sort: AUC = Σ_v n_pos(v)·(2·cum_neg(<v) + n_neg(v)) /
    (2·P·N), where ties contribute the conventional ½. Everything up to
    the single final division is INTEGER arithmetic on counts, so the
    value is exact and bit-identical across engines/partitionings — no
    float summation order anywhere. Scale: one groupBy on the score value
    (histogram-sized — scores are stable-rounded to 10^-d, so ≤ 10^d·range
    distinct values regardless of corpus size, the
    ``histogram_quantiles`` bound) and one window over that histogram;
    the corpus itself never sorts and never shuffles beyond the count
    aggregation. Degenerate inputs (no positives or no negatives) yield
    NULL auc rather than a misleading number."""
    from pyspark.sql import Window

    h = (
        df.groupBy(F.col(prob_col).alias("_v"))
        .agg(
            F.sum(F.col(label_col).cast("long")).alias("np"),
            F.sum(F.lit(1) - F.col(label_col).cast("long")).alias("nn"),
        )
    )
    w = Window.orderBy("_v").rowsBetween(Window.unboundedPreceding, -1)
    contrib = F.col("np") * (
        2 * F.coalesce(F.sum("nn").over(w), F.lit(0)) + F.col("nn")
    )
    return (
        h.select(contrib.alias("c"), "np", "nn")
        .agg(
            F.sum("c").alias("num2"),
            F.sum("np").alias("n_pos"),
            F.sum("nn").alias("n_neg"),
        )
        .select(
            F.when(
                (F.col("n_pos") > 0) & (F.col("n_neg") > 0),
                F.col("num2")
                / (F.lit(2.0) * F.col("n_pos") * F.col("n_neg")),
            ).alias("auc"),
            "n_pos",
            "n_neg",
        )
    )
