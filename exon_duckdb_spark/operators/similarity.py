"""Similarity search over embedding columns (array<float>).

- :func:`cosine` / :func:`dot` — native higher-order expressions (zip_with +
  aggregate), double precision, deterministic left-to-right summation so a
  SQL oracle reproduces values exactly.
- :func:`cosine_topk` — brute-force exact top-k: broadcast the (small) query
  set against the corpus, per-row cosine, per-query window top-k. At 100 TB
  the corpus side stays partitioned; the only shuffle is the final top-k by
  query_id (tiny).
- :func:`hyperplane_bucket` / :func:`ann_topk` — the scale path: deterministic
  random-hyperplane LSH code per vector (map-only), bucket equi-join instead
  of a cross join. Recall < 1 by construction; increase ``planes`` tables or
  probe multiple buckets for higher recall.
- :func:`ivf_topk` — IVF-flat ANN: a small centroid table lives on the driver
  (like any vector index's coarse quantizer), every corpus vector is assigned
  to its nearest centroid in a map-only pass over literal centroid arrays,
  and each query probes its ``nprobe`` nearest lists. The candidate join is a
  broadcast equi-join on the list id — the corpus never shuffles.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

import hashlib

__all__ = [
    "dot",
    "cosine",
    "cosine_topk",
    "hyperplane_bucket",
    "ann_topk",
    "ivf_topk",
    "ivf_build",
    "ivf_search",
    "kmeans_refine",
    "plane_signs",
    "auto_planes",
    "bm25_topk",
    "bm25_topk_multi",
    "hybrid_topk",
    "mmr_rerank",
    "random_projection",
    "rp_topk",
    "hard_negatives",
    "bitext_margin_pairs",
    "ann_recall",
]

# Size cutoffs between the two evaluators each ANN family has: literal
# Column expressions (SQL-reproducible summation order) up to the cutoff,
# an Arrow-batched numpy UDF with the same results past it. They are
# calibrated to DRIVER plan-build cost, not executor cost: every literal
# costs ~2 py4j round trips while the plan is built. Read at call time.
#
# Hyperplane codes, tables × planes × dims: q32's 2-table × 4-plane ×
# 64-dim tree measured ~1.2 s of plan build per action, the numpy form ~0 s.
CODES_LITERAL_LIMIT = 192
# IVF centroid assignment (nlist × dims) and random projection
# (out_dim × in_dim): a 16 × 64 literal tree measured ~2 s of driver
# plan build before any job ran.
IVF_LITERAL_LIMIT = 512


def ann_recall(
    exact_topk: DataFrame,
    ann_topk: DataFrame,
    query_col: str = "query_id",
    neighbor_col: str = "neighbor_id",
) -> DataFrame:
    """Per-query recall of an ANN result list against the exact top-k:
    ``(query_id, n_exact, n_hit, recall)`` with recall = |exact ∩ ann| /
    |exact| — the standard quality metric for tuning any of the ANN
    tiers (``ann_topk`` tables/planes, ``ivf_search`` nprobe, PQ m/bits,
    ``rp_topk`` projection width) against ``cosine_topk`` ground truth.
    Queries the ANN tier missed entirely still appear (n_hit 0) via the
    left join from the exact side, so macro-averaging the ``recall``
    column is safe.

    Scale: both inputs are top-k lists — k rows per query, never
    corpus-sized — so the (query, neighbor) equi-join and the per-query
    count aggregate shuffle at most k rows per query per side. No
    reference counterpart (the reference has no vector surface); this is
    LLM-pipeline tooling per the build brief."""
    ex = exact_topk.select(
        F.col(query_col).alias("_q"), F.col(neighbor_col).alias("_n")
    )
    got = ann_topk.select(
        F.col(query_col).alias("_q"), F.col(neighbor_col).alias("_n")
    ).withColumn("_hit", F.lit(1))
    joined = ex.join(got, ["_q", "_n"], "left")
    return (
        joined.groupBy("_q")
        .agg(
            F.count("*").alias("n_exact"),
            F.sum(F.coalesce(F.col("_hit"), F.lit(0))).alias("n_hit"),
        )
        .select(
            F.col("_q").alias(query_col),
            F.col("n_exact").cast("long"),
            F.col("n_hit").cast("long"),
            (F.col("n_hit") / F.col("n_exact")).alias("recall"),
        )
    )


def plane_signs(plane: int, dims: int, table: int = 0) -> list[int]:
    """Deterministic ±1 hyperplane normal, computed on the driver.

    Derived from md5 so any engine (or a SQL oracle) can reproduce it;
    materialized as literals so executors do zero hashing per row.
    ``table`` selects an independent hash family for multi-table LSH
    (table 0 reproduces the original single-table family bit-for-bit).
    """
    out = []
    for i in range(dims):
        h = int(
            hashlib.md5(f"{1000 + table * 100003 + plane}:{i}".encode()).hexdigest()[:15],
            16,
        )
        out.append(1 if (h & 1) else -1)
    return out


def auto_planes(
    n_rows: int, target_bucket: int = 256, min_planes: int = 4, max_planes: int = 24
) -> int:
    """Planes sized so the EXPECTED bucket holds ~``target_bucket`` vectors.

    Within-bucket self-join cost is Σ bucket² ≈ n²/2^planes — constant
    planes is a scale-killer, so planes must grow with log2(n). With
    planes = log2(n / target_bucket) the expected per-bucket cost is
    n·target_bucket, i.e. LINEAR in the corpus. Recall per table drops as
    planes grow; compensate with ``tables`` (independent hash families —
    a pair is a candidate if it collides in ANY table).
    """
    if n_rows <= target_bucket:
        return min_planes
    return max(min_planes, min(max_planes, math.ceil(math.log2(n_rows / target_bucket))))


def dot(a: Column, b: Column) -> Column:
    """Dot product of two array<float|double> columns, summed in index order."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double"))
    )


def _bt(name: str) -> str:
    """Backtick-quote a column name for interpolation into the SQL text of
    ``spark.sql(text, args, **frames)``, whose ``{frame}`` formatter also
    needs literal braces doubled."""
    quoted = "`" + name.replace("`", "``") + "`"
    return quoted.replace("{", "{{").replace("}", "}}")


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (_norm(a) * _norm(b))


def partition_topk(
    scored: DataFrame,
    k: int,
    group_col: str,
    order_col: str,
    tie_col: str,
    ascending: bool,
) -> DataFrame:
    """Map-side per-partition top-k reducer for per-group ranking.

    A rank window over (group) shuffles EVERY scored candidate — at a 100 TB
    corpus that is n_corpus × n_queries rows through one exchange. The
    global top-k per group equals the top-k of the per-partition top-ks, so
    this Arrow-batched map-only pass cuts the window's input to ≤ k ×
    n_partitions rows per group first. Ties break on ``tie_col`` ascending,
    matching every caller's window ordering, so results are identical.

    The fold is INCREMENTAL per Arrow batch — each batch merges with the
    running per-group head(k) — so task memory is O(groups · k + one
    batch), never the whole scored partition: the huge-partition regime
    (billions of scored rows per task) is exactly what this reducer exists
    for, and materializing it in pandas first would OOM the executor."""
    # mapInPandas rejects a backtick in an output column name, so the
    # reducer runs over positional names
    names = scored.columns
    pos = scored.toDF(*[f"_{i}" for i in range(len(names))])
    group_col, order_col, tie_col = (
        f"_{names.index(c)}" for c in (group_col, order_col, tie_col)
    )

    def reduce_part(batches):
        import pandas as _pd

        run = None
        for pdf in batches:
            merged = (
                pdf if run is None else _pd.concat([run, pdf], ignore_index=True)
            )
            merged = merged.sort_values(
                [order_col, tie_col], ascending=[ascending, True]
            )
            run = merged.groupby(group_col, sort=False).head(k)
        if run is not None:
            yield run

    return pos.mapInPandas(reduce_part, pos.schema).toDF(*names)


def random_projection(
    df: DataFrame,
    out_dim: int = 16,
    in_dim: int = 64,
    seed: int = 1,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Johnson-Lindenstrauss dimensionality reduction with a Rademacher
    (±1) matrix: ``proj_j = (Σ_i R[j,i]·v_i) / √out_dim``, rounded 6 dp.

    JL: pairwise distances (hence cosines, for normalized data) are
    preserved within (1±ε) w.h.p. for out_dim = O(log n / ε²) — the
    standard preprocessing that makes every downstream ANN tier (IVF, PQ,
    brute-force) 4× cheaper at 64→16 dims before any index is built. A ±1
    matrix (Achlioptas 2003) loses nothing over Gaussian and keeps the
    arithmetic replayable: rows come from :func:`plane_signs` (independent
    family per ``seed``). Map-only, no shuffle; at corpus scale this is a
    projection pushed into the scan stage.

    Assignment paths, the IVF family's convention: literal sign arrays +
    index-order folds when ``out_dim × in_dim <= IVF_LITERAL_LIMIT`` (a
    SQL oracle reproduces every bit), else an Arrow-batched numpy matmul
    with the matrix in the UDF closure. The matmul sums in a
    different order than the fold (last-ulp differences absorbed by the
    6 dp round — the `_numpy_assigners` precedent); NULL/ragged vectors
    yield NULL in both paths.

    Returns (id_col, proj array<double> of out_dim).
    """
    import math

    inv = 1.0 / math.sqrt(out_dim)
    rows = [
        plane_signs(plane=j, dims=in_dim, table=700 + seed)
        for j in range(out_dim)
    ]
    if out_dim * in_dim > IVF_LITERAL_LIMIT:
        import numpy as np
        import pandas as pd
        from pyspark.sql.functions import pandas_udf

        from exon_duckdb_spark.operators.pq import _stack_valid

        R = np.array(rows, dtype=np.float64)  # out_dim × in_dim

        @pandas_udf("array<double>")
        def proj_udf(vecs):
            ok, M = _stack_valid(vecs, R.shape[1])
            P = np.round(M @ R.T * inv, 6)
            return pd.Series([p if k else None for k, p in zip(ok, P)])

        return df.select(F.col(id_col), proj_udf(F.col(vec_col)).alias("proj"))
    proj = F.array(
        *[
            F.round(
                dot(F.col(vec_col), F.array(*[F.lit(float(s)) for s in r]))
                * F.lit(inv),
                6,
            )
            for r in rows
        ]
    )
    return df.select(F.col(id_col), proj.alias("proj"))


def rp_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    out_dim: int = 16,
    in_dim: int = 64,
    seed: int = 1,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Brute-force cosine top-k in the PROJECTED space: both sides pass
    through the same :func:`random_projection`, then :func:`cosine_topk`'s
    broadcast + map-side-top-k shape ranks 16-dim vectors instead of
    64-dim — the candidate-generation tier when even SQ8 is too wide.
    Scores are projected-space cosines (JL-approximate by design); compose
    with an exact re-rank over the shortlist (pq_search_rerank's stage-2
    shape) when score fidelity matters.
    Returns (query_id, neighbor_id, cosine_sim, rank), self excluded.
    """
    pc = random_projection(corpus, out_dim, in_dim, seed, vec_col, id_col)
    pq = random_projection(queries, out_dim, in_dim, seed, vec_col, id_col)
    return cosine_topk(pc, pq, k=k, vec_col="proj", id_col=id_col)


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact brute-force top-k neighbors for each query vector.

    Broadcast the query set (dimension-table sized) against the corpus so
    the corpus never shuffles; a map-side :func:`partition_topk` pass
    reduces each partition to k rows per query before the rank window, so
    the only shuffle carries ≤ k × n_partitions rows per query instead of
    the whole scored corpus.
    Returns (query_id, neighbor_id, cosine_sim, rank), self-matches excluded.
    """
    # Norms are computed once per vector BEFORE the join — inside the join
    # each vector's norm would be re-aggregated once per candidate pair
    # (measured ~3× slowdown; higher-order aggregates run interpreted).
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("query_vec"),
        _norm(F.col(vec_col)).alias("qn"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("nvec"),
        _norm(F.col(vec_col)).alias("nn"),
    )
    sim = dot(F.col("query_vec"), F.col("nvec")) / (F.col("qn") * F.col("nn"))
    scored = (
        c.crossJoin(F.broadcast(q))
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(sim, 6).alias("cosine_sim"),
        )
    )
    scored = partition_topk(
        scored, k, "query_id", "cosine_sim", "neighbor_id", ascending=False
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def bm25_topk(
    df: DataFrame,
    query_terms: list[str],
    k: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Lexical top-k retrieval: BM25 (Robertson/Spärck Jones) over the corpus
    for one query — the keyword-search complement to the embedding paths.

    Scale design — NO inverted-index explode and NO corpus shuffle:

    - Per-doc term frequencies of the QUERY terms only (queries are a handful
      of terms) are higher-order array expressions — map-only, codegen.
    - Corpus statistics (N, avgdl, per-term document frequency) reduce to a
      single row via partial aggregation, then broadcast back with a
      crossJoin — the corpus itself never moves.
    - The final top-k is ``orderBy(...).limit(k)``, which Spark physically
      plans as TakeOrderedAndProject: per-partition heaps of size k, only
      k rows per partition reach the driver-side merge.

    Scores are rounded to 6 dp BEFORE ranking (ties break on id) so results
    are reproducible across engines and partitionings.
    """
    if not query_terms:
        raise ValueError("bm25_topk requires at least one query term")
    from exon_duckdb_spark.operators.text import tokens

    toksed = df.select(
        F.col(id_col), tokens(text_col).alias("_toks")
    ).select(F.col(id_col), F.col("_toks"), F.size("_toks").alias("_dl"))

    aggs = [F.count("*").alias("_n"), F.avg("_dl").alias("_avgdl")]
    for i, t in enumerate(query_terms):
        aggs.append(
            F.sum(F.array_contains("_toks", t).cast("int")).alias(f"_df_{i}")
        )
    stats = toksed.agg(*aggs)

    def _term_eq(term: str):
        # NOT a default-arg lambda: F.filter treats 2-arg lambdas as
        # (element, index), so `lambda w, t=t:` would bind t to the INDEX.
        return lambda w: w == F.lit(term)

    scored = toksed.crossJoin(F.broadcast(stats))
    score: Column = F.lit(0.0)
    for i, t in enumerate(query_terms):
        tf = F.size(F.filter(F.col("_toks"), _term_eq(t)))
        idf = F.log(
            1.0 + (F.col("_n") - F.col(f"_df_{i}") + 0.5) / (F.col(f"_df_{i}") + 0.5)
        )
        norm_len = 1.0 - b + b * F.col("_dl") / F.col("_avgdl")
        score = score + idf * (tf * (k1 + 1.0)) / (tf + k1 * norm_len)
    return (
        scored.select(F.col(id_col), F.round(score, 6).alias("bm25"))
        .where(F.col("bm25") > 0.0)
        .orderBy(F.col("bm25").desc(), F.col(id_col).asc())
        .limit(k)
    )


def bm25_topk_multi(
    df: DataFrame,
    queries: DataFrame,
    k: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 top-k for a whole batch of queries at once.

    ``queries`` is a DataFrame ``(query_id bigint, terms array<string>)``.
    Returns ``(query_id, doc_id, bm25, rank)`` with ``rank <= k`` per query.

    Scale design — ONE corpus pass regardless of query count (the
    single-query :func:`bm25_topk` builds one interpreted ``F.filter``
    term-frequency expression per literal term, which degrades linearly in
    query length and can't batch queries):

    - the query vocabulary is broadcast; corpus tokens explode and
      immediately semi-join against it, so the (doc, term, tf) table is
      proportional to query-term HITS, not corpus size;
    - document frequency per term is a tiny agg over that table;
    - (query_id, term) expansion and idf attach via broadcast joins —
      the corpus side never shuffles on anything wider than (doc, term);
    - per-term contributions are rounded to integer micro-units before the
      (query, doc) sum, so float summation ORDER cannot flip a hash (the
      groupBy sum is otherwise partition-order-dependent);
    - :func:`partition_topk` caps the rank window's input at k rows per
      partition per query.

    A term absent from a doc contributes 0 to BM25, so summing over present
    (doc, term) pairs only is exact; docs scoring 0 are excluded.

    ``text_col`` may already be ``array<string>`` (pre-tokenized) — the
    tokenizer is skipped, letting callers share one tokenization pass
    across operators (:func:`hybrid_topk`'s single-corpus-pass shape).
    """
    # The dataflow below is the Column-API shape this function shipped
    # with through r13, expressed as two parameterized spark.sql calls
    # around the partition_topk reducer (r14, guide §5 driver-side work:
    # the Column form cost ~700 Py4J round-trips of driver build time PER
    # CALL — ~0.5 s/pass on q84 — for an identical expression tree).
    # Float-parity rules of the translation: every derived constant
    # (k1+1, 1−b) is computed in PYTHON and bound as a typed parameter —
    # never re-derived in SQL text — and ln/round/avg map to the same
    # Catalyst nodes as F.log/F.round/F.avg, so scores are bit-identical
    # (proven exact-equal on the full sf0.1 corpus before the switch; the
    # q84/q64m gate shas pin it at every SF).
    spark = df.sparkSession
    qid = _bt(id_col)
    pretokenized = dict(df.dtypes).get(text_col, "").startswith("array")
    toks_sql = _bt(text_col) if pretokenized else f"split({_bt(text_col)}, ' ')"
    args = {
        "c1": k1 + 1.0, "k1": k1, "c2": 1.0 - b, "b": b,
        "m": 1e6, "half": 0.5, "one": 1.0, "zero": 0.0, "k": k,
    }
    scored = spark.sql(
        f"""
        WITH qterms AS (
          SELECT query_id, explode(array_distinct(terms)) AS term FROM {{queries}}
        ),
        toksed AS (
          SELECT {qid}, _toks, size(_toks) AS _dl
          FROM (SELECT {qid}, {toks_sql} AS _toks FROM {{df}})
        ),
        stats AS (SELECT count(*) AS _n, avg(_dl) AS _avgdl FROM toksed),
        tf AS (
          SELECT /*+ BROADCAST(vocab) */ {qid}, term, _dl, count(*) AS _tf
          FROM (SELECT {qid}, _dl, explode(_toks) AS term FROM toksed)
          JOIN (SELECT DISTINCT term FROM qterms) AS vocab USING (term)
          GROUP BY {qid}, term, _dl
        ),
        dfreq AS (SELECT term, count(*) AS _df FROM tf GROUP BY term)
        SELECT query_id, {qid}, SUM(_s_micro) / :m AS bm25 FROM (
          SELECT /*+ BROADCAST(qterms, dfreq, stats) */ query_id, {qid},
            CAST(round(ln(:one + (_n - _df + :half) / (_df + :half))
                 * (_tf * :c1) / (_tf + :k1 * (:c2 + :b * _dl / _avgdl))
                 * :m, 0) AS BIGINT) AS _s_micro
          FROM tf JOIN qterms USING (term) JOIN dfreq USING (term)
          CROSS JOIN stats
        ) GROUP BY query_id, {qid} HAVING bm25 > :zero
        """,
        args, df=df, queries=queries.select("query_id", "terms"),
    )
    capped = partition_topk(scored, k, "query_id", "bm25", id_col, ascending=False)
    return spark.sql(
        f"""
        SELECT query_id, {qid}, bm25, rank FROM (
          SELECT query_id, {qid}, bm25, CAST(row_number() OVER (
            PARTITION BY query_id ORDER BY bm25 DESC, {qid} ASC) AS INT) AS rank
          FROM {{capped}}
        ) WHERE rank <= :k
        """,
        args, capped=capped,
    )


def _numpy_codes_udf(planes: int, tables: int, dims: int):
    """Arrow-batched twin of ``hyperplane_bucket`` + ``_norm``: one pandas
    UDF returning struct<codes: array<int>, n: double> (one LSH code per
    table, plus the vector norm) per row.

    Bit-parity contract: Catalyst's ``F.aggregate`` folds LEFT-TO-RIGHT in
    double precision, and a different summation order (numpy matmul's
    pairwise/SIMD blocking) could flip the sign of a projection that lands
    within an ulp of zero — which would flip a bucket bit and desync the SQL
    oracle. So the fold here is an explicit per-dimension loop
    (``acc += M[:, i] * S[i]``): the identical IEEE op sequence as the HOF,
    vectorized ACROSS rows instead of along dims. Verified bit-identical on
    the full sf0.1 corpus (codes, norms, and round-6 pair cosines).

    Why it exists: the literal-tree form costs ~2 py4j round trips per
    (plane × dim) literal at plan-BUILD time and evaluates as an
    interpreted HOF per row; this path is one py4j call, O(1) plan size,
    and C-speed per batch. ``CODES_LITERAL_LIMIT`` picks between them.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    T = tables * planes
    S = np.empty((dims, T), dtype=np.float64)
    for t in range(tables):
        for p in range(planes):
            S[:, t * planes + p] = plane_signs(p, dims, t)

    @pandas_udf("struct<codes: array<int>, n: double>")
    def codes_and_norm(vecs):
        n_rows = len(vecs)
        lens = np.fromiter(
            (0 if v is None else len(v) for v in vecs), dtype=np.int64, count=n_rows
        )
        width = int(lens.max()) if n_rows else 0
        M = np.zeros((n_rows, width), dtype=np.float64)
        for r, v in enumerate(vecs):
            if v is not None and len(v):
                M[r, : len(v)] = np.asarray(v, dtype=np.float64)
        acc = np.zeros((n_rows, T), dtype=np.float64)
        nacc = np.zeros(n_rows, dtype=np.float64)
        for i in range(width):
            col = M[:, i]
            if i < dims:
                acc += col[:, None] * S[i][None, :]
            nacc += col * col
        codes = np.zeros((n_rows, tables), dtype=np.int32)
        for t in range(tables):
            for p in range(planes):
                codes[:, t] += (acc[:, t * planes + p] >= 0).astype(np.int32) << p
        # a NULL vector's projection is NULL, so every when(proj >= 0) bit
        # falls to otherwise(0) in the HOF form → code 0 (an EMPTY array
        # folds to 0.0 → every bit set; the zero-filled row reproduces that)
        null_mask = np.fromiter(
            (v is None for v in vecs), dtype=bool, count=n_rows
        )
        codes[null_mask] = 0
        norms = np.sqrt(nacc)
        return pd.DataFrame(
            {
                "codes": list(codes),
                "n": [None if v is None else s for v, s in zip(vecs, norms)],
            }
        )

    return codes_and_norm


def _fold_dot_udf():
    """Arrow-batched pair dot product with the HOF's exact left-to-right
    float64 fold (see ``_numpy_codes_udf`` for why summation order is part
    of the cross-engine contract). Used on candidate PAIRS after a bucket
    or cluster join, where the interpreted ``F.aggregate`` fold is the
    dominant per-pair cost."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def pair_dot(va, vb):
        n_rows = len(va)
        # zip_with null-pads the shorter array, so the HOF fold yields NULL
        # for any unequal-length (or null) pair — replicate exactly.
        ok = np.fromiter(
            (
                a is not None and b is not None and len(a) == len(b)
                for a, b in zip(va, vb)
            ),
            dtype=bool,
            count=n_rows,
        )
        lens = np.fromiter(
            (len(a) if k else 0 for k, a in zip(ok, va)), dtype=np.int64, count=n_rows
        )
        width = int(lens.max()) if n_rows else 0
        A = np.zeros((n_rows, width), dtype=np.float64)
        B = np.zeros((n_rows, width), dtype=np.float64)
        for r, (k, a, b) in enumerate(zip(ok, va, vb)):
            if k and len(a):
                A[r, : len(a)] = np.asarray(a, dtype=np.float64)
                B[r, : len(b)] = np.asarray(b, dtype=np.float64)
        acc = np.zeros(n_rows, dtype=np.float64)
        for i in range(width):
            acc += A[:, i] * B[:, i]
        return pd.Series([float(v) if k else None for k, v in zip(ok, acc)])

    return pair_dot


def hybrid_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    fetch_k: int | None = None,
    rrf_k: int = 60,
    text_col: str = "text",
    vec_col: str = "embedding",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
    cache_corpus: bool = False,
) -> DataFrame:
    """Hybrid lexical + dense retrieval fused with Reciprocal Rank Fusion
    (Cormack, Clarke & Buettcher 2009): the standard RAG retrieval stack.

    Single corpus pass: the corpus is projected ONCE to
    ``(id, tokens(text), vec, norm)`` — the union of what the two branches
    consume — and both branches derive from that projection (BM25 skips
    re-tokenizing via :func:`bm25_topk_multi`'s pre-tokenized input). With
    ``cache_corpus`` the projection is persisted, so a computed-join
    corpus materializes once, the raw ``text`` bytes are DROPPED from the
    cache (only the token arrays survive — strictly smaller than caching
    the corpus itself), and the bounded fused result is eagerly
    checkpointed so the cache can be released before returning — repeated
    calls accumulate nothing. Without ``cache_corpus`` the plan stays
    fully lazy (two scans of the same narrow projection); pick that when
    the corpus is a plain columnar table scan, where each branch reads
    only its own columns anyway.

    ``corpus`` carries BOTH ``text_col`` and ``vec_col``; ``queries`` is
    ``(query_id, terms array<string>, query_vec array<float>)``. Each
    branch retrieves its top ``fetch_k`` (default 4k) candidates — BM25 via
    :func:`bm25_topk_multi` (one corpus pass for all queries), dense via
    broadcast exact cosine with the map-side :func:`partition_topk`
    reducer — then RRF scores ``Σ 1/(rrf_k + rank)`` over the union.
    Candidates missing from a branch contribute 0 for it (the standard
    convention). Unlike :func:`cosine_topk` there is NO self-exclusion:
    query ids live in their own namespace, not the document id space.

    Scale: both branches are their operators' scale shapes; the fusion
    full-outer join touches ≤ 2 × fetch_k rows per query (driver-window
    sized), so fusion cost is independent of corpus size. The two-term RRF
    sum has a fixed evaluation order, so a SQL oracle reproduces scores
    bit-for-bit.

    Measured (sf0.1, local[32], 2000-row embedded corpus): fresh-build
    steady state ~1.8 s, of which the standalone branches account for
    ~1.0 s (lex 0.90, dense scan 0.10) — the rest is the fixed cost of
    ~15 AQE-coalesced stages, NOT data volume (sf1 runs 1.46× at 10×
    data). The single-pass restructure buys little at this size because
    columnar scans of disjoint columns were already near-free; its value
    is (a) a computed-join corpus materializes once, (b) the cache holds
    only (id, tokens, vec, norm) — text bytes dropped — and (c) the cache
    is released before returning. Shrinking the remaining wall would mean
    collapsing per-query rank windows or shuffle stages that are exactly
    the shapes that keep the operator linear at 100 TB, so it stays.

    Returns (query_id, ``id_col``, rrf, lex_rank, dense_rank, rank ≤ k).
    """
    from exon_duckdb_spark.operators.text import tokens

    fetch = fetch_k or 4 * k
    # the one corpus projection both branches consume
    base = corpus.select(
        F.col(id_col),
        tokens(text_col).alias("_toks"),
        F.col(vec_col).alias("nvec"),
        _norm(F.col(vec_col)).alias("nn"),
    )
    if cache_corpus:
        from pyspark import StorageLevel

        base = base.persist(StorageLevel.MEMORY_AND_DISK)
    # lexical branch: BM25 top-``fetch`` per query off the pre-tokenized base
    lex = bm25_topk_multi(
        base,
        queries.select("query_id", "terms"),
        k=fetch,
        text_col="_toks",
        id_col=id_col,
        k1=k1,
        b=b,
    ).select("query_id", F.col(id_col), F.col("rank").alias("lex_rank"))
    # dense branch: broadcast exact cosine with the map-side partition_topk
    # reducer. SQL text like bm25_topk_multi: one driver round trip per
    # call; the zip_with/aggregate fold is the same left-to-right double
    # fold as dot/_norm
    spark = base.sparkSession
    qid = _bt(id_col)
    scored = spark.sql(
        f"""
        SELECT /*+ BROADCAST(q) */ query_id, {qid},
          round(aggregate(zip_with(query_vec, nvec,
                  (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),
                :zero, (acc, v) -> acc + v) / (qn * nn), 6) AS cosine_sim
        FROM (SELECT {qid}, nvec, nn FROM {{base}})
        CROSS JOIN (
          SELECT query_id, query_vec,
            sqrt(aggregate(query_vec, :zero,
                 (acc, v) -> acc + CAST(v AS DOUBLE) * CAST(v AS DOUBLE))) AS qn
          FROM {{queries}}
        ) AS q
        """,
        {"zero": 0.0}, base=base, queries=queries,
    )
    scored = partition_topk(
        scored, fetch, "query_id", "cosine_sim", id_col, ascending=False
    )
    dense = spark.sql(
        f"""
        SELECT query_id, {qid}, dense_rank FROM (
          SELECT query_id, {qid}, row_number() OVER (
            PARTITION BY query_id ORDER BY cosine_sim DESC, {qid} ASC) AS dense_rank
          FROM {{scored}}
        ) WHERE dense_rank <= :fetch
        """,
        {"fetch": fetch}, scored=scored,
    )
    # fusion: RRF over the union of the two shortlists (both ≤ fetch rows
    # per query), final top-``k`` per query
    out = spark.sql(
        f"""
        SELECT query_id, {qid}, rrf, lex_rank, dense_rank, rank FROM (
          SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY rrf DESC, {qid} ASC) AS rank
          FROM (
            SELECT query_id, {qid},
              round(coalesce(:one / (:rrfk + lex_rank), :zero)
                  + coalesce(:one / (:rrfk + dense_rank), :zero), 6) AS rrf,
              lex_rank, dense_rank
            FROM {{lex}} FULL OUTER JOIN {{dense}} USING (query_id, {qid})
          )
        ) WHERE rank <= :k
        """,
        {"one": 1.0, "zero": 0.0, "rrfk": rrf_k, "k": k}, lex=lex, dense=dense,
    )
    if cache_corpus:
        # the result is <= k rows per query — eagerly materialize it so the
        # projection cache can be dropped NOW instead of leaking for the
        # session lifetime (repeated bench calls used to stack persists).
        # _materialize picks a RELIABLE checkpoint when a checkpoint dir is
        # configured: localCheckpoint blocks die with their executor.
        from exon_duckdb_spark.operators.dedup import _materialize

        out = _materialize(out)
        base.unpersist()
    return out


def mmr_rerank(
    candidates: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    lam: float = 0.7,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_col: str = "query_id",
    cand_col: str = "neighbor_id",
    sim_col: str = "cosine_sim",
) -> DataFrame:
    """Maximal Marginal Relevance diversification (Carbonell & Goldstein
    1998) over a retrieval shortlist — the standard RAG post-retrieval
    stage that trades pure relevance for coverage: greedily select

        argmax_i  λ·rel_i − (1−λ)·max_{j ∈ selected} sim(i, j)

    k times, so near-duplicate passages stop crowding the context window.
    Step 1 picks pure relevance; every score and pairwise cosine is
    rounded to 6 dp (SQL half-away-from-zero emulated in numpy) BEFORE the
    argmax, with ties toward the smaller candidate id, so a SQL oracle
    replays the greedy trajectory decision-for-decision.

    Scale shape: ``candidates`` is (query, candidate, rel) — already
    shortlist-sized (≤ fetch_k per query, from :func:`cosine_topk` /
    :func:`pq_search_rerank` / :func:`hybrid_topk`). Candidate vectors
    join in by id (probe side shortlist-sized), then ONE
    ``applyInPandas`` group per query runs the O(k·fetch_k) greedy in
    numpy — the quadratic pairwise-similarity term is fetch_k², bounded
    per query, never corpus-sized. The corpus itself is only read for
    shortlist rows.

    Returns (query_id, neighbor_id, mmr_score, rank ≤ k).
    """
    import numpy as np
    from pyspark.sql.types import (
        DoubleType,
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    lam = float(lam)
    qt = candidates.schema[query_col].dataType
    nt = candidates.schema[cand_col].dataType
    out_type = StructType(
        [
            StructField("query_id", qt),
            StructField("neighbor_id", nt),
            StructField("mmr_score", DoubleType()),
            StructField("rank", IntegerType()),
        ]
    )

    def _r6(x):
        # SQL round(x, 6): half away from zero (np.round is half-even)
        return np.sign(x) * np.floor(np.abs(x) * 1e6 + 0.5) / 1e6

    def kern(pdf):
        import pandas as _pd

        n = len(pdf)
        ids = pdf["_nid"].to_numpy()
        # round the relevance input too: callers from this repo pass
        # already-6dp cosines (no-op), but an unrounded source would
        # otherwise tie-break step 1 on full precision a SQL replay
        # can't see, and emit rank 1's score unrounded
        rel = _r6(pdf["_rel"].to_numpy(dtype=np.float64))
        V = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["_vec"]])
        norms = np.maximum(np.linalg.norm(V, axis=1, keepdims=True), 1e-300)
        S = _r6((V @ V.T) / (norms * norms.T))
        chosen: list[int] = []
        out_id, out_sc = [], []
        avail = np.ones(n, dtype=bool)
        for _ in range(min(k, n)):
            if chosen:
                pen = S[:, chosen].max(axis=1)
                sc = _r6(lam * rel - (1.0 - lam) * pen)
            else:
                sc = rel
            masked = np.where(avail, sc, -np.inf)
            best = masked.max()
            tied = np.where(masked == best)[0]
            pick = tied[np.argmin(ids[tied])]
            chosen.append(pick)
            avail[pick] = False
            out_id.append(ids[pick])
            out_sc.append(float(sc[pick]))
        return _pd.DataFrame(
            {
                "query_id": [pdf["_qid"].iloc[0]] * len(out_id),
                "neighbor_id": out_id,
                "mmr_score": out_sc,
                "rank": np.arange(1, len(out_id) + 1, dtype=np.int32),
            }
        )

    cand = candidates.select(
        F.col(query_col).alias("_qid"),
        F.col(cand_col).alias("_nid"),
        F.col(sim_col).alias("_rel"),
    ).join(
        corpus.select(F.col(id_col).alias("_nid"), F.col(vec_col).alias("_vec")),
        "_nid",
    )
    return cand.groupBy("_qid").applyInPandas(kern, out_type)


def _numpy_assigners(cents: list[tuple[int, list[float], float]], nprobe: int):
    """(assign_cid, probe_cids) pandas UDFs with the centroid matrix in the
    closure. Matches the literal path's semantics: cosine rounded to 6dp,
    ties toward the smaller centroid id (argmax returns the first max),
    and NULL/ragged vectors yield NULL instead of crashing the task."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from exon_duckdb_spark.operators.pq import _stack_valid

    C = np.array([c[1] for c in cents], dtype=np.float64)  # nlist × dims
    cn = np.array([c[2] for c in cents], dtype=np.float64)

    def _sims(vecs: "pd.Series"):
        ok, M = _stack_valid(vecs, C.shape[1])
        norms = np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-300)
        return ok, np.round((M @ C.T) / (norms * cn[None, :]), 6)

    # NB: no parameter annotations — `from __future__ import annotations`
    # turns them into strings pandas_udf can't resolve for a local import
    @pandas_udf("int")
    def assign_cid(vecs):
        ok, s = _sims(vecs)
        cid = np.argmax(s, axis=1)
        return pd.Series(
            pd.array([int(c) if k else None for k, c in zip(ok, cid)], dtype="Int32")
        )

    @pandas_udf("array<int>")
    def probe_cids(vecs):
        ok, s = _sims(vecs)
        # sort by (sim desc, cid asc): stable argsort on -sim keeps cid order
        order = np.argsort(-s, axis=1, kind="stable")[:, :nprobe].astype("int32")
        return pd.Series([o if k else None for k, o in zip(ok, order)])

    return assign_cid, probe_cids


def hyperplane_bucket(vec: Column, planes: int = 8, dims: int = 64, table: int = 0) -> Column:
    """Deterministic random-hyperplane LSH code (int in [0, 2^planes)).

    Plane normals are ±1 vectors fixed by :func:`plane_signs`, computed on
    the driver and embedded as literal arrays — executors do one
    multiply-add pass per plane, zero hashing per row. Map-only; the bucket
    becomes an equi-join key downstream. ``table`` selects an independent
    family for multi-table LSH.

    Scaling: size ``planes`` with :func:`auto_planes` so bucket cardinality
    stays ~constant as the corpus grows — the within-bucket join cost is
    then linear in n instead of n²/2^planes with a fixed plane count.
    """

    def plane_proj(p: int) -> Column:
        signs = F.array(*[F.lit(float(s)) for s in plane_signs(p, dims, table)])
        # Index into the signs literal rather than zip_with so a vector
        # SHORTER than ``dims`` projects over its actual elements — zip_with
        # would pad with nulls and collapse every short vector into bucket 0
        # (correct results, but the bucket join degrades to a cross join).
        # Components beyond ``dims`` contribute 0. For length == dims this
        # is bit-identical to the original zip_with formulation.
        return F.aggregate(
            F.transform(
                vec,
                lambda x, i: x.cast("double") * F.coalesce(F.get(signs, i), F.lit(0.0)),
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )

    code = F.lit(0)
    for p in range(planes):
        code = code + F.when(plane_proj(p) >= 0, F.lit(1 << p)).otherwise(F.lit(0))
    return code


def ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    planes: int = 8,
    tables: int = 1,
    dims: int = 64,
) -> DataFrame:
    """Approximate top-k: exact cosine ranking within the query's LSH bucket.

    One equi-join on the (table, bucket) code instead of a cross join — the
    100 TB path. ``tables`` independent hyperplane families trade compute
    for recall: a neighbor is a candidate if it collides in ANY table
    (recall ≈ 1-(1-p^planes)^tables), and since the query side is broadcast
    the extra tables add map-side probes, not shuffles. A pair colliding in
    several tables is kept only at its EARLIEST colliding table — a map-side
    filter over the rows' bucket arrays — so each candidate is scored once
    and no post-scoring distinct/shuffle is needed at all.

    Bucket codes come from the documented ``hyperplane_bucket`` expression
    while ``tables × planes × dims <= CODES_LITERAL_LIMIT``, else from its
    Arrow-batched twin with the identical left-to-right fold (bit-equal
    codes and norms, O(1) plan size).
    Returns (query_id, neighbor_id, cosine_sim, rank).
    """
    use_numpy = tables * planes * dims > CODES_LITERAL_LIMIT
    codes_udf = _numpy_codes_udf(planes, tables, dims) if use_numpy else None

    def bucket_arr(vec: Column) -> Column:
        return F.array(
            *[hyperplane_bucket(vec, planes, dims=dims, table=t) for t in range(tables)]
        )

    def keyed(df: DataFrame, id_alias: str, vec_alias: str, n_alias: str) -> DataFrame:
        if use_numpy:
            return df.select(
                F.col(id_col).alias(id_alias),
                F.col(vec_col).alias(vec_alias),
                codes_udf(F.col(vec_col)).alias("_cn"),
            ).select(
                id_alias,
                vec_alias,
                F.col("_cn.codes").alias("_codes"),
                F.col("_cn.n").alias(n_alias),
            )
        return df.select(
            F.col(id_col).alias(id_alias),
            F.col(vec_col).alias(vec_alias),
            bucket_arr(F.col(vec_col)).alias("_codes"),
            _norm(F.col(vec_col)).alias(n_alias),
        )

    def exploded_codes() -> Column:
        return F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(tables - 1)),
                lambda t: F.struct(
                    t.alias("t"), F.get(F.col("_codes"), t).alias("b")
                ),
            )
        )

    q = (
        keyed(queries, "query_id", "query_vec", "qn")
        .withColumn("code", exploded_codes())
        .withColumnRenamed("_codes", "q_codes")
    )
    c = (
        keyed(corpus, "neighbor_id", "nvec", "nn")
        .withColumn("code", exploded_codes())
        .withColumnRenamed("_codes", "n_codes")
    )
    cand = c.join(F.broadcast(q), "code").where(
        F.col("neighbor_id") != F.col("query_id")
    )
    if tables > 1:
        # keep the pair only where no EARLIER table also collided
        collided_earlier = F.exists(
            F.zip_with(
                F.slice("q_codes", 1, F.col("code.t")),
                F.slice("n_codes", 1, F.col("code.t")),
                lambda a, b: a == b,
            ),
            lambda x: x,
        )
        cand = cand.where(~collided_earlier)
    pair_dot = _fold_dot_udf() if use_numpy else dot
    sim = pair_dot(F.col("query_vec"), F.col("nvec")) / (F.col("qn") * F.col("nn"))
    scored = cand.select("query_id", "neighbor_id", F.round(sim, 6).alias("cosine_sim"))
    scored = partition_topk(
        scored, k, "query_id", "cosine_sim", "neighbor_id", ascending=False
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def _seed_centroids(
    corpus: DataFrame, nlist: int, vec_col: str, id_col: str
) -> list[tuple[int, list[float], float]]:
    """Deterministic seed quantizer: the ``nlist`` smallest-id corpus
    vectors as (cid, vector, norm). A SQL oracle rebuilds it exactly."""
    rows = (
        corpus.select(F.col(id_col), F.col(vec_col))
        .orderBy(F.col(id_col).asc())
        .limit(nlist)
        .collect()
    )
    cents = []
    for i, r in enumerate(rows):
        vec = [float(v) for v in r[vec_col]]
        cents.append((i, vec, math.sqrt(sum(v * v for v in vec))))
    return cents


def kmeans_refine(
    corpus: DataFrame,
    nlist: int = 16,
    iters: int = 1,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> list[tuple[int, list[float], float]]:
    """Distributed Lloyd (k-means) refinement of the deterministic seed
    centroids — turns the IVF coarse quantizer from "first nlist vectors"
    into a trained one.

    Each iteration is one map-only nearest-centroid assignment over the
    corpus followed by a per-list elementwise mean computed as ``dims``
    ``avg`` aggregates — NO explode: partial aggregation means the shuffle
    carries nlist × dims numbers per task, regardless of corpus size. The
    nlist-row result is collected (index metadata, like any quantizer).

    Cross-engine contract: centroid dimensions round to 6 dp each
    iteration, so a SQL oracle reproduces the training trajectory exactly;
    a list that receives no vectors keeps its previous centroid.
    """
    cents = _seed_centroids(corpus, nlist, vec_col, id_col)
    if not cents:
        return cents
    dims = len(cents[0][1])
    for _ in range(iters):
        use_numpy = nlist * dims > IVF_LITERAL_LIMIT
        base = corpus.select(
            F.col(vec_col).alias("vec"), _norm(F.col(vec_col)).alias("norm")
        )
        if use_numpy:
            assign_cid, _ = _numpy_assigners(cents, 1)
            a = base.withColumn("cid", assign_cid(F.col("vec")))
        else:
            structs = F.array(*_centroid_sim_structs(cents, F.col("vec"), F.col("norm")))
            a = base.withColumn("cid", -F.array_max(structs).getField("nc"))
        # integer-space mean (numeric.stable_avg): float AVG is
        # partition-order sensitive at 1 ULP and flips the 6-dp round on
        # boundary centroids — divergent centroids cascade into divergent
        # assignments
        from exon_duckdb_spark.operators.numeric import stable_avg, stable_round

        aggs = [
            stable_round(stable_avg(F.col("vec")[i].cast("double"))).alias(f"d{i}")
            for i in range(dims)
        ]
        rows = a.groupBy("cid").agg(*aggs).collect()
        new = {r["cid"]: [float(r[f"d{i}"]) for i in range(dims)] for r in rows}
        cents = [
            (
                cid,
                new.get(cid, old),
                math.sqrt(sum(v * v for v in new.get(cid, old))),
            )
            for cid, old, _norm_old in cents
        ]
    return cents


def _centroid_sim_structs(
    cents: list[tuple[int, list[float], float]], vec: Column, vn: Column
) -> list[Column]:
    """(sim, -cid) structs per centroid: max = best sim, ties toward the
    smaller centroid id. Shared by the inline and persisted IVF paths."""
    out = []
    for cid, cvec, cnorm in cents:
        lit_arr = F.array(*[F.lit(v) for v in cvec])
        sim = F.round(dot(vec, lit_arr) / (vn * F.lit(cnorm)), 6)
        out.append(F.struct(sim.alias("s"), F.lit(-cid).alias("nc")))
    return out


def bitext_margin_pairs(
    emb: DataFrame,
    label_a: int = 0,
    label_b: int = 1,
    k: int = 4,
    label_col: str = "label",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    topk=None,
) -> DataFrame:
    """Margin-based bitext mining (Artetxe & Schwenk 2019, "Margin-based
    Parallel Corpus Mining with Multilingual Sentence Embeddings"): find
    cross-group pairs (x ∈ A, y ∈ B) whose cosine stands out from each
    side's local neighborhood —

        margin(x, y) = cos(x, y) / ((avgNN_k(x) + avgNN_k(y)) / 2)

    where avgNN_k is the mean cosine to the k nearest cross-side
    neighbors. Raw cosine over-selects hub vectors (high similarity to
    EVERYTHING); dividing by the local density is what made LASER-style
    mining work — the same ratio test, here as the parallel-data /
    cross-source alignment operator of the pipeline.

    Per x, the candidate maximizing margin among its k NN is the forward
    choice; ``mutual`` marks pairs where y's backward choice is x — the
    paper's "intersection" strategy, its highest-precision setting.

    Scale: two :func:`cosine_topk` passes (each side broadcast as the
    query set of the other). Brute force is quadratic in the side sizes —
    at corpus scale pass ``topk`` (any (corpus, queries, k, vec_col,
    id_col) ranker: :func:`rp_topk`, an IVF probe, a BQ-Hamming shortlist
    + exact rerank) and the margin+mutual tail runs unchanged over the
    shortlists; everything after the NN stage is candidate-sized: two
    k-row-per-id averages, id-keyed joins, two rank windows, one
    pair-keyed semi-join. All arithmetic rounds at 6 dp so a SQL oracle
    replays every decision.

    Returns (id_a, id_b, cosine_sim, margin, mutual).
    """
    nn = topk or cosine_topk
    A = emb.where(F.col(label_col) == label_a)
    B = emb.where(F.col(label_col) == label_b)
    nnA = nn(B, A, k=k, vec_col=vec_col, id_col=id_col)
    nnB = nn(A, B, k=k, vec_col=vec_col, id_col=id_col)
    # stable_avg, not AVG: a float AVG of the k rounded cosines is
    # partition-order sensitive at ~1 ULP, which flipped the 6-dp round
    # on a boundary value at sf0.1 (oracle divergence 1.010356 vs
    # 1.010358) — the integer-space mean is bit-identical cross-engine
    from exon_duckdb_spark.operators.numeric import stable_avg, stable_round

    avgA = nnA.groupBy("query_id").agg(
        stable_round(stable_avg(F.col("cosine_sim"))).alias("_avg_a")
    )
    avgB = nnB.groupBy("query_id").agg(
        stable_round(stable_avg(F.col("cosine_sim"))).alias("_avg_b")
    )

    def best(nn, my_avg, other_avg, my_key, other_key):
        cand = (
            nn.select(
                F.col("query_id").alias(my_key),
                F.col("neighbor_id").alias(other_key),
                "cosine_sim",
            )
            .join(my_avg.withColumnRenamed("query_id", my_key), my_key)
            .join(other_avg.withColumnRenamed("query_id", other_key), other_key)
        )
        from exon_duckdb_spark.operators.numeric import stable_round

        margin = stable_round(
            F.col("cosine_sim") / ((F.col("_avg_a") + F.col("_avg_b")) / 2)
        )
        cand = cand.withColumn("margin", margin)
        w = Window.partitionBy(my_key).orderBy(
            F.col("margin").desc(), F.col(other_key).asc()
        )
        return (
            cand.withColumn("_rk", F.row_number().over(w))
            .where(F.col("_rk") == 1)
            .drop("_rk", "_avg_a", "_avg_b")
        )

    fwd = best(nnA, avgA, avgB, "id_a", "id_b")
    bwd = best(nnB, avgB, avgA, "id_b", "id_a").select(
        F.col("id_a").alias("_ba"), F.col("id_b").alias("_bb")
    )
    out = fwd.join(
        bwd,
        (F.col("id_a") == F.col("_ba")) & (F.col("id_b") == F.col("_bb")),
        "left",
    )
    return out.select(
        "id_a",
        "id_b",
        "cosine_sim",
        "margin",
        F.col("_ba").isNotNull().alias("mutual"),
    )


def hard_negatives(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    nlist: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    cents: list | None = None,
) -> DataFrame:
    """Hard-negative mining for contrastive embedding training: per query,
    the top-k most-similar corpus vectors that sit in a DIFFERENT coarse
    cluster than the query.

    The contrastive recipe (SimCLR/DPR-style) wants negatives that are
    similar enough to be informative but not true positives; "nearest
    neighbors outside my own cluster" is the standard distributed proxy —
    same-cluster mates are likely positives/near-dups (exactly what
    SemDeDup removes), different-cluster near-misses are the gradient-rich
    negatives. The cluster assignment is the IVF family's deterministic
    quantizer (round-6 cosine, ties toward the smaller cid), so one
    quantizer serves retrieval, SemDeDup AND mining — and a SQL oracle
    replays the decisions bit-for-bit.

    Scale: assignment is map-only (broadcast literal centroids up to
    ``IVF_LITERAL_LIMIT``, Arrow numpy matmul past it); scoring is the
    :func:`cosine_topk` shape — broadcast queries, corpus never shuffles,
    map-side :func:`partition_topk` before the rank window.

    Returns (query_id, neighbor_id, cosine_sim, rank).
    """
    if cents is None:
        cents = _seed_centroids(corpus, nlist, vec_col, id_col)
    dims = len(cents[0][1]) if cents else 0
    use_numpy = len(cents) * dims > IVF_LITERAL_LIMIT
    if use_numpy:
        assign_cid, _ = _numpy_assigners(cents, 1)

    def assigned(df_, idname, vecname, normname):
        base = df_.select(
            F.col(id_col).alias(idname),
            F.col(vec_col).alias(vecname),
            _norm(F.col(vec_col)).alias(normname),
        )
        if use_numpy:
            cid = assign_cid(F.col(vecname))
        else:
            cid = (
                -F.array_max(
                    F.array(
                        *_centroid_sim_structs(
                            cents, F.col(vecname), F.col(normname)
                        )
                    )
                ).getField("nc")
            ).cast("int")
        return base.withColumn(f"_{idname}_cid", cid)

    c = assigned(corpus, "neighbor_id", "nvec", "nn")
    q = assigned(queries, "query_id", "query_vec", "qn")
    sim = dot(F.col("query_vec"), F.col("nvec")) / (F.col("qn") * F.col("nn"))
    scored = (
        c.crossJoin(F.broadcast(q))
        .where(
            (F.col("neighbor_id") != F.col("query_id"))
            & (F.col("_neighbor_id_cid") != F.col("_query_id_cid"))
        )
        .select("query_id", "neighbor_id", F.round(sim, 6).alias("cosine_sim"))
    )
    scored = partition_topk(
        scored, k, "query_id", "cosine_sim", "neighbor_id", ascending=False
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)).where(
        F.col("rank") <= k
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    nlist: int = 16,
    nprobe: int = 2,
) -> DataFrame:
    """IVF-flat approximate top-k: probe the ``nprobe`` nearest inverted lists.

    Coarse quantizer = the ``nlist`` corpus vectors with the smallest ids —
    a deterministic sample so a SQL oracle reproduces the index exactly
    (production would run a few Lloyd iterations on a sample; only the
    centroid values change, not the plan shape). Centroids are collected to
    the driver (nlist × dims floats — index metadata, same as any ANN
    library). List assignment is a map-only pass over the corpus — no
    shuffle, no join — via literal centroid arrays when nlist × dims <=
    ``IVF_LITERAL_LIMIT``, else via an Arrow-batched numpy matmul UDF.
    Nearness is cosine rounded to 6dp, ties broken toward the smaller
    centroid id.

    Each query probes its ``nprobe`` nearest lists; candidates come from one
    equi-join of the corpus against the broadcast (query × probe) table on
    the list id, exact cosine ranks within. At 100 TB the corpus-side cost
    is one map pass + one broadcast join — the partition-pruning analog of
    the reference's indexed region queries. ``nprobe == nlist`` degrades to
    exact brute force (recall 1.0).

    Returns (query_id, neighbor_id, cosine_sim, rank), self-matches excluded.
    """
    cents = _seed_centroids(corpus, nlist, vec_col, id_col)
    # clamp BEFORE the literal slice: F.slice(sorted, -nprobe, nprobe) on an
    # array shorter than nprobe resolves a negative start and silently
    # returns EMPTY probes (zero results, no error); the numpy argsort path
    # clamps naturally, so the two paths would otherwise disagree
    nprobe = min(nprobe, len(cents)) if cents else nprobe

    dims = len(cents[0][1]) if cents else 0
    # past the cutoff the centroid matrix ships in a numpy pandas_udf's
    # closure — same map-only shape, O(1) plan size
    use_numpy = nlist * dims > IVF_LITERAL_LIMIT

    if use_numpy:
        assign_cid, probe_cids = _numpy_assigners(cents, nprobe)
        c = corpus.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("nvec"),
            _norm(F.col(vec_col)).alias("nn"),
            assign_cid(F.col(vec_col)).alias("cid"),
        )
        q = (
            queries.select(
                F.col(id_col).alias("query_id"),
                F.col(vec_col).alias("query_vec"),
                _norm(F.col(vec_col)).alias("qn"),
                probe_cids(F.col(vec_col)).alias("_probes"),
            )
            .withColumn("cid", F.explode("_probes"))
            .drop("_probes")
        )
    else:
        def centroid_sims(vec: Column, vn: Column) -> list[Column]:
            return _centroid_sim_structs(cents, vec, vn)

        c = corpus.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("nvec"),
            _norm(F.col(vec_col)).alias("nn"),
        ).withColumn("cid", -F.array_max(F.array(*centroid_sims(F.col("nvec"), F.col("nn")))).getField("nc"))

        probes = F.slice(F.array_sort(F.array(*centroid_sims(F.col("query_vec"), F.col("qn")))), -nprobe, nprobe)
        q = (
            queries.select(
                F.col(id_col).alias("query_id"),
                F.col(vec_col).alias("query_vec"),
                _norm(F.col(vec_col)).alias("qn"),
            )
            .withColumn("probe", F.explode(probes))
            .withColumn("cid", -F.col("probe").getField("nc"))
            .drop("probe")
        )

    sim = dot(F.col("query_vec"), F.col("nvec")) / (F.col("qn") * F.col("nn"))
    scored = (
        c.join(F.broadcast(q), "cid")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", F.round(sim, 6).alias("cosine_sim"))
    )
    scored = partition_topk(
        scored, k, "query_id", "cosine_sim", "neighbor_id", ascending=False
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def ivf_build(
    corpus: DataFrame,
    path: str,
    nlist: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    refine_iters: int = 0,
) -> None:
    """Build and PERSIST an IVF-flat index: the build-once/probe-many
    lifecycle every production vector index has (:func:`ivf_topk` re-assigns
    per call).

    Layout on disk:

    - ``<path>/centroids`` — the coarse quantizer (nlist rows).
    - ``<path>/lists`` — the corpus with its list assignment, written
      ``partitionBy("cid")``: each inverted list is a parquet DIRECTORY, so
      a search that probes 2 of 64 lists reads 1/32 of the index bytes via
      Spark partition pruning — the vector-index analog of the reference's
      BAI/tabix region queries (rust/src/bam_query_reader.rs:63).

    Assignment is the same map-only pass as :func:`ivf_topk` (literal
    centroid arrays, or an Arrow-batched numpy matmul past
    ``IVF_LITERAL_LIMIT``); the only shuffle is the partitioned write's file
    fan-out. Centroids are the ``nlist`` smallest-id corpus vectors —
    deterministic, so a SQL oracle can rebuild the index arithmetically —
    optionally Lloyd-trained with ``refine_iters`` rounds of
    :func:`kmeans_refine` (still oracle-reproducible).
    """
    spark = corpus.sparkSession
    if refine_iters > 0:
        cents = kmeans_refine(corpus, nlist, refine_iters, vec_col, id_col)
    else:
        cents = _seed_centroids(corpus, nlist, vec_col, id_col)
    dims = len(cents[0][1]) if cents else 0

    use_numpy = nlist * dims > IVF_LITERAL_LIMIT
    base = corpus.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("vec"),
        _norm(F.col(vec_col)).alias("norm"),
    )
    if use_numpy:
        assign_cid, _ = _numpy_assigners(cents, nprobe=1)
        assigned = base.withColumn("cid", assign_cid(F.col("vec")))
    else:
        structs = F.array(*_centroid_sim_structs(cents, F.col("vec"), F.col("norm")))
        assigned = base.withColumn("cid", -F.array_max(structs).getField("nc"))

    # Repartition on the partition column first: one file per inverted list
    # instead of (write-tasks × nlist) small files — the small-file problem
    # is the classic partitioned-write failure at scale. For huge lists,
    # repartition(N, "cid") bounds file size instead.
    assigned.repartition("cid").write.mode("overwrite").partitionBy("cid").parquet(
        path + "/lists"
    )
    spark.createDataFrame(
        [(cid, cvec, cnorm) for cid, cvec, cnorm in cents],
        "cid INT, cvec ARRAY<DOUBLE>, cnorm DOUBLE",
    ).write.mode("overwrite").parquet(path + "/centroids")


def ivf_search(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Search a persisted :func:`ivf_build` index.

    Probe selection runs on the broadcast-sized centroid table; the union of
    probed list ids becomes an ``isin`` filter on the PARTITION column, so
    Spark's partition pruning skips every unprobed list directory at plan
    time — only probed bytes are read. Candidates come from one equi-join of
    the pruned lists against the broadcast (query × probe) table; exact
    cosine ranks within. Self-matches excluded.
    """
    cent_rows = spark.read.parquet(path + "/centroids").orderBy("cid").collect()
    cents = [(r["cid"], [float(v) for v in r["cvec"]], float(r["cnorm"])) for r in cent_rows]
    # same silent-empty-slice guard as ivf_topk: an index with fewer lists
    # than nprobe must probe them all, not none
    nprobe = min(nprobe, len(cents)) if cents else nprobe

    probes = F.slice(
        F.array_sort(F.array(*_centroid_sim_structs(cents, F.col("query_vec"), F.col("qn")))),
        -nprobe,
        nprobe,
    )
    q = (
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("query_vec"),
            _norm(F.col(vec_col)).alias("qn"),
        )
        .withColumn("probe", F.explode(probes))
        .withColumn("cid", -F.col("probe").getField("nc"))
        .drop("probe")
    )
    # The probed-list id set is tiny (≤ queries × nprobe ≤ nlist) — collect
    # it to drive partition pruning on the cid directory column.
    probe_set = sorted({r["cid"] for r in q.select("cid").distinct().collect()})
    lists = (
        spark.read.parquet(path + "/lists")
        .where(F.col("cid").isin(probe_set))
        .select(
            F.col("cid"),
            F.col("vec_id").alias("neighbor_id"),
            F.col("vec").alias("nvec"),
            F.col("norm").alias("nn"),
        )
    )
    sim = dot(F.col("query_vec"), F.col("nvec")) / (F.col("qn") * F.col("nn"))
    scored = (
        lists.join(F.broadcast(q), "cid")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", F.round(sim, 6).alias("cosine_sim"))
    )
    scored = partition_topk(
        scored, k, "query_id", "cosine_sim", "neighbor_id", ascending=False
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)
