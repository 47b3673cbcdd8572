"""Product quantization (PQ) for embedding columns — the memory-side scale
path for ANN at 100 TB.

A 64-dim float32 embedding is 256 bytes; its PQ code with ``m=8`` subspaces
is 8 small ints (≈8 bytes packed). At a hundred billion vectors that is the
difference between "the index fits on the cluster" and "it does not":
candidate scans read codes, not vectors, and distances come from per-query
lookup tables (asymmetric distance computation, ADC) instead of per-pair
float math over the full dimension.

Spark-first design:

- :func:`pq_codebooks` — deterministic seed codebooks (the ``ksub``
  smallest-id vectors' subvectors, like :mod:`similarity`'s IVF seed
  quantizer) optionally refined with distributed Lloyd rounds: each round
  is ONE map-only nearest-sub-centroid assignment plus per-(subspace, code)
  elementwise-mean aggregates — the shuffle carries m·ksub·dsub numbers per
  task regardless of corpus size. Centroid values round to 6 dp per round so
  a SQL oracle reproduces training exactly.
- :func:`pq_encode` — map-only: per subspace, squared-L2 to each
  sub-centroid (literal arrays, zero per-row hashing) and argmin with ties
  toward the smaller code. No shuffle; the corpus never moves.
- :func:`pq_search` — ADC top-k: the per-query lookup table (m × ksub
  rounded squared distances) is computed ON THE BROADCAST QUERY SIDE, the
  corpus side contributes only its code array, and the distance is an
  m-term table-lookup sum. Ranking shuffles (query_id)-keyed candidate rows
  only.

Reference parity note: the reference engine has no vector index at all —
this (with similarity.py's IVF) is part of the training-data-pipeline
surface the Spark engine adds on top (SURVEY.md "beyond the reference").
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "pq_codebooks",
    "pq_encode",
    "pq_search",
    "pq_search_rerank",
    "ivfpq_build",
    "ivfpq_search",
    "sq8_encode",
    "sq8_search",
    "bq_encode",
    "bq_search",
]

# Cutoff, in m × ksub × dsub, between the literal Column evaluator (exact
# SQL summation order) and the Arrow-batched numpy one that pq_encode and
# pq_search's lookup table use. Read at call time. At m=4, ksub=8 the
# literal LUT measured ~1.5 s of driver plan build per pq_search call
# against 0.6 s of execution, and the numpy encoder ran ~10× faster on
# 64-dim vectors.
PQ_LITERAL_LIMIT = 256


def _sub_l2(sub_vec: Column, centroid: list[float]) -> Column:
    """Rounded squared L2 distance between a subvector column and a literal
    sub-centroid, summed in index order (cross-engine deterministic)."""
    lit = F.array(*[F.lit(float(c)) for c in centroid])
    return F.round(
        F.aggregate(
            F.zip_with(sub_vec, lit, lambda x, c: (x.cast("double") - c) * (x.cast("double") - c)),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ),
        6,
    )


def _subspace(vec: Column, j: int, dsub: int) -> Column:
    return F.slice(vec, j * dsub + 1, dsub)


def pq_codebooks(
    corpus: DataFrame,
    m: int = 8,
    ksub: int = 16,
    dims: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    iters: int = 0,
) -> list[list[list[float]]]:
    """Train PQ codebooks: ``codebooks[j][k]`` is sub-centroid ``k`` of
    subspace ``j`` (each of length ``dims // m``).

    Seeds are the ``ksub`` smallest-id corpus vectors' subvectors —
    deterministic, so a SQL oracle rebuilds the codebook arithmetically.
    ``iters`` Lloyd rounds refine them: assignment is the same map-only
    argmin as :func:`pq_encode`; the update is ``m × dsub`` ``avg``
    aggregates grouped by the assigned code (partial aggregation — the
    shuffle is index-metadata-sized). Empty codes keep their previous
    centroid; refined values round to 6 dp per round.
    """
    if dims % m:
        raise ValueError("dims must divide evenly into m subspaces")
    dsub = dims // m
    rows = (
        corpus.select(F.col(id_col), F.col(vec_col))
        .orderBy(F.col(id_col).asc())
        .limit(ksub)
        .collect()
    )
    books: list[list[list[float]]] = [
        [[float(v) for v in r[vec_col][j * dsub : (j + 1) * dsub]] for r in rows]
        for j in range(m)
    ]
    return _lloyd_refine(corpus, books, iters, vec_col)


def _lloyd_refine(
    df: DataFrame, books: list[list[list[float]]], iters: int, vec_col: str
) -> list[list[list[float]]]:
    """Run ``iters`` Lloyd rounds over ``df`` starting from ``books`` —
    the ONE copy of the refinement convention (empty codes keep their
    previous centroid; refined values round to 6 dp per round), shared by
    flat-PQ training and ivfpq_build's residual refinement so the two can
    never silently diverge from the SQL oracle's replay."""
    m = len(books)
    dsub = len(books[0][0]) if books and books[0] else 0
    for _ in range(iters):
        agg = _lloyd_round_agg(df, books, vec_col=vec_col)
        got = {
            (r["j"], r["code"]): [float(r[f"d{d}"]) for d in range(dsub)]
            for r in agg.collect()
        }
        books = [
            [got.get((j, k), books[j][k]) for k in range(len(books[j]))]
            for j in range(m)
        ]
    return books


def _lloyd_round_agg(
    corpus: DataFrame,
    books: list[list[list[float]]],
    vec_col: str = "embedding",
) -> DataFrame:
    """One Lloyd refinement round as ONE job: per row, an array of
    (code_j, subvector_j) structs, posexploded to (j, code, sub) and
    aggregated with per-dimension ``avg`` grouped by (j, code).

    The corpus is scanned ONCE per round and the single shuffle carries
    m·ksub partially-aggregated (sum, count) pairs per dimension per map
    task — index-metadata-sized regardless of corpus size (vs the previous
    shape: m sequential groupBy jobs, i.e. m full corpus scans per round).
    Returns (j, code, d0..d{dsub-1}) with values rounded to 6 dp."""
    m = len(books)
    dsub = len(books[0][0])
    exploded = corpus.select(
        F.posexplode(
            F.array(
                *[
                    F.struct(
                        _pq_code_struct(F.col(vec_col), j, dsub, books[j]).alias("code"),
                        _subspace(F.col(vec_col), j, dsub).alias("sub"),
                    )
                    for j in range(m)
                ]
            )
        ).alias("j", "s")
    ).select("j", F.col("s.code").alias("code"), F.col("s.sub").alias("sub"))
    # integer-space mean (numeric.stable_avg): float AVG is partition-order
    # sensitive at 1 ULP; a boundary-straddling codebook centroid would
    # flip its 6-dp round and cascade into divergent codes everywhere
    from exon_duckdb_spark.operators.numeric import stable_avg, stable_round

    aggs = [
        stable_round(stable_avg(F.col("sub")[d].cast("double"))).alias(f"d{d}")
        for d in range(dsub)
    ]
    return exploded.groupBy("j", "code").agg(*aggs)


def _pq_code_struct(vec: Column, j: int, dsub: int, centroids: list[list[float]]) -> Column:
    """Argmin code for subspace ``j``: lexicographic array_min over
    (distance, code) structs — smallest distance, ties toward smaller code."""
    sv = _subspace(vec, j, dsub)
    structs = F.array(
        *[
            F.struct(_sub_l2(sv, c).alias("d"), F.lit(k).alias("k"))
            for k, c in enumerate(centroids)
        ]
    )
    return F.array_min(structs).getField("k")


def _stack_valid(vecs, width: int):
    """(ok_mask, (n, width) float64 matrix) from an Arrow vector column:
    rows that are NULL or not exactly ``width`` long are zero-filled and
    masked out, so callers emit NULL for them instead of crashing the task.
    The literal-expression paths NULL-propagate on bad rows; the numpy
    paths must match (same contract as similarity._numpy_codes_udf)."""
    import numpy as np

    n = len(vecs)
    ok = np.fromiter(
        (v is not None and len(v) == width for v in vecs), dtype=bool, count=n
    )
    M = np.zeros((n, width), dtype=np.float64)
    for r, v in enumerate(vecs):
        if ok[r]:
            M[r] = np.asarray(v, dtype=np.float64)
    return ok, M


def _numpy_encoder(codebooks: list[list[list[float]]]):
    """Arrow-batched encode UDF: one (n, m, 1, dsub) − (1, m, ksub, dsub)
    broadcast subtract + argmin per batch. Matches the literal path's
    semantics (distances rounded to 6 dp; np.argmin takes the FIRST min,
    i.e. ties toward the smaller code; NULL/ragged vectors yield NULL)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    m, dsub = len(codebooks), len(codebooks[0][0])
    C = np.array(codebooks, dtype=np.float64)  # m × ksub × dsub

    @pandas_udf("array<int>")
    def encode_codes(vecs):
        ok, M = _stack_valid(vecs, m * dsub)
        S = M.reshape(M.shape[0], m, dsub)
        d = np.round(((S[:, :, None, :] - C[None, :, :, :]) ** 2).sum(axis=3), 6)
        codes = np.argmin(d, axis=2).astype("int32")
        return pd.Series([c if k else None for k, c in zip(ok, codes)])

    return encode_codes


def pq_encode(
    corpus: DataFrame,
    codebooks: list[list[list[float]]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Encode each vector to its PQ code array (length ``m``, values in
    ``[0, ksub)``) — a map-only pass, no shuffle; write the result once and
    every downstream search touches ~dims/m × fewer bytes.

    Assignment path: literal centroid arrays (pure Column exprs, exactly
    SQL-reproducible summation order) while ``m·ksub·dsub`` ≤
    ``PQ_LITERAL_LIMIT``, else an Arrow-batched numpy broadcast-subtract.
    The HOF distance exprs run interpreted, so the vectorized path wins
    well before plan size becomes the problem. The numpy sum order can
    differ from the fold order in the last ulp; distances are rounded to
    6 dp, so a rank flip needs a value within 5e-7 of a rounding boundary
    AND a tie at 6 dp — negligible, and the contract query exercises the
    numpy path against the SQL oracle continuously.

    Returns (id_col, code ARRAY<INT>).
    """
    m = len(codebooks)
    dsub = len(codebooks[0][0])
    ksub = len(codebooks[0])
    if m * ksub * dsub > PQ_LITERAL_LIMIT:
        enc = _numpy_encoder(codebooks)
        return corpus.select(F.col(id_col), enc(F.col(vec_col)).alias("code"))
    # NULL/ragged vectors must yield NULL codes, matching the numpy path —
    # unguarded, array_min over null-distance structs silently emits code 0
    guard = F.col(vec_col).isNotNull() & (F.size(F.col(vec_col)) == m * dsub)
    return corpus.select(
        F.col(id_col),
        F.when(
            guard,
            F.array(
                *[
                    _pq_code_struct(F.col(vec_col), j, dsub, codebooks[j])
                    for j in range(m)
                ]
            ),
        ).alias("code"),
    )


def _numpy_lut(codebooks: list[list[list[float]]]):
    """Arrow-batched LUT UDF for the query side: ``lut[j][k] =
    round(||q_j - c_jk||², 6)`` via one broadcast subtract per batch.

    Exists for DRIVER-side plan-build cost, not executor speed: the literal
    expression form constructs m·ksub ``zip_with``+``aggregate`` trees —
    each lambda conversion is a py4j round trip. Same rounding convention
    as :func:`_numpy_encoder` (np.round; a divergence from the fold-order
    sum needs a value within an ulp of a 6-dp boundary — negligible,
    continuously oracle-checked)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    m, dsub = len(codebooks), len(codebooks[0][0])
    C = np.array(codebooks, dtype=np.float64)  # m × ksub × dsub

    @pandas_udf("array<array<double>>")
    def lut_rows(vecs):
        ok, M = _stack_valid(vecs, m * dsub)
        S = M.reshape(M.shape[0], m, dsub)
        d = np.round(((S[:, :, None, :] - C[None, :, :, :]) ** 2).sum(axis=3), 6)
        return pd.Series(
            [[r.tolist() for r in row] if k else None for k, row in zip(ok, d)]
        )

    return lut_rows


def pq_search(
    corpus_codes: DataFrame,
    queries: DataFrame,
    codebooks: list[list[list[float]]],
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """ADC top-k over PQ codes: approximate squared-L2 ranking without ever
    touching corpus vectors.

    The query side (broadcast) carries a lookup table ``lut[j][k] =
    round(||q_j - c_jk||², 6)``; the corpus side carries only its code
    array, and the approximate distance is the m-term sum
    ``Σ_j lut[j][code_j]`` — a zip of two small arrays per candidate pair.
    Smaller distance = nearer; ties break on neighbor id. Self-matches are
    excluded when the query id also appears in the corpus.

    The LUT follows :func:`pq_encode`'s path split (``PQ_LITERAL_LIMIT``):
    literal Column expressions for small codebooks, an Arrow UDF above the
    threshold (see :func:`_numpy_lut` — the literal tree's build cost, not
    run cost, is what it removes).

    Returns (query_id, neighbor_id, adc_dist, rank).
    """
    m = len(codebooks)
    dsub = len(codebooks[0][0])
    ksub = len(codebooks[0])
    if m * ksub * dsub > PQ_LITERAL_LIMIT:
        lut = _numpy_lut(codebooks)(F.col(vec_col))
    else:
        lut = F.array(
            *[
                F.array(
                    *[
                        _sub_l2(_subspace(F.col(vec_col), j, dsub), c)
                        for c in codebooks[j]
                    ]
                )
                for j in range(m)
            ]
        )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        lut.alias("_lut"),
    )
    dist = F.round(
        F.aggregate(
            F.zip_with(
                F.col("code"), F.col("_lut"), lambda cj, row: F.element_at(row, cj + 1)
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ),
        6,
    )
    from exon_duckdb_spark.operators.similarity import partition_topk

    scored = (
        corpus_codes.select(F.col(id_col).alias("neighbor_id"), F.col("code"))
        .crossJoin(F.broadcast(q))
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", dist.alias("adc_dist"))
    )
    # map-side top-k per partition first: the rank window's shuffle carries
    # ≤ k × n_partitions rows per query, not the whole scored corpus
    scored = partition_topk(
        scored, k, "query_id", "adc_dist", "neighbor_id", ascending=True
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_dist").asc(), F.col("neighbor_id").asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def pq_search_rerank(
    corpus: DataFrame,
    corpus_codes: DataFrame,
    queries: DataFrame,
    codebooks: list[list[list[float]]],
    k: int = 5,
    fetch_k: int | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Two-stage retrieval: ADC shortlist, then EXACT cosine re-rank of the
    shortlist against the original vectors (the re-ranking stage of Jégou
    2011 §V-A — ADC's quantization error mostly perturbs the ORDER of
    close neighbors, so re-scoring a ``fetch_k`` shortlist with exact
    similarity recovers most of the exact top-k at a cost proportional to
    the shortlist, not the corpus).

    Scale shape: stage 1 is :func:`pq_search` (corpus ships (id, m-byte
    code) only); stage 2 joins the ≤ queries × ``fetch_k`` shortlist
    against the corpus vectors on the neighbor id — an id-keyed join whose
    probe side is shortlist-sized, so the full-precision vectors of only
    the candidates are ever read — then broadcasts the query vectors and
    re-ranks per query. The corpus never self-joins and vectors never
    cross-join.

    Returns (query_id, neighbor_id, cosine_sim, rank ≤ k).
    """
    from exon_duckdb_spark.operators.similarity import _norm, dot

    fetch = fetch_k or 4 * k
    shortlist = pq_search(
        corpus_codes,
        queries,
        codebooks,
        k=fetch,
        vec_col=vec_col,
        id_col=id_col,
    ).select("query_id", "neighbor_id")
    cand = shortlist.join(
        corpus.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("_nv"),
            _norm(F.col(vec_col)).alias("_nn"),
        ),
        "neighbor_id",
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("_qv"),
        _norm(F.col(vec_col)).alias("_qn"),
    )
    sim = F.round(
        dot(F.col("_qv"), F.col("_nv")) / (F.col("_qn") * F.col("_nn")), 6
    )
    scored = cand.join(F.broadcast(q), "query_id").select(
        "query_id", "neighbor_id", sim.alias("cosine_sim")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)).where(
        F.col("rank") <= k
    )


def _numpy_residual_assigners(cents: list[tuple[int, list[float], float]], nprobe: int):
    """(assign_residual, probe_residuals) pandas UDFs for the IVF-PQ family.

    ``assign_residual(vec)`` → struct<cid int, rv array<double>>: the
    nearest coarse centroid (cosine rounded to 6 dp, ties toward the
    smaller cid — the same quantizer math as similarity._numpy_assigners,
    so one coarse quantizer serves IVF-flat, SemDeDup and IVF-PQ) plus the
    RESIDUAL ``vec - centroid``. The residual is an elementwise double
    subtraction — no summation involved, so it is exact and
    order-independent across engines.

    ``probe_residuals(vec)`` → array of the same struct for the ``nprobe``
    nearest lists: IVF-PQ's defining property is that the query must be
    re-expressed relative to EACH probed list's centroid (one LUT per
    (query, probe)), unlike IVF-flat where one query vector serves all
    probes.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    C = np.array([c[1] for c in cents], dtype=np.float64)  # nlist × dims
    cn = np.array([c[2] for c in cents], dtype=np.float64)

    def _sims(vecs):
        ok, M = _stack_valid(vecs, C.shape[1])
        norms = np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-300)
        return ok, M, np.round((M @ C.T) / (norms * cn[None, :]), 6)

    @pandas_udf("struct<cid: int, rv: array<double>>")
    def assign_residual(vecs):
        ok, M, s = _sims(vecs)
        cid = np.argmax(s, axis=1)
        rv = M - C[cid]
        return pd.DataFrame(
            {
                "cid": pd.array(
                    [int(c) if k else None for k, c in zip(ok, cid)], dtype="Int32"
                ),
                "rv": [list(r) if k else None for k, r in zip(ok, rv)],
            }
        )

    @pandas_udf("array<struct<cid: int, rv: array<double>>>")
    def probe_residuals(vecs):
        ok, M, s = _sims(vecs)
        order = np.argsort(-s, axis=1, kind="stable")[:, :nprobe]
        out = []
        for r in range(M.shape[0]):
            if not ok[r]:
                out.append(None)
                continue
            out.append(
                [
                    {"cid": int(c), "rv": (M[r] - C[c]).tolist()}
                    for c in order[r]
                ]
            )
        return pd.Series(out)

    return assign_residual, probe_residuals


def ivfpq_build(
    corpus: DataFrame,
    nlist: int = 8,
    m: int = 4,
    ksub: int = 8,
    dims: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    coarse_iters: int = 0,
    pq_iters: int = 0,
):
    """Build a FAISS-style IVF-PQ index (Jégou, Douze & Schmid 2011,
    "Product Quantization for Nearest Neighbor Search", §IV): coarse-assign
    each vector to an inverted list, then PQ-encode its RESIDUAL
    ``v - centroid[cid]`` — residuals cluster much tighter than raw
    vectors, so the same code budget quantizes them with far less error.

    All three artifacts are deterministic (seed coarse centroids = the
    ``nlist`` smallest-id vectors; seed codebooks = the ``ksub`` smallest-id
    RESIDUALS' subvectors; optional Lloyd rounds for either quantizer round
    to 6 dp), so a SQL oracle rebuilds the index arithmetically.

    Scale: assignment + residual is one map-only Arrow pass; codebook
    training shuffles index-metadata-sized aggregates; the encoded output
    is (id, cid, m small ints) — ~32× smaller than the raw vectors, which
    is what lets a 100 TB embedding store fit a cluster's storage budget.

    Returns ``(cents, codebooks, coded)`` with ``coded = (id_col, cid,
    code array<int>)``.
    """
    import math

    from exon_duckdb_spark.operators.similarity import kmeans_refine

    # ONE driver collect serves both quantizers: the first nlist rows are
    # the coarse seed centroids, the next ksub rows' ids pick the PQ seed
    # residuals (index metadata, like any ANN library's training sample)
    head = (
        corpus.select(F.col(id_col), F.col(vec_col))
        .orderBy(F.col(id_col).asc())
        .limit(nlist + ksub)
        .collect()
    )
    if len(head) < nlist + ksub:
        # without this the empty/short seed slice surfaces much later as an
        # opaque IndexError from the codebook trainer
        raise ValueError(
            f"ivfpq_build needs at least nlist + ksub = {nlist + ksub} corpus "
            f"rows to seed both quantizers, got {len(head)}"
        )
    cents = [
        (i, [float(v) for v in r[vec_col]], math.sqrt(sum(float(v) ** 2 for v in r[vec_col])))
        for i, r in enumerate(head[:nlist])
    ]
    if coarse_iters:
        cents = kmeans_refine(
            corpus, nlist=nlist, iters=coarse_iters, vec_col=vec_col, id_col=id_col
        )
    assign_residual, _ = _numpy_residual_assigners(cents, 1)
    res = corpus.select(
        F.col(id_col), assign_residual(F.col(vec_col)).alias("_a")
    ).select(
        F.col(id_col), F.col("_a.cid").alias("cid"), F.col("_a.rv").alias("_rv")
    )
    # Seed the PQ codebooks from residuals DISJOINT from the coarse seeds:
    # with the seed quantizer, the nlist smallest-id vectors ARE the
    # centroids, so their residuals are exactly zero — seeding from them
    # collapses every codebook to the origin (all codes 0, all ADC
    # distances equal). Deterministic rule: ids ranked nlist..nlist+ksub
    # (ORDER BY id OFFSET nlist LIMIT ksub in the SQL oracle).
    seed_ids = [r[id_col] for r in head[nlist:]]
    books = pq_codebooks(
        res.where(F.col(id_col).isin(seed_ids)),
        m=m,
        ksub=ksub,
        dims=dims,
        vec_col="_rv",
        id_col=id_col,
        iters=0,
    )
    if pq_iters:
        # Lloyd refinement over the FULL residual set — same shared helper
        # (and hence the same convention) as pq_codebooks
        books = _lloyd_refine(res, books, pq_iters, vec_col="_rv")
    enc = _numpy_encoder(books)
    coded = res.select(F.col(id_col), "cid", enc(F.col("_rv")).alias("code"))
    return cents, books, coded


def ivfpq_search(
    coded: DataFrame,
    queries: DataFrame,
    cents: list[tuple[int, list[float], float]],
    codebooks: list[list[list[float]]],
    k: int = 5,
    nprobe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF-PQ ADC top-k: probe ``nprobe`` inverted lists, rank candidates by
    table-lookup distance over their residual codes.

    Each (query, probed list) pair gets its OWN lookup table computed from
    the query's residual against THAT list's centroid — the residual trick
    that makes IVF-PQ beat flat PQ at equal code budget. The corpus side
    contributes (cid, code) only — candidate selection is a broadcast
    equi-join on the list id and the distance is an m-term lookup sum, so
    at 100 TB the scan reads ~m bytes per vector and the corpus never
    shuffles; per-query cost is nprobe × m × ksub doubles of broadcast
    state. Smaller distance = nearer; ties break on neighbor id;
    self-matches excluded.

    Returns (query_id, neighbor_id, adc_dist, rank ≤ k).
    """
    from exon_duckdb_spark.operators.similarity import partition_topk

    _, probe_residuals = _numpy_residual_assigners(cents, nprobe)
    lut = _numpy_lut(codebooks)
    q = (
        queries.select(
            F.col(id_col).alias("query_id"), probe_residuals(F.col(vec_col)).alias("_p")
        )
        .select("query_id", F.explode("_p").alias("_pp"))
        .select(
            "query_id",
            F.col("_pp.cid").alias("cid"),
            F.col("_pp.rv").alias("_qrv"),
        )
        .select("query_id", "cid", lut(F.col("_qrv")).alias("_lut"))
    )
    dist = F.round(
        F.aggregate(
            F.zip_with(
                F.col("code"), F.col("_lut"), lambda cj, row: F.element_at(row, cj + 1)
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ),
        6,
    )
    scored = (
        coded.select(F.col(id_col).alias("neighbor_id"), "cid", "code")
        .join(F.broadcast(q), "cid")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", dist.alias("adc_dist"))
    )
    scored = partition_topk(
        scored, k, "query_id", "adc_dist", "neighbor_id", ascending=True
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_dist").asc(), F.col("neighbor_id").asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


# ---------------------------------------------------------------------------
# Scalar quantization (SQ8) — the simpler sibling of PQ


def sq8_encode(
    corpus: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Symmetric per-vector int8 quantization: ``code_i = floor(v_i / scale
    + 0.5)`` with ``scale = max|v| / 127`` — 4× smaller than float32 with
    ~0.3% cosine error at 64 dims. Map-only, no shuffle; the standard
    embedding-store compression tier between raw float and PQ.

    ``floor(x + 0.5)`` (not round()) so the SQL oracle reproduces the codes
    bit-for-bit — round() half-up/half-even conventions differ across
    engines. ``scale`` is carried per row: cosine doesn't need it (it
    cancels), but dot/L2 reconstruction does.
    Returns (id_col, scale double, code array<int>).
    """
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    scale = F.greatest(
        F.array_max(F.transform(v, lambda x: F.abs(x))), F.lit(1e-30)
    ) / F.lit(127.0)
    code = F.transform(
        v,
        lambda x: F.greatest(
            F.lit(-127), F.least(F.lit(127), F.floor(x / scale + 0.5).cast("int"))
        ),
    )
    return corpus.select(F.col(id_col), scale.alias("scale"), code.alias("code"))


def sq8_search(
    corpus_codes: DataFrame,
    queries: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Brute-force cosine top-k over SQ8 codes: the per-vector scale cancels
    out of cosine, so the score is ``Σ q_i·c_i / (|q|·|c|)`` over the raw
    int codes — the corpus side reads ¼ the bytes of float32 and never
    shuffles (broadcast queries, map-side :func:`partition_topk`, then a
    k×partitions-row rank window).
    Returns (query_id, neighbor_id, cosine_sim, rank), self-matches excluded.
    """
    from exon_duckdb_spark.operators.similarity import _norm, dot, partition_topk

    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        _norm(F.col(vec_col)).alias("qn"),
    )
    c = corpus_codes.select(
        F.col(id_col).alias("neighbor_id"),
        F.col("code").alias("cvec"),
        _norm(F.col("code")).alias("cn"),
    )
    sim = dot(F.col("qvec"), F.col("cvec")) / (F.col("qn") * F.col("cn"))
    scored = (
        c.crossJoin(F.broadcast(q))
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


def bq_encode(
    corpus: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
) -> DataFrame:
    """Binary (sign-bit) quantization: 1 bit per dimension, packed 32 dims
    per 64-bit word — bit ``j`` of word ``w`` is set iff ``v[32w+j] > 0``.
    A 64-dim float32 embedding (256 bytes) becomes 2 longs; at corpus
    scale the candidate scan reads 16 bytes/vector and Hamming distance
    (a sign-agreement count, the standard binary proxy for cosine) is a
    handful of ``xor`` + ``popcount`` instructions. This is the coarsest
    tier of the quantization ladder (float32 → SQ8 → PQ → binary), the
    one vector stores use for first-pass candidate generation.

    32 bits per word (not 64) because the SQL-oracle engine raises on
    ``1::BIGINT << 63`` overflow while Spark wraps — bits 0..31 keep every
    intermediate exactly representable on both engines. A production
    deployment would pack the full 64 bits. Integer arithmetic only, so
    the packing is bit-exact cross-engine. Map-only, no shuffle.

    Returns (id_col, code array<bigint> of ceil(dim/32) words).
    """
    d = int(dim)
    nwords = (d + 31) // 32
    # one aggregate-fold per word instead of a 32-term when-chain: same
    # integer arithmetic (order-independent), ~1/30th the expression
    # nodes, so plan build and codegen stay flat as dim grows
    vc = f"`{vec_col}`"
    words = [
        F.expr(
            f"aggregate(sequence(0, {min(31, d - w * 32 - 1)}), cast(0 as bigint), "
            f"(acc, j) -> acc + if(element_at({vc}, {w * 32} + j + 1) > 0, "
            f"shiftleft(cast(1 as bigint), j), cast(0 as bigint)))"
        )
        for w in range(nwords)
    ]
    return corpus.select(F.col(id_col), F.array(*words).alias("code"))


def bq_search(
    corpus_codes: DataFrame,
    queries: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
) -> DataFrame:
    """Brute-force Hamming top-k over binary codes: queries are binarized
    with the same sign packing (map-only on the broadcast side), and the
    distance is ``Σ_w popcount(qcode_w XOR ccode_w)`` — for sign codes
    this counts disagreeing dimensions, the binary estimator of angular
    distance (Charikar 2002: P[signs agree] = 1 − θ/π per hyperplane;
    here the hyperplanes are the coordinate axes).

    Scale shape: the corpus side ships (id, 2 longs) only and never
    shuffles — broadcast queries, map-side :func:`partition_topk`, then a
    k×partitions-row rank window. Hamming is integer-valued so ties are
    common; ``neighbor_id`` breaks them deterministically. Compose with
    an exact re-rank (:func:`pq_search_rerank`'s stage-2 shape) when
    score fidelity matters: Hamming's job is cheap candidate generation.

    Returns (query_id, neighbor_id, hamming int, rank ≤ k).
    """
    from exon_duckdb_spark.operators.similarity import partition_topk

    q = bq_encode(queries, vec_col, id_col, dim).select(
        F.col(id_col).alias("query_id"), F.col("code").alias("qcode")
    )
    c = corpus_codes.select(
        F.col(id_col).alias("neighbor_id"), F.col("code").alias("ccode")
    )
    ham = F.aggregate(
        F.zip_with(
            F.col("qcode"),
            F.col("ccode"),
            lambda a, b: F.bit_count(a.bitwiseXOR(b)).cast("bigint"),
        ),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    ).cast("int")
    scored = (
        c.crossJoin(F.broadcast(q))
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", ham.alias("hamming"))
    )
    scored = partition_topk(
        scored, k, "query_id", "hamming", "neighbor_id", ascending=True
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("hamming").asc(), F.col("neighbor_id").asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)).where(
        F.col("rank") <= k
    )
