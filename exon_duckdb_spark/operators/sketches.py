"""Distinct-count sketches: KMV (k-minimum-values) and HyperLogLog.

At 100 TB, ``COUNT(DISTINCT x)`` is the query that hurts: it shuffles every
distinct value to a single reducer domain. Sketches replace it with a
CONSTANT-size summary (k hashes / m registers) that map-side combines —
the shuffle carries at most ``k`` rows (KMV) or ``m`` rows (HLL) per
partition regardless of input size, and two corpora can be compared by
merging their sketches instead of joining 100 TB against 100 TB.

Reference parity note: the reference engine (exon-duckdb) delegates
``approx_count_distinct`` to DuckDB's HLL; this module re-expresses the
same capability Spark-first, but with a CROSS-ENGINE DETERMINISTIC hash
(md5-derived, operators/hashing.py) so the DuckDB oracle can replay the
estimate bit-for-bit — Spark's native ``approx_count_distinct`` and
DuckDB's use engine-private hashes and can never hash-match.

Cross-engine determinism design (every step integer until one final fold):

- hash: ``md5_int`` (60-bit positive bigint, identical in both engines).
- KMV: the k smallest DISTINCT hashes. Estimate ``(k-1) * 2^60 / h_k``
  is ONE double division of two exactly-agreed operands.
- HLL (p bucket bits, w = 60-p suffix bits): register = max over the
  bucket of ``rho = w - bitlength(suffix) + 1`` (suffix==0 → w+1),
  computed via ``length(bin(x))`` — unpadded in BOTH engines. The
  harmonic fold uses integer terms ``2^(shift-reg)`` with
  ``shift = w+1 = 61-p`` (the max register) summed as BIGINT — exact
  for every p: max possible sum m·2^shift = 2^61 < 2^63, and the
  smallest term is 2^0 — so the only floats are one literal/bigint
  division and, on the small range, one ``m·ln(m/V)`` linear-counting
  correction (rounded 4 dp to absorb libm last-ulp variance).

Scale shapes:
- ``kmv_sketch``: distinct (hash-keyed shuffle, map-side combine) +
  global top-k smallest via sort-limit — Spark plans TakeOrderedAndProject,
  a map-side partial top-k; k rows cross the wire per partition.
- ``hll_registers``: one groupBy on (bucket) — at most m in-flight groups
  per partition thanks to partial max aggregation.
- ``hll_grouped``: one groupBy (group, bucket) then (group); per-group
  state is m registers, so a billion-group rollup is (groups × m) rows,
  not (groups × distinct values).
- merges (``kmv_merge_estimate``): sketch-sized frames only; the overlap
  estimator never touches the corpora again.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from exon_duckdb_spark.operators.hashing import md5_int, md5_int_sql

__all__ = [
    "kmv_sketch",
    "kmv_estimate",
    "kmv_merge_estimate",
    "hll_registers",
    "hll_estimate",
    "hll_grouped",
    "cms_table",
    "cms_query",
    "bloom_words",
    "bloom_might_contain",
    "bloom_decontaminate",
    "bloom_merge",
    "bloom_paragraph_filter",
    "bloom_membership_sql",
    "bloom_fill_sql",
    "BLOOM_M",
    "BLOOM_K",
    "HLL_P",
    "KMV_K",
    "CMS_D",
    "CMS_W",
]

# Defaults sized for oracle-replayable tests; production would raise both
# (k=1024, p=12-14). All the arithmetic below is parameterized and stays
# exact for every validated p (see _term_shift).
KMV_K = 64
HLL_P = 6

_HASH_BITS = 60


def _term_shift(p: int) -> int:
    """Integer harmonic-term scale: term = 2^(shift - reg) with
    shift = (w+1) = 61-p, the MAXIMUM possible register value — so the
    smallest term is exactly 1 (never a negative shift) and the largest
    possible sum is m·2^shift = 2^61, inside BIGINT for every p. A fixed
    shift of 57 overflowed Spark's non-ANSI wrapping sum at p >= 7 while
    DuckDB promoted to HUGEINT — wrong estimates AND cross-engine
    divergence. The estimate is shift-invariant: numerator
    and ssum both carry 2^shift, and the power-of-two rescale cancels
    exactly in the one double division.
    """
    _validate_p(p)
    return _HASH_BITS - p + 1


def _validate_p(p: int) -> None:
    if not 4 <= p <= 16:
        raise ValueError(
            f"hll precision p={p} out of range [4, 16]: p < 4 has no "
            "published bias constant; p > 16 wastes registers at this "
            "hash width"
        )


def _hash_col(col: str) -> Column:
    return md5_int(F.col(col).cast("string"))


# --------------------------------------------------------------------------
# KMV
# --------------------------------------------------------------------------


def kmv_sketch(df: DataFrame, col: str, k: int = KMV_K) -> DataFrame:
    """k smallest distinct 60-bit hashes of ``col`` → DataFrame["hv"].

    distinct() map-side combines before its hash shuffle; orderBy+limit
    plans TakeOrderedAndProject (per-partition top-k, then a k-row merge
    on one reducer) — the full distinct domain never converges anywhere.
    """
    return (
        df.select(_hash_col(col).alias("hv"))
        .where(F.col("hv").isNotNull())
        .distinct()
        .orderBy("hv")
        .limit(k)
    )


def kmv_estimate(sketch: DataFrame, k: int = KMV_K) -> DataFrame:
    """1-row DataFrame["est"] from a :func:`kmv_sketch`.

    With n >= k retained hashes the estimator is (k-1)/U_(k) on hashes
    normalized to [0,1); kept in integer space as one double division
    ``(k-1)·2^60 / h_k``. With fewer than k values the sketch IS the
    distinct set, so the estimate is the exact count.
    """
    num = float((k - 1) * (1 << _HASH_BITS))
    agg = sketch.agg(
        F.max("hv").alias("hk"), F.count("*").cast("bigint").alias("nv")
    )
    return agg.select(
        F.when(F.col("nv") < k, F.col("nv").cast("double"))
        .otherwise(F.round(F.lit(num) / F.col("hk").cast("double"), 4))
        .alias("est")
    )


def kmv_merge_estimate(
    sk_a: DataFrame, sk_b: DataFrame, k: int = KMV_K
) -> DataFrame:
    """Set-overlap estimates from two KMV sketches — no corpus join.

    Merged sketch = k smallest of (A ∪ B); within it, the fraction of
    hashes present in BOTH input sketches is an unbiased Jaccard
    estimator (Beyer et al. 2007). Returns one row
    ``(union_est, jaccard_est, intersection_est)``. Everything is
    sketch-sized: the joins below touch ≤ 2k rows.
    """
    merged = (
        sk_a.select("hv").union(sk_b.select("hv")).distinct().orderBy("hv").limit(k)
    )
    both = merged.join(sk_a.select("hv"), "hv", "semi").join(
        sk_b.select("hv"), "hv", "semi"
    )
    u = kmv_estimate(merged, k).select(F.col("est").alias("union_est"))
    # Beyer et al.: jaccard = |K ∩ A ∩ B| / |K| where K is the MERGED
    # k-min set — divide by the merged sketch's ACTUAL size, not k: when
    # |A ∪ B| holds fewer than k distinct hashes the merged sketch is
    # under-filled and a fixed-k denominator grossly underestimates
    # (two identical 5-element sets gave jaccard_est 5/64, not 1.0).
    c = both.agg(F.count("*").cast("double").alias("c"))
    n = merged.agg(F.count("*").cast("double").alias("nk"))
    return (
        u.crossJoin(c)
        .crossJoin(n)
        .select(
            "union_est",
            F.round(F.col("c") / F.col("nk"), 4).alias("jaccard_est"),
            F.round((F.col("c") / F.col("nk")) * F.col("union_est"), 4).alias(
                "intersection_est"
            ),
        )
    )


# --------------------------------------------------------------------------
# HyperLogLog
# --------------------------------------------------------------------------

# Flajolet et al. 2007 bias constants for small m; m >= 128 uses the
# closed form 0.7213/(1 + 1.079/m).
_ALPHA = {4: 0.673, 5: 0.697, 6: 0.709}


def _alpha(p: int) -> float:
    if p in _ALPHA:
        return _ALPHA[p]
    m = 1 << p
    return 0.7213 / (1.0 + 1.079 / m)


def hll_registers(df: DataFrame, col: str, p: int = HLL_P) -> DataFrame:
    """Per-bucket max-rho registers → DataFrame["bucket", "reg"].

    bucket = top p bits of the 60-bit hash; rho = 1 + leading zeros of
    the w-bit suffix, derived from ``length(bin(suffix))`` (unpadded in
    Spark and DuckDB alike) so both engines compute the identical
    integer. max() is associative → partial aggregation caps per-task
    state at m rows.
    """
    _validate_p(p)
    w = _HASH_BITS - p
    mask = (1 << w) - 1
    h = df.select(_hash_col(col).alias("hv")).where(F.col("hv").isNotNull())
    b = h.select(
        F.shiftright("hv", w).alias("bucket"),
        F.col("hv").bitwiseAND(F.lit(mask)).alias("suffix"),
    )
    rho = (
        F.when(F.col("suffix") == 0, F.lit(w + 1))
        .otherwise(F.lit(w) - F.length(F.bin("suffix")) + F.lit(1))
        .alias("rho")
    )
    return b.select("bucket", rho).groupBy("bucket").agg(F.max("rho").alias("reg"))


def hll_estimate(registers: DataFrame, p: int = HLL_P) -> DataFrame:
    """1-row DataFrame["est"] from :func:`hll_registers`.

    Harmonic mean in EXACT integer space: each register contributes
    ``2^(shift-reg)`` with shift = w+1 (see :func:`_term_shift`); a
    bucket with no rows contributes the reg=0 term 2^shift. The only
    floating ops are one literal/bigint division (both operands agreed
    bit-for-bit across engines) and the small-range linear-counting
    correction ``m·ln(m/V)`` (E ≤ 2.5m and V empty buckets > 0),
    rounded 4 dp.
    """
    m = 1 << p
    shift = _term_shift(p)
    num = float(_alpha(p) * m * m * (1 << shift))
    agg = registers.agg(
        (
            F.sum(F.expr(f"shiftleft(CAST(1 AS BIGINT), {shift} - reg)"))
            + (F.lit(m) - F.count("*")) * F.lit(1 << shift)
        ).alias("ssum"),
        (F.lit(m) - F.count("*")).cast("bigint").alias("v0"),
    )
    raw = F.lit(num) / F.col("ssum").cast("double")
    return agg.select(
        F.when(
            (raw <= F.lit(2.5 * m)) & (F.col("v0") > 0),
            F.round(F.lit(float(m)) * F.log(F.lit(float(m)) / F.col("v0")), 4),
        )
        .otherwise(F.round(raw, 4))
        .alias("est")
    )


def hll_grouped(
    df: DataFrame, group_col: str, col: str, p: int = HLL_P
) -> DataFrame:
    """Per-group HLL distinct estimate → DataFrame[group_col, "est"].

    One (group, bucket) aggregation then one (group) fold — per-group
    reducer state is m registers, never the distinct value set. The
    classic "distinct users per segment per day at 100 TB" shape.
    """
    _validate_p(p)
    w = _HASH_BITS - p
    mask = (1 << w) - 1
    m = 1 << p
    shift = _term_shift(p)
    num = float(_alpha(p) * m * m * (1 << shift))
    h = df.select(
        F.col(group_col), _hash_col(col).alias("hv")
    ).where(F.col("hv").isNotNull())
    b = h.select(
        group_col,
        F.shiftright("hv", w).alias("bucket"),
        F.col("hv").bitwiseAND(F.lit(mask)).alias("suffix"),
    )
    rho = (
        F.when(F.col("suffix") == 0, F.lit(w + 1))
        .otherwise(F.lit(w) - F.length(F.bin("suffix")) + F.lit(1))
        .alias("rho")
    )
    regs = (
        b.select(group_col, "bucket", rho)
        .groupBy(group_col, "bucket")
        .agg(F.max("rho").alias("reg"))
    )
    agg = regs.groupBy(group_col).agg(
        (
            F.sum(F.expr(f"shiftleft(CAST(1 AS BIGINT), {shift} - reg)"))
            + (F.lit(m) - F.count("*")) * F.lit(1 << shift)
        ).alias("ssum"),
        (F.lit(m) - F.count("*")).cast("bigint").alias("v0"),
    )
    raw = F.lit(num) / F.col("ssum").cast("double")
    return agg.select(
        group_col,
        F.when(
            (raw <= F.lit(2.5 * m)) & (F.col("v0") > 0),
            F.round(F.lit(float(m)) * F.log(F.lit(float(m)) / F.col("v0")), 4),
        )
        .otherwise(F.round(raw, 4))
        .alias("est"),
    )


# --------------------------------------------------------------------------
# Oracle SQL builders (DuckDB) — same integer pipeline, replayed in SQL.
# --------------------------------------------------------------------------


def kmv_sketch_sql(source_sql: str, col_expr: str, k: int = KMV_K) -> str:
    """DuckDB CTE body producing the k-min hash set (column hv).

    The NOT NULL filter mirrors the Spark side's ``hv.isNotNull()``:
    without it ``md5_int_sql(NULL)`` becomes CAST('0x' AS BIGINT) — a
    DuckDB Conversion Error on any nullable column, where Spark silently
    dropped the row.
    """
    return f"""
        SELECT hv FROM (
          SELECT DISTINCT {md5_int_sql(f"CAST({col_expr} AS VARCHAR)")} AS hv
          FROM {source_sql} WHERE {col_expr} IS NOT NULL
        ) ORDER BY hv LIMIT {k}
    """


def kmv_estimate_sql(sketch_sql: str, k: int = KMV_K) -> str:
    num = float((k - 1) * (1 << _HASH_BITS))
    return f"""
        SELECT CASE WHEN count(*) < {k} THEN CAST(count(*) AS DOUBLE)
                    ELSE round({num!r} / CAST(max(hv) AS DOUBLE), 4) END AS est
        FROM ({sketch_sql})
    """


def kmv_merge_estimate_sql(
    sketch_a_sql: str, sketch_b_sql: str, k: int = KMV_K
) -> str:
    """DuckDB replay of :func:`kmv_merge_estimate` from two sketch CTEs."""
    num = float((k - 1) * (1 << _HASH_BITS))
    return f"""
        WITH ska AS ({sketch_a_sql}),
        skb AS ({sketch_b_sql}),
        merged AS (
          SELECT hv FROM (
            SELECT DISTINCT hv FROM (SELECT hv FROM ska UNION ALL SELECT hv FROM skb)
          ) ORDER BY hv LIMIT {k}
        ),
        u AS (
          SELECT CASE WHEN count(*) < {k} THEN CAST(count(*) AS DOUBLE)
                      ELSE round({num!r} / CAST(max(hv) AS DOUBLE), 4) END AS union_est
          FROM merged
        ),
        c AS (
          SELECT CAST(count(*) AS DOUBLE) AS c FROM merged
          WHERE hv IN (SELECT hv FROM ska) AND hv IN (SELECT hv FROM skb)
        ),
        nk AS (
          SELECT CAST(count(*) AS DOUBLE) AS nk FROM merged
        )
        SELECT union_est,
               round(c / nk, 4) AS jaccard_est,
               round((c / nk) * union_est, 4) AS intersection_est
        FROM u, c, nk
    """


def hll_grouped_sql(
    source_sql: str, group_expr: str, col_expr: str, p: int = HLL_P
) -> str:
    """DuckDB replay of :func:`hll_grouped` (one row per group)."""
    _validate_p(p)
    w = _HASH_BITS - p
    mask = (1 << w) - 1
    m = 1 << p
    shift = _term_shift(p)
    num = float(_alpha(p) * m * m * (1 << shift))
    return f"""
        WITH hv AS (
          SELECT {group_expr} AS g,
                 {md5_int_sql(f"CAST({col_expr} AS VARCHAR)")} AS hv
          FROM {source_sql} WHERE {col_expr} IS NOT NULL
        ),
        regs AS (
          SELECT g, hv >> {w} AS bucket,
                 MAX(CASE WHEN (hv & {mask}) = 0 THEN {w + 1}
                          ELSE {w} - length(bin(hv & {mask})) + 1 END) AS reg
          FROM hv GROUP BY 1, 2
        ),
        fold AS (
          SELECT g,
                 SUM(CAST(1 AS BIGINT) << ({shift} - reg))
                   + ({m} - count(*)) * (CAST(1 AS BIGINT) << {shift}) AS ssum,
                 {m} - count(*) AS v0
          FROM regs GROUP BY g
        )
        SELECT g,
               CASE WHEN {num!r} / CAST(ssum AS DOUBLE) <= {2.5 * m}
                         AND v0 > 0
                    THEN round({float(m)!r} * ln({float(m)!r} / v0), 4)
                    ELSE round({num!r} / CAST(ssum AS DOUBLE), 4) END AS est
        FROM fold
    """


def hll_estimate_sql(source_sql: str, col_expr: str, p: int = HLL_P) -> str:
    """DuckDB replay of hll_registers + hll_estimate over a source."""
    _validate_p(p)
    w = _HASH_BITS - p
    mask = (1 << w) - 1
    m = 1 << p
    shift = _term_shift(p)
    num = float(_alpha(p) * m * m * (1 << shift))
    return f"""
        WITH hv AS (
          SELECT {md5_int_sql(f"CAST({col_expr} AS VARCHAR)")} AS hv
          FROM {source_sql} WHERE {col_expr} IS NOT NULL
        ),
        regs AS (
          SELECT hv >> {w} AS bucket,
                 MAX(CASE WHEN (hv & {mask}) = 0 THEN {w + 1}
                          ELSE {w} - length(bin(hv & {mask})) + 1 END) AS reg
          FROM hv GROUP BY 1
        ),
        fold AS (
          SELECT SUM(CAST(1 AS BIGINT) << ({shift} - reg))
                   + ({m} - count(*)) * (CAST(1 AS BIGINT) << {shift}) AS ssum,
                 {m} - count(*) AS v0
          FROM regs
        )
        SELECT CASE WHEN {num!r} / CAST(ssum AS DOUBLE) <= {2.5 * m}
                         AND v0 > 0
                    THEN round({float(m)!r} * ln({float(m)!r} / v0), 4)
                    ELSE round({num!r} / CAST(ssum AS DOUBLE), 4) END AS est
        FROM fold
    """


# --------------------------------------------------------------------------
# Count-Min sketch (point-frequency estimation / heavy hitters)
# --------------------------------------------------------------------------

CMS_D = 4
CMS_W = 64


def _cms_bucket(col: str, r: int, w: int) -> Column:
    """Row-r bucket: md5 of a row-salted value, mod w — the same
    deterministic family convention as KMV/HLL so the oracle replays it."""
    return (
        md5_int(F.concat(F.lit(f"cms{r}:"), F.col(col).cast("string"))) % w
    )


def cms_table(df: DataFrame, col: str, d: int = CMS_D, w: int = CMS_W) -> DataFrame:
    """Count-Min counter table ``(r, bucket, cnt)`` — the frequency twin
    of the distinct-count sketches above: point-frequency queries and
    heavy-hitter screens without a per-key groupBy.

    Why it scales: a ``groupBy(key)`` on a 100 TB corpus shuffles the full
    key domain; this is ONE map-only pass computing d salted buckets per
    row, then a groupBy on at most d·w cells — partial aggregation means
    each partition emits ≤ d·w rows regardless of input size, and the
    final table (256 cells at the defaults) BROADCASTS into every query.
    Estimates are biased up only (min over d counters ≥ true count, the
    Cormode-Muthukrishnan guarantee: overestimate ≤ εN with prob 1−δ for
    w = e/ε, d = ln(1/δ)). All integer arithmetic — bit-for-bit
    oracle-replayable (:func:`cms_table_sql`). NULL keys are dropped
    like the other sketches."""
    buckets = F.array(*[_cms_bucket(col, r, w) for r in range(d)])
    return (
        df.where(F.col(col).isNotNull())
        .select(F.posexplode(buckets).alias("r", "bucket"))
        .groupBy("r", "bucket")
        .agg(F.count("*").alias("cnt"))
    )


def cms_query(
    cms: DataFrame, keys: DataFrame, key_col: str, d: int = CMS_D, w: int = CMS_W
) -> DataFrame:
    """Point-frequency estimates for ``keys[key_col]``: min over the d
    row counters, missing cells count 0. The counter table broadcasts
    (d·w rows); the keys frame streams — no shuffle of either corpus.
    Returns (key_col, est bigint)."""
    buckets = F.array(*[_cms_bucket(key_col, r, w) for r in range(d)])
    kb = keys.where(F.col(key_col).isNotNull()).select(
        F.col(key_col), F.posexplode(buckets).alias("r", "bucket")
    )
    return (
        kb.join(F.broadcast(cms), ["r", "bucket"], "left")
        .groupBy(key_col)
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("est"))
    )


def cms_table_sql(
    source_sql: str, col_expr: str, d: int = CMS_D, w: int = CMS_W
) -> str:
    """DuckDB twin of :func:`cms_table` (CTE body, columns r/bucket/cnt)."""
    rows = "\n          UNION ALL\n          ".join(
        f"SELECT {r} AS r, "
        + md5_int_sql(f"CONCAT('cms{r}:', CAST({col_expr} AS VARCHAR))")
        + f" % {w} AS bucket FROM {source_sql} WHERE {col_expr} IS NOT NULL"
        for r in range(d)
    )
    return f"""
        SELECT r, bucket, count(*) AS cnt FROM (
          {rows}
        ) GROUP BY r, bucket
    """


def cms_query_sql(
    cms_sql: str,
    keys_sql: str,
    key_expr: str,
    d: int = CMS_D,
    w: int = CMS_W,
) -> str:
    """DuckDB twin of :func:`cms_query`: returns (key, est)."""
    kb = "\n          UNION ALL\n          ".join(
        f"SELECT {key_expr} AS key, {r} AS r, "
        + md5_int_sql(f"CONCAT('cms{r}:', CAST({key_expr} AS VARCHAR))")
        + f" % {w} AS bucket FROM {keys_sql} WHERE {key_expr} IS NOT NULL"
        for r in range(d)
    )
    return f"""
        SELECT key, MIN(COALESCE(c.cnt, 0)) AS est
        FROM (
          {kb}
        ) kb LEFT JOIN ({cms_sql}) c USING (r, bucket)
        GROUP BY key
    """


# ---------------------------------------------------------------------------
# Bloom filter (the Dolma-style membership pre-screen)


BLOOM_M = 1 << 16  # bits; production sizes by n·k/ln2 (see DEPLOY.md)
BLOOM_K = 4


def _bloom_positions(col: Column, m: int, k: int) -> Column:
    """Array of the key's k bit positions — salted md5, identical in both
    engines (the same ``'<salt>:'`` convention as CMS)."""
    return F.array(
        *[
            md5_int(F.concat(F.lit(f"bloom{i}:"), col.cast("string"))) % m
            for i in range(k)
        ]
    )


def bloom_words(
    df: DataFrame, col: str, m: int = BLOOM_M, k: int = BLOOM_K
) -> DataFrame:
    """Build a Bloom filter over ``df[col]`` as a ``(word_idx, word)``
    bit-word table — m/64 rows (128 KB of longs at m=2^16; a 2^30-bit
    production filter is 16 MB), BROADCASTABLE into any probe.

    Why this scales where the exact alternative doesn't: a membership
    pre-screen against a benchmark/blocklist otherwise broadcasts the
    full key set (n-grams of every benchmark document — gigabytes); the
    Bloom table is CONSTANT-size with a false-POSITIVE-only error, so a
    probe-side miss is definitive and the (rare) hits go to the exact
    verify. This is the Dolma/CCNet-style bloom dedup/decontamination
    shape. One map pass computes k positions per key; the groupBy
    partial-aggregates to ≤ m/64 rows per partition.
    """
    pos = (
        df.where(F.col(col).isNotNull())
        .select(F.explode(_bloom_positions(F.col(col), m, k)).alias("pos"))
    )
    return (
        pos.groupBy((F.col("pos") / 64).cast("long").alias("word_idx"))
        .agg(
            # shiftleft with a COLUMN bit count needs the SQL form (the
            # Python helper only takes a literal)
            F.bit_or(
                F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))")
            ).alias("word")
        )
    )


def bloom_might_contain(
    probe: DataFrame,
    words: DataFrame,
    col: str,
    m: int = BLOOM_M,
    k: int = BLOOM_K,
) -> DataFrame:
    """Per-probe-row Bloom membership: ``(col, might)`` where ``might``
    is false ONLY when the key is definitely absent. The words table
    broadcasts; the probe side never shuffles (one broadcast join per
    position batch, grouped back on the key)."""
    pos = probe.where(F.col(col).isNotNull()).select(
        F.col(col),
        F.explode(_bloom_positions(F.col(col), m, k)).alias("pos"),
    )
    joined = pos.join(
        F.broadcast(words),
        (F.col("pos") / 64).cast("long") == F.col("word_idx"),
        "left",
    )
    # & 1, not % 2: a set bit 63 makes the long NEGATIVE — Spark's % keeps
    # the dividend's sign (-3 % 2 = -1) and shiftright sign-extends, so a
    # modulo-based test reads hi-bit words wrong; masking is sign-proof
    bit = F.expr(
        "shiftright(coalesce(word, CAST(0 AS BIGINT)),"
        " CAST(pos % 64 AS INT)) & CAST(1 AS BIGINT)"
    )
    return (
        joined.groupBy(col)
        .agg((F.min(bit) == 1).alias("might"))
    )


def bloom_decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
    m: int = BLOOM_M,
    k: int = BLOOM_K,
) -> DataFrame:
    """Benchmark decontamination with a Bloom pre-screen: drop corpus
    docs sharing any word ``n``-gram with the benchmark, but probe a
    CONSTANT-size Bloom filter first so only bloom-POSITIVE grams (true
    overlaps + the filter's false positives) reach the exact semi-join.
    Same output as the exact ``decontaminate`` (false positives are
    re-verified, misses are impossible), while the broadcast volume is
    the m-bit filter instead of every benchmark gram. Both sides reduce
    to the SAME 60-bit gram hashes the exact operator joins on — text
    never rides a shuffle here either."""
    from exon_duckdb_spark.operators.dedup import _gram_hashes

    cg = _gram_hashes(corpus, text_col, n, id_col)
    bg = _gram_hashes(benchmark, text_col, n).distinct()
    words = bloom_words(bg, "gram_hash", m, k)
    hits = bloom_might_contain(
        cg.select("gram_hash").distinct(), words, "gram_hash", m, k
    ).where(F.col("might"))
    # exact verify ONLY on bloom-positive grams (false positives die here)
    confirmed = hits.join(bg, "gram_hash", "left_semi")
    bad = cg.join(confirmed, "gram_hash", "left_semi").select(id_col).distinct()
    return corpus.join(bad, id_col, "left_anti")


def bloom_membership_sql(
    bench_sql: str,
    bench_key: str,
    probe_sql: str,
    probe_key: str,
    m: int = BLOOM_M,
    k: int = BLOOM_K,
) -> str:
    """DuckDB twin of build+probe: (key, might 0/1). The oracle verifies
    Bloom SEMANTICS rather than the bit words: a probe bit is set iff
    some benchmark key hashes to that position, so membership is
    'all k probe positions ∈ the benchmark position set' — plain
    semi-join vocabulary, no bit aggregates."""
    barms = "\n              UNION ALL\n              ".join(
        "SELECT DISTINCT "
        + md5_int_sql(f"CONCAT('bloom{i}:', CAST({bench_key} AS VARCHAR))")
        + f" % {m} AS pos FROM {bench_sql} WHERE {bench_key} IS NOT NULL"
        for i in range(k)
    )
    parms = "\n              UNION ALL\n              ".join(
        f"SELECT key, "
        + md5_int_sql("CONCAT('bloom" + str(i) + ":', CAST(key AS VARCHAR))")
        + f" % {m} AS pos FROM probekeys"
        for i in range(k)
    )
    return f"""
        WITH probekeys AS (SELECT {probe_key} AS key FROM {probe_sql}
                           WHERE {probe_key} IS NOT NULL),
        bpos AS (
          SELECT DISTINCT pos FROM (
              {barms}
          )
        ),
        ppos AS (
              {parms}
        )
        SELECT key,
               MIN(CASE WHEN pos IN (SELECT pos FROM bpos)
                        THEN 1 ELSE 0 END) AS might
        FROM ppos GROUP BY key
    """


def bloom_fill_sql(
    bench_sql: str, bench_key: str, m: int = BLOOM_M, k: int = BLOOM_K
) -> str:
    """DuckDB twin of the filter's popcount: set bits == distinct
    positions of the benchmark keys."""
    arms = "\n          UNION ALL\n          ".join(
        "SELECT "
        + md5_int_sql(f"CONCAT('bloom{i}:', CAST({bench_key} AS VARCHAR))")
        + f" % {m} AS pos FROM {bench_sql} WHERE {bench_key} IS NOT NULL"
        for i in range(k)
    )
    return f"SELECT COUNT(DISTINCT pos) AS set_bits FROM (\n          {arms}\n        )"


def bloom_merge(words_a: DataFrame, words_b: DataFrame) -> DataFrame:
    """OR-merge two Bloom word tables built with the same (m, k) — the
    union filter, still m/64 rows. This is what makes the filter an
    INCREMENTAL artifact: fold each day's batch in without touching
    yesterday's corpus."""
    return (
        words_a.unionByName(words_b)
        .groupBy("word_idx")
        .agg(F.bit_or(F.col("word")).alias("word"))
    )


def bloom_paragraph_filter(
    df: DataFrame,
    words: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = "\n",
    m: int = BLOOM_M,
    k: int = BLOOM_K,
    intra_batch: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """Dolma-style INCREMENTAL paragraph dedup: drop every paragraph of
    today's batch whose content is Bloom-positive in the PRIOR-corpus
    filter ``words``, and return ``(cleaned_docs, updated_words)`` with
    today's surviving paragraphs folded in.

    This is the accepted-false-positive production mode: a bloom-positive
    paragraph is deleted without exact verification (fp rate set by m/k —
    Dolma's trade), so the prior corpus itself never loads; the exact
    batch-global twin is :func:`~exon_duckdb_spark.operators.dedup.
    paragraph_dedup`. Misses are impossible, so every true duplicate
    dies. Within the batch itself duplicates are NOT collapsed by
    default (the returned filter dedups them against TOMORROW — Dolma's
    exact behavior); ``intra_batch=True`` additionally keeps only the
    FIRST in-batch occurrence of each surviving paragraph, ordered by
    (doc id, position) — the same winner rule as
    :func:`~exon_duckdb_spark.operators.dedup.paragraph_dedup`, as one
    window over the already-computed 60-bit hashes instead of a second
    full operator pass.

    Scale: paragraphs hash map-side; the filter broadcasts both ways;
    reassembly is the one id-keyed shuffle. The bloom-positive set is
    anti-joined on the paragraphs' 60-bit md5 hashes, not their text —
    the positive set scales with the batch's duplicate volume (unlike
    the constant-size word table), so the join payload must be 8 bytes
    per paragraph, not the paragraph itself; a hash collision deletes a
    paragraph this mode already accepts losing (the Bloom probe itself
    is unverified-false-positive by contract, at a ~2^-60 rate the
    filter's fp rate dwarfs). No broadcast hint: AQE broadcasts while
    the set is small and falls back to a shuffle join past the
    threshold instead of failing the driver. Returns docs
    as ``(id, clean_text, n_removed)`` (the boilerplate-removal
    contract)."""
    paras = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), sep)).alias("_pos", "_para"),
    ).withColumn("_ph", md5_int(F.col("_para")))
    flags = bloom_might_contain(
        paras.select(F.col("_para")).distinct(), words, "_para", m, k
    )
    dup = flags.where(F.col("might")).select(md5_int(F.col("_para")).alias("_ph"))
    kept = paras.join(dup, "_ph", "left_anti")
    if intra_batch:
        # first-occurrence winner per (hash, text) — text disambiguates
        # 60-bit collisions for free since it already rides this shuffle
        w = Window.partitionBy(F.col("_ph"), F.col("_para")).orderBy(
            F.col(id_col), F.col("_pos")
        )
        kept = (
            kept.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .drop("_rn")
        )
    clean = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("_pos", "_para"))),
                lambda s: s["_para"],
            ),
            sep,
        ).alias("clean_text"),
        F.count("*").alias("_n_kept"),
    )
    totals = df.select(
        F.col(id_col), F.size(F.split(F.col(text_col), sep)).alias("_n")
    )
    out = totals.join(clean, id_col, "left").select(
        F.col(id_col),
        F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
        (F.col("_n") - F.coalesce(F.col("_n_kept"), F.lit(0)))
        .cast("int")
        .alias("n_removed"),
    )
    new_words = bloom_merge(
        words, bloom_words(kept.select(F.col("_para")), "_para", m, k)
    )
    return out, new_words
