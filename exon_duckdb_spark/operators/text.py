"""Text-analysis operators for large-scale training-data pipelines.

Everything here is a per-row native Column expression (whole-stage codegen,
zero shuffle) — at 100 TB these run as a map-only stage over the corpus.
Tokenization is single-space split to match the corpus format; swap the
delimiter regex for messier corpora.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from exon_duckdb_spark.operators.hashing import md5_int

__all__ = [
    "tokens",
    "token_count",
    "bpe_tokens",
    "bpe_token_count",
    "bpe_train",
    "bpe_apply",
    "text_stats",
    "normalize_text",
    "language_id",
    "doc_fingerprint",
    "hash_sample",
    "temperature_mix",
    "cluster_topics",
    "top_ngrams",
    "pack_sequences",
    "chunk_documents",
    "tfidf_top_terms",
    "LANG_MARKERS",
    "STOPWORDS",
]

SAMPLE_BUCKETS = 1_000_000


def hash_sample(
    df: DataFrame,
    fraction: float | dict[str, float],
    key_col: str = "doc_id",
    strata_col: str | None = None,
    salt: str = "sample",
) -> DataFrame:
    """Deterministic hash-based sampling — the reproducible alternative to
    ``df.sample``/``sampleBy`` for training-data pipelines.

    Keeps a row iff md5(salt ':' key) mod 1e6 < fraction·1e6. The subset is
    a pure function of (key, salt): re-runs, retries and different cluster
    sizes all pick the SAME rows (rand()-based sampling does not survive
    task retries), supersets nest across fractions (a 1% sample is a subset
    of the 10% sample), and the filter is a map-only codegen expression —
    no shuffle, no state. ``fraction`` may be a per-stratum dict keyed by
    ``strata_col`` values (language up/down-sampling); strata missing from
    the dict are dropped.
    """
    import math

    def micro(f: float) -> int:
        # half-up micro rounding, the same cross-engine convention
        # temperature_mix documents: int() truncation would drop the
        # boundary bucket whenever fraction·1e6 lands a hair under an
        # integer in float64 (0.29 → 289999.99999999994 → 289999)
        return int(math.floor(f * SAMPLE_BUCKETS + 0.5))

    bucket = md5_int(
        F.concat(F.lit(salt), F.lit(":"), F.col(key_col).cast("string"))
    ) % SAMPLE_BUCKETS
    if isinstance(fraction, dict):
        if strata_col is None:
            raise ValueError("per-stratum fractions require strata_col")
        thresholds = F.create_map(
            *[F.lit(x) for kv in fraction.items() for x in (kv[0], micro(kv[1]))]
        )
        limit = thresholds[F.col(strata_col)]
        return df.where(limit.isNotNull() & (bucket < limit))
    return df.where(bucket < micro(fraction))

def weighted_sample(
    df: DataFrame,
    k: int,
    weight_col: str,
    id_col: str = "doc_id",
    salt: str = "wsample",
) -> DataFrame:
    """Deterministic weighted k-sample WITHOUT replacement (Efraimidis &
    Spirakis 2006, algorithm A-ES): row i draws u_i = (md5(salt ':' id)+1)
    / (2^60+1) ∈ (0, 1] and scores key_i = ln(u_i)/w_i (the log form of
    u^(1/w); keys are ≤ 0 and the k LARGEST win) — inclusion probabilities
    match sequential weighted draws without replacement, and the sample is
    a pure function of (ids, weights, salt): identical across re-runs,
    task retries, partitionings, and engines, where ``df.sample``'s
    rand() is none of those. Use for quality-weighted corpus subsetting
    ("sample 1M docs ∝ quality score"); :func:`hash_sample` keeps a
    FRACTION per stratum, this targets an exact k.

    Scale: the key is map-only codegen; the top-k plans
    TakeOrderedAndProject (per-partition partial top-k — k rows per
    partition cross the wire, the corpus never shuffles).

    Cross-engine replay: the ranking uses ``stable_round(key, 12)`` with
    an id tiebreak — libm ``ln()`` may differ in the last ulp between
    JVM and DuckDB, which 1e-12 rounding absorbs, while adjacent key
    gaps (~1/n for any realistic corpus) dwarf 1e-12 so the top-k
    boundary decision replays exactly. Rows with NULL or non-positive
    weight are dropped (zero weight cannot be drawn; negative is
    undefined). Returns the winners with all of ``df``'s columns.
    """
    from exon_duckdb_spark.operators.numeric import stable_round

    hv = md5_int(
        F.concat(F.lit(salt), F.lit(":"), F.col(id_col).cast("string"))
    )
    u = (hv + F.lit(1)).cast("double") / F.lit(float((1 << 60) + 1))
    key = stable_round(F.ln(u) / F.col(weight_col).cast("double"), 12)
    return (
        df.where(F.col(weight_col).isNotNull() & (F.col(weight_col) > 0))
        .withColumn("_wk", key)
        .orderBy(F.col("_wk").desc(), F.col(id_col).asc())
        .limit(int(k))
        .drop("_wk")
    )


def temperature_mix(
    df: DataFrame,
    group_col: str = "source",
    key_col: str = "doc_id",
    tau: float = 0.7,
    budget_frac: float = 0.5,
    salt: str = "tmix",
) -> DataFrame:
    """Temperature-flattened mixture sampling — the multilingual-LM data
    recipe (exponential smoothing in mBERT; Conneau et al. 2020 XLM-R
    §3.1): group ``g`` with corpus share ``p_g`` is sampled with
    probability ∝ ``p_g^tau``. ``tau < 1`` flattens the mix (upsamples
    tail groups, downsamples dominant ones); ``tau = 1`` is proportional;
    ``tau = 0`` is uniform across groups. ``budget_frac`` sets the total
    kept fraction; per-group rates cap at 1 (this operator samples, it
    does not replicate rows).

    Shape: ONE tiny group-count aggregate collected to the driver (index
    metadata — the group space is sources/languages, not rows); the keep
    decision is the same md5-bucket filter as :func:`hash_sample` — map
    only, deterministic under retries, nesting across budgets. Rates are
    embedded as INTEGER micro-thresholds computed with floor(x + 0.5)
    (cross-engine bit-parity: a SQL oracle recomputing pow() can differ in
    the last ulp, which the half-up micro rounding absorbs).
    """
    counts = {
        r[group_col]: r["n"]
        for r in df.groupBy(group_col).agg(F.count("*").alias("n")).collect()
        # a NULL group can't key a literal map; rows with a NULL group fall
        # out through the limit.isNotNull() filter (same convention as
        # hash_sample's missing-strata behavior)
        if r[group_col] is not None
    }
    total = sum(counts.values())
    if not total:
        return df.where(F.lit(False))
    weights = {g: (n / total) ** tau for g, n in counts.items()}
    # sum in sorted group-key order: collect() row order is
    # partition-order-nondeterministic, and a different float summation
    # order could flip a keep threshold that lands exactly on a 0.5-micro
    # rounding boundary across runs (or vs the oracle's fixed order)
    z = sum(weights[g] for g in sorted(weights, key=str))
    import math

    micro = {
        g: int(
            math.floor(
                min(1.0, budget_frac * total * (weights[g] / z) / n) * SAMPLE_BUCKETS
                + 0.5
            )
        )
        for g, n in counts.items()
    }
    bucket = md5_int(
        F.concat(F.lit(salt), F.lit(":"), F.col(key_col).cast("string"))
    ) % SAMPLE_BUCKETS
    thresholds = F.create_map(
        *[F.lit(x) for kv in micro.items() for x in kv]
    )
    limit = thresholds[F.col(group_col)]
    return df.where(limit.isNotNull() & (bucket < limit))


def cluster_topics(
    docs: DataFrame,
    emb: DataFrame,
    nlist: int = 8,
    top_terms: int = 5,
    text_col: str = "text",
    doc_id_col: str = "doc_id",
    vec_col: str = "embedding",
    vec_id_col: str = "vec_id",
    cents: list | None = None,
) -> DataFrame:
    """Cluster topic report — the curation step behind SemDeDup-style
    pipelines: coarse-cluster the embedding space, then describe each
    cluster by its top TF-IDF terms (each CLUSTER is one "document":
    tf = term count within the cluster, idf = ln(nlist / clusters
    containing the term) — a term present in every cluster scores exactly
    0, which drops stopwords without a list).

    Assignment is the SAME deterministic quantizer as the IVF / SemDeDup
    family (seed = nlist smallest-id vectors, cosine rounded to 6 dp, ties
    to the smaller cid; pass ``cents`` from ``kmeans_refine`` for a trained
    quantizer), so one index serves retrieval, dedup and inspection.

    Shape: map-only Arrow assignment (quantizer broadcast in the UDF
    closure) + an id-keyed join to attach texts + ONE (cid, term) count
    shuffle with partial aggregation; the rank windows run over
    nlist × |vocab-per-cluster| rows — report-sized, not corpus-sized.
    Returns (cid, term, n, score, rank ≤ top_terms).
    """
    from exon_duckdb_spark.operators.similarity import (
        _numpy_assigners,
        _seed_centroids,
    )
    from pyspark.sql import Window

    if cents is None:
        cents = _seed_centroids(emb, nlist, vec_col, vec_id_col)
    assign_cid, _ = _numpy_assigners(cents, 1)
    assigned = emb.select(
        F.col(vec_id_col).alias(doc_id_col), assign_cid(F.col(vec_col)).alias("cid")
    )
    cnt = (
        docs.join(assigned, doc_id_col)
        .select("cid", F.explode(tokens(text_col)).alias("term"))
        .groupBy("cid", "term")
        .agg(F.count("*").alias("n"))
    )
    dfreq = cnt.groupBy("term").agg(F.count("*").alias("_df"))
    score = F.round(F.col("n") * F.log(F.lit(float(nlist)) / F.col("_df")), 6)
    scored = cnt.join(dfreq, "term").select("cid", "term", "n", score.alias("score"))
    w = Window.partitionBy("cid").orderBy(F.col("score").desc(), F.col("term").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= top_terms)
    )


# Small deterministic English-ish stopword list used for quality scoring.
STOPWORDS = ["the", "a", "an", "and", "or", "of", "to", "in", "is", "it"]

# Marker-word lists for the n-gram/marker language-ID heuristic. The corpus
# is synthetic, so these are chosen to be deterministic rather than
# linguistically deep; the operator shape (score per language from marker
# hits, argmax with a fixed tie order) is the real deliverable.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "with", "fast", "key"],
    "de": ["der", "die", "und", "nicht", "mit"],
    "es": ["el", "la", "los", "con", "por"],
    "zh": ["shi", "bu", "wo", "de", "le"],
}


def tokens(text: Column | str) -> Column:
    t = F.col(text) if isinstance(text, str) else text
    return F.split(t, " ")


def token_count(text: Column | str) -> Column:
    """Whitespace token count (BPE-ish proxy: add punctuation splits for
    real corpora)."""
    return F.size(tokens(text))


# BPE-style pre-tokenizer: letter runs, digit runs, or single
# non-alphanumeric marks — the usual first pass before merge rules. Kept to
# character classes shared by Java regex (Spark) and RE2 (DuckDB) so an SQL
# oracle reproduces it byte-for-byte.
BPE_TOKEN_RE = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]"


def bpe_tokens(text: Column | str) -> Column:
    t = F.col(text) if isinstance(text, str) else text
    return F.regexp_extract_all(t, F.lit(BPE_TOKEN_RE), 0)


def bpe_token_count(text: Column | str) -> Column:
    """Sub-word-ish token count from the BPE pre-tokenizer regex — the
    budget estimator a training pipeline runs over every document
    (map-only, codegen)."""
    return F.size(bpe_tokens(text))


def normalize_text(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Canonical text normalization — the stage every dedup/quality
    pipeline runs FIRST so that byte-different renderings of the same
    text ('Cafe\\u0301' decomposed vs 'Café' composed, case variants,
    ragged whitespace) hash/shingle identically downstream: Unicode NFC
    composition, lowercase, ASCII-whitespace runs collapsed to one space,
    ends trimmed. Returns (id, norm_text).

    Map-only. NFC runs as an Arrow-batched UDF (Spark has no NFC builtin;
    Python's unicodedata and DuckDB's utf8proc both implement the Unicode
    normalization standard, so outputs are byte-identical); lowercase and
    the whitespace collapse stay JVM-side. Operation order is pinned —
    NFC, then lower, then collapse — and the SQL oracle applies the same
    composition (nfc_normalize → lower → regexp_replace → trim).
    """
    from pyspark.sql.types import StringType

    @F.pandas_udf(StringType())
    def _nfc(s):
        import unicodedata

        return s.map(
            lambda x: unicodedata.normalize("NFC", x) if x is not None else None
        )

    normd = F.trim(
        F.regexp_replace(F.lower(_nfc(F.col(text_col))), "[ \\t\\n\\r]+", " ")
    )
    return df.select(F.col(id_col), normd.alias("norm_text"))


def text_stats(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-document quality stats: token count, char count, average token
    length, stopword ratio, alpha ratio. Map-only; no shuffle. Zero-length
    denominators yield NULL ratios on BOTH engines (Spark non-ANSI division
    and DuckDB's default x/0 are each NULL), so empty docs stay
    oracle-consistent without an explicit guard."""
    toks = tokens(text_col)
    t = F.col(text_col)
    n_tokens = F.size(toks)
    stop_arr = F.array(*[F.lit(w) for w in STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda w: F.array_contains(stop_arr, w)))
    total_tok_chars = F.aggregate(toks, F.lit(0).cast("long"), lambda acc, w: acc + F.length(w))
    return df.select(
        F.col(id_col),
        n_tokens.alias("n_tokens"),
        F.length(t).alias("n_chars"),
        F.round(total_tok_chars / n_tokens, 6).alias("avg_token_len"),
        F.round(n_stop / n_tokens, 6).alias("stopword_ratio"),
        F.round(
            F.length(F.regexp_replace(t, "[^a-zA-Z]", "")) / F.length(t), 6
        ).alias("alpha_ratio"),
    )


def language_id(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Marker-word language ID: score each language by marker hits, take the
    argmax (fixed tie order en > de > es > zh). Deterministic and map-only."""
    toks = tokens(text_col)
    scores = {}
    for lang, markers in LANG_MARKERS.items():
        marr = F.array(*[F.lit(w) for w in markers])
        scores[lang] = F.size(F.filter(toks, lambda w: F.array_contains(marr, w)))
    langs = list(LANG_MARKERS)
    best = F.lit(langs[0])
    best_score = scores[langs[0]]
    for lang in langs[1:]:
        cond = scores[lang] > best_score
        best = F.when(cond, F.lit(lang)).otherwise(best)
        best_score = F.when(cond, scores[lang]).otherwise(best_score)
    sel = [F.col(id_col), best.alias("predicted_lang")]
    sel += [scores[lang].alias(f"score_{lang}") for lang in langs]
    return df.select(*sel)


def top_ngrams(
    df: DataFrame,
    n: int = 2,
    k: int = 100,
    text_col: str = "text",
) -> DataFrame:
    """Corpus-level most-frequent word ``n``-grams (contamination screens,
    boilerplate discovery, vocabulary audits).

    Classic two-phase aggregate: explode grams map-side, hash-aggregate with
    partial (map-side combine) before the shuffle, then a global top-k that
    Spark plans as TakeOrderedAndProject — only ``k`` rows per partition
    reach the merge. Ties break on the gram string so results are
    deterministic across partitionings.
    """
    from exon_duckdb_spark.operators.quality import ngram_rows

    toksed = df.select(tokens(text_col).alias("_toks"))
    return (
        ngram_rows(toksed, "_toks", n)
        .groupBy("gram")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("gram").asc())
        .limit(k)
    )


def pack_sequences(
    df: DataFrame,
    seq_len: int = 2048,
    text_col: str = "text",
    id_col: str = "doc_id",
    stream_col: str = "source",
) -> DataFrame:
    """Training sequence packing: concatenate documents per stream in id
    order and chop the token stream into fixed ``seq_len`` windows — the
    standard pretraining batch layout. Returns each document's token count,
    its starting offset in the stream, and ``pack_id`` (which sequence its
    first token lands in).

    Scale design: ONE window per stream (sort-shuffle keyed by
    ``stream_col``), so packing parallelizes across streams; a global
    single-stream packing of 100 TB would serialize — shard the corpus
    into streams (sources, hash buckets) first, as real pipelines do.
    Deterministic given ids, so re-runs produce identical batches.
    """
    from pyspark.sql import Window

    n = token_count(text_col)
    d = df.select(F.col(id_col), F.col(stream_col), n.alias("n_tokens"))
    w = (
        Window.partitionBy(stream_col)
        .orderBy(F.col(id_col).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    offset = (F.sum("n_tokens").over(w) - F.col("n_tokens")).cast("bigint")
    return d.select(
        F.col(id_col),
        F.col(stream_col),
        F.col("n_tokens"),
        offset.alias("tok_offset"),
        F.floor(offset / seq_len).cast("bigint").alias("pack_id"),
    )


def chunk_documents(
    df: DataFrame,
    chunk_size: int = 128,
    overlap: int = 32,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Split each document into overlapping token-window chunks — the
    context-preparation step for RAG indexing and fixed-window training.

    Chunk ``i`` covers tokens ``[i·stride, i·stride + chunk_size)`` with
    ``stride = chunk_size - overlap``; the last chunk may be shorter but
    every token is covered, and a document shorter than ``chunk_size``
    yields exactly one chunk. Map-only: tokenize, compute the chunk count
    per row, and ``explode`` a ``sequence`` — a generator, not a shuffle,
    so at 100 TB this stays a single pass over the corpus with output
    ~(1 + overlap/stride)× the input.

    Returns (id_col, chunk_id, tok_start, chunk_text, n_chunk_tokens),
    deterministic given ids.
    """
    if not 0 <= overlap < chunk_size:
        raise ValueError("require 0 <= overlap < chunk_size")
    stride = chunk_size - overlap
    toks = tokens(text_col)
    n = F.size(F.col("_toks"))
    # max(1, ceil((n - chunk_size)/stride) + 1): smallest count whose last
    # chunk reaches the end; n >= 1 always (split('') -> ['']), so the
    # sequence bound never goes negative (Spark's sequence(1, 0) would
    # DESCEND, not return empty).
    n_chunks = F.greatest(
        F.lit(1),
        (F.ceil((n - chunk_size).cast("double") / stride) + 1).cast("int"),
    )
    piece = F.slice(F.col("_toks"), F.col("chunk_id") * stride + 1, chunk_size)
    return (
        df.select(F.col(id_col), toks.alias("_toks"))
        .select(
            F.col(id_col),
            F.col("_toks"),
            F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_id"),
        )
        .select(
            F.col(id_col),
            F.col("chunk_id"),
            (F.col("chunk_id").cast("bigint") * stride).alias("tok_start"),
            F.array_join(piece, " ").alias("chunk_text"),
            F.size(piece).alias("n_chunk_tokens"),
        )
    )


_URL_TRACKING = "(utm_[^=&]*|gclid|fbclid|ref)(=[^&]*)?"


def url_normalize(url, strip_www: bool = True) -> Column:
    """Canonicalize a URL for crawl-pipeline dedup — the URL-first dedup
    pass Common-Crawl-scale pipelines run before any content hashing:
    lowercase the scheme and host (ONLY — path and query stay
    case-sensitive), drop the fragment, strip default ports (:80 for
    http, :443 for https), optionally fold a leading ``www.``, drop
    tracking parameters (utm_*, gclid, fbclid, ref), sort the surviving
    query params for a canonical order, and trim redundant trailing
    slashes off non-root paths. Inputs without a ``scheme://`` prefix
    pass through trimmed and otherwise untouched (not-a-URL is the
    caller's concern, not silently mangled data).

    Pure Column expression chain — regexp character classes shared by
    Java regex (Spark) and RE2 (DuckDB), no lookaround/backrefs — so the
    SQL twin (:func:`url_normalize_sql`) replays byte-for-byte and the
    whole pass stays inside whole-stage codegen except the param
    filter/sort HOFs. Percent-encoding is preserved as-is (decoding
    unreserved escapes is engine-divergent; canonical-escape folding is
    a documented non-goal).
    """
    u = F.trim(F.col(url) if isinstance(url, str) else url)
    scheme = F.lower(F.regexp_extract(u, r"^([A-Za-z][A-Za-z0-9+.\-]*)://", 1))
    rest = F.regexp_replace(u, r"^[A-Za-z][A-Za-z0-9+.\-]*://", "")
    auth = F.lower(F.regexp_extract(rest, r"^([^/?#]*)", 1))
    if strip_www:
        auth = F.regexp_replace(auth, r"^www\.", "")
    auth = (
        F.when(scheme == "http", F.regexp_replace(auth, ":80$", ""))
        .when(scheme == "https", F.regexp_replace(auth, ":443$", ""))
        .otherwise(auth)
    )
    # everything after the authority, fragment dropped
    pq = F.regexp_replace(
        F.regexp_extract(rest, r"^[^/?#]*(.*)$", 1), r"#.*$", ""
    )
    path = F.regexp_extract(pq, r"^([^?]*)", 1)
    path = F.regexp_replace(path, "/+$", "")
    path = F.when(path == "", F.lit("/")).otherwise(path)
    query = F.regexp_extract(pq, r"\?(.*)$", 1)
    params = F.array_sort(
        F.filter(
            F.split(query, "&"),
            lambda p: (p != "") & ~p.rlike(f"^{_URL_TRACKING}$"),
        )
    )
    qjoin = F.concat_ws("&", params)
    rebuilt = F.concat(
        scheme,
        F.lit("://"),
        auth,
        path,
        F.when(qjoin == "", F.lit("")).otherwise(F.concat(F.lit("?"), qjoin)),
    )
    return F.when(scheme == "", u).otherwise(rebuilt)


def url_host(url, strip_www: bool = True) -> Column:
    """The lowercased host (port stripped) of a URL — the grouping key for
    per-domain caps (:func:`per_source_cap` with the host as the source
    column) and domain-level crawl stats. '' for non-URLs."""
    u = F.trim(F.col(url) if isinstance(url, str) else url)
    rest = F.regexp_replace(u, r"^[A-Za-z][A-Za-z0-9+.\-]*://", "")
    has = F.regexp_extract(u, r"^([A-Za-z][A-Za-z0-9+.\-]*)://", 1) != ""
    auth = F.lower(F.regexp_extract(rest, r"^([^/?#]*)", 1))
    if strip_www:
        auth = F.regexp_replace(auth, r"^www\.", "")
    host = F.regexp_replace(auth, r":[0-9]+$", "")
    return F.when(has, host).otherwise(F.lit(""))


def url_normalize_sql(expr: str, strip_www: bool = True) -> str:
    """DuckDB twin of :func:`url_normalize` over the SQL expression
    ``expr`` — same regex steps (RE2-safe patterns), same param
    filter/sort. DuckDB's regexp_replace is first-match-only by default,
    which coincides with Spark's replace-all for every pattern used here
    (each is anchored or consumes to end-of-string)."""
    www = r"regexp_replace(%s, '^www\.', '')" if strip_www else "%s"
    u = f"trim({expr})"
    scheme = f"lower(regexp_extract({u}, '^([A-Za-z][A-Za-z0-9+.\\-]*)://', 1))"
    rest = f"regexp_replace({u}, '^[A-Za-z][A-Za-z0-9+.\\-]*://', '')"
    auth0 = www % f"lower(regexp_extract({rest}, '^([^/?#]*)', 1))"
    auth = (
        f"CASE WHEN {scheme} = 'http' THEN regexp_replace({auth0}, ':80$', '')"
        f" WHEN {scheme} = 'https' THEN regexp_replace({auth0}, ':443$', '')"
        f" ELSE {auth0} END"
    )
    pq = (
        f"regexp_replace(regexp_extract({rest}, '^[^/?#]*(.*)$', 1),"
        f" '#.*$', '')"
    )
    path0 = f"regexp_replace(regexp_extract({pq}, '^([^?]*)', 1), '/+$', '')"
    path = f"CASE WHEN {path0} = '' THEN '/' ELSE {path0} END"
    query = f"regexp_extract({pq}, '\\?(.*)$', 1)"
    # coalesce: DuckDB array_to_string([]) is NULL where Spark's
    # concat_ws is '' (the q80 oracle's documented asymmetry)
    qjoin = (
        f"coalesce(array_to_string(list_sort(list_filter("
        f"string_split({query}, '&'),"
        f" p -> p <> '' AND NOT regexp_matches(p,"
        f" '^{_URL_TRACKING}$'))), '&'), '')"
    )
    rebuilt = (
        f"concat({scheme}, '://', {auth}, {path},"
        f" CASE WHEN {qjoin} = '' THEN '' ELSE concat('?', {qjoin}) END)"
    )
    return f"CASE WHEN {scheme} = '' THEN {u} ELSE {rebuilt} END"


def url_host_sql(expr: str, strip_www: bool = True) -> str:
    """DuckDB twin of :func:`url_host`."""
    www = r"regexp_replace(%s, '^www\.', '')" if strip_www else "%s"
    u = f"trim({expr})"
    scheme = f"regexp_extract({u}, '^([A-Za-z][A-Za-z0-9+.\\-]*)://', 1)"
    rest = f"regexp_replace({u}, '^[A-Za-z][A-Za-z0-9+.\\-]*://', '')"
    auth = www % f"lower(regexp_extract({rest}, '^([^/?#]*)', 1))"
    host = f"regexp_replace({auth}, ':[0-9]+$', '')"
    return f"CASE WHEN {scheme} = '' THEN '' ELSE {host} END"


def cdc_chunks(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 8,
    avg_size: int = 64,
    max_size: int = 128,
) -> DataFrame:
    """Content-defined chunking (Rabin-style rolling hash): chunk
    boundaries land where the content's local hash satisfies a condition,
    not at fixed offsets — so an insertion early in a document shifts
    only the chunk it lands in, and every later chunk re-aligns
    byte-identically. That boundary stability is why dedup-oriented
    pipelines (and storage systems — LBFS, restic, casync) chunk this
    way: content-addressed chunk hashes survive edits, where fixed-window
    chunking (:func:`chunk_documents`) shifts every downstream chunk.

    Mechanics: h(i) = Σ_j code(c[i+j])·31^(window−1−j) over each
    ``window``-char sliding window (codes are Unicode code points, no
    intermediate modulus — 8 terms of ≤ 31^7·0x10FFFF fit int64); a cut
    lands after the window whenever ``h % avg_size == avg_size − 1``
    (expected chunk length ≈ avg_size with the geometric tail CDC
    implies), and any span longer than ``max_size`` splits at fixed
    ``max_size`` steps — a stateless rule, computed per span, so the
    whole operator stays a single map pass (classic FastCDC-style MIN
    enforcement is a sequential scan per doc; the max-split keeps worst
    cases bounded without giving up SQL replayability). Everything is
    JVM higher-order functions over attribute-bound arrays (no Python
    UDF, no shuffle); at 100 TB this is one scan with output = input
    text + ~16 B/chunk metadata.

    Returns (id_col, chunk_id, start, n_chars, chunk_text); `start` is a
    0-based character offset, chunk_id is per-document dense from 0.

    Known artifact: a zero-length document emits one phantom
    chunk ``(start=0, n_chars=1, chunk_text='')`` — ``split('','')``
    yields ``['']`` and ``ascii('')`` is 0, so the char-code array has
    one element the text does not. For that row only, ``n_chars`` does
    not equal ``len(chunk_text)`` and chunk/char totals over corpora with
    empty docs are inflated by one unit per empty doc. The behavior is
    cross-engine consistent (the DuckDB twin replays it bit-for-bit) and
    pinned by tests/test_cdc.py::test_edges; callers that care should
    filter ``length(text) > 0`` before chunking.
    """
    if window < 1 or avg_size < 2 or max_size < 1:
        raise ValueError("require window >= 1, avg_size >= 2, max_size >= 1")
    # interpreted-HOF-bound (the rolling hash doesn't codegen), so an
    # under-split input hands the whole corpus to one core — fan out on
    # the usual guard (no-op on any real multi-split layout)
    from exon_duckdb_spark.operators.relational import ensure_parallelism

    df = ensure_parallelism(df, id_col)
    cd = F.col("_cd")
    n = F.size(cd)
    d = df.select(
        F.col(id_col),
        F.col(text_col).alias("_t"),
        F.transform(F.split(F.col(text_col), ""), lambda c: F.ascii(c)).alias(
            "_cd"
        ),
    )
    # candidate window positions 0..n-window (guarded: sequence(0, neg)
    # DESCENDS in Spark). Each lambda binds to the _cd ATTRIBUTE — the
    # tfidf lesson: capturing a non-attribute expression re-evaluates it
    # per element.
    idx = F.when(
        n >= window, F.sequence(F.lit(0), n - window)
    ).otherwise(F.array().cast("array<integer>"))
    pw = [31 ** (window - 1 - j) for j in range(window)]

    def h(i):
        expr = F.lit(0).cast("long")
        for j in range(window):
            expr = expr + F.get(cd, i + j).cast("long") * F.lit(pw[j])
        return expr

    d = d.select(
        F.col(id_col),
        F.col("_t"),
        F.col("_cd"),
        F.filter(
            idx, lambda i: (h(i) % avg_size) == F.lit(avg_size - 1)
        ).alias("_bp"),
    )
    # cut list: 0, every boundary's window end strictly inside the text, n
    cuts = F.concat(
        F.array(F.lit(0)),
        F.transform(
            F.filter(F.col("_bp"), lambda i: (i + window) < F.size(F.col("_cd"))),
            lambda i: i + window,
        ),
        F.array(F.size(F.col("_cd"))),
    )
    d = d.select(F.col(id_col), F.col("_t"), cuts.alias("_cut"))
    cut = F.col("_cut")
    m = F.size(cut)
    spanidx = F.when(
        m >= 2, F.sequence(F.lit(0), m - 2)
    ).otherwise(F.array().cast("array<integer>"))
    spans = F.flatten(
        F.transform(
            spanidx,
            lambda j: F.transform(
                F.sequence(
                    F.get(cut, j), F.get(cut, j + 1) - 1, F.lit(max_size)
                ),
                lambda s: F.struct(
                    s.cast("long").alias("start"),
                    F.least(
                        F.lit(max_size).cast("long"),
                        (F.get(cut, j + 1) - s).cast("long"),
                    ).alias("len"),
                ),
            ),
        )
    )
    # Explode a trivial INDEX sequence and get() into the carried span
    # array, instead of posexplode(_sp) directly: Generate re-evaluates
    # its generator child per emitted row, and with _sp's HOF chain
    # inlined there that measured ~0.5 s per 400-char document (~40×
    # this form, which keeps the generator O(1) and reads _sp as a
    # materialized column value).
    d = d.select(F.col(id_col), F.col("_t"), spans.alias("_sp")).select(
        F.col(id_col),
        F.col("_t"),
        F.col("_sp"),
        F.explode(
            # _sp is never empty (cuts always bracket [0, n] and spans of
            # a strictly increasing cut list are nonempty), but guard the
            # descending-sequence gotcha anyway
            F.when(
                F.size(F.col("_sp")) > 0,
                F.sequence(F.lit(0), F.size(F.col("_sp")) - 1),
            ).otherwise(F.array().cast("array<integer>"))
        ).alias("chunk_id"),
    )
    s = F.get(F.col("_sp"), F.col("chunk_id"))
    return d.select(
        F.col(id_col),
        F.col("chunk_id"),
        s.getField("start").alias("start"),
        s.getField("len").alias("n_chars"),
        F.expr(
            "substr(_t, get(_sp, chunk_id).start + 1, get(_sp, chunk_id).len)"
        ).alias("chunk_text"),
    )


def cdc_chunks_sql(
    source: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 8,
    avg_size: int = 64,
    max_size: int = 128,
) -> str:
    """DuckDB twin of :func:`cdc_chunks` — identical rolling-hash, cut and
    max-split arithmetic over 1-based list/substr primitives."""
    pw = [31 ** (window - 1 - j) for j in range(window)]
    hsum = " + ".join(
        f"CAST(cd[i + {j + 1}] AS BIGINT) * {pw[j]}" for j in range(window)
    )
    return f"""
        WITH __cdc_base AS (
          SELECT {id_col}, {text_col} AS t,
                 list_transform(string_split({text_col}, ''),
                                c -> ascii(c)) AS cd
          FROM {source}
        ),
        __cdc_cuts AS (
          SELECT {id_col}, t,
                 list_concat(list_concat(
                   [CAST(0 AS BIGINT)],
                   list_transform(
                     list_filter(
                       list_filter(generate_series(0, len(cd) - {window}),
                                   i -> ({hsum}) % {avg_size}
                                        = {avg_size - 1}),
                       i -> i + {window} < len(cd)),
                     i -> i + {window})),
                   [CAST(len(cd) AS BIGINT)]) AS cut
          FROM __cdc_base
        ),
        __cdc_spans AS (
          SELECT {id_col}, t,
                 flatten(list_transform(generate_series(1, len(cut) - 1),
                   j -> list_transform(
                          generate_series(cut[j], cut[j+1] - 1, {max_size}),
                          s -> {{'start': s,
                                 'len': least({max_size}, cut[j+1] - s)}})))
                   AS sp
          FROM __cdc_cuts
        )
        SELECT {id_col}, CAST(j - 1 AS INTEGER) AS chunk_id,
               sp[j].start AS start, sp[j].len AS n_chars,
               substr(t, CAST(sp[j].start AS INTEGER) + 1,
                      CAST(sp[j].len AS INTEGER)) AS chunk_text
        FROM (SELECT {id_col}, t, sp,
                     unnest(generate_series(1, len(sp))) AS j
              FROM __cdc_spans)
    """


def tfidf_top_terms(
    df: DataFrame,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-``k`` TF-IDF terms per document — keyword extraction for corpus
    exploration, topic tagging, and retrieval indexing.

    tfidf = tf · ln(N / df_docs), rounded to 6 dp BEFORE ranking (ties
    break on the term string) so any engine reproduces the ranking.

    Scale design: term frequencies are computed MAP-SIDE per document —
    sort the token array, run-length encode it with higher-order
    functions, explode (term, tf) entries — so the corpus-width
    (doc, term) pre-aggregation shuffle a naive explode+groupBy pays is
    gone entirely (a doc's tokens live in one row; no cross-partition
    merge is ever needed). The explode+groupBy form ran 4.3× slower at
    10× data: its map-side combine already collapsed duplicates, but still
    shipped every (doc, term, tf) row through an exchange just to merge
    nothing. Document frequencies remain a vocab-sized aggregate joined
    back ON THE TERM KEY (vocab ≪ corpus, but too big to broadcast at
    100 TB — Catalyst/AQE picks broadcast when it fits); the corpus-size
    scalar N rides along as a broadcast crossJoin; the one remaining
    corpus-width shuffle is the per-doc top-k window.
    """
    from pyspark.sql import Window

    # each stage lands in its own projection so the lambdas below bind to
    # ATTRIBUTES (_ts/_st), not to inlined expression trees — a lambda
    # that captures an outer non-attribute expression re-evaluates it per
    # element (the nested capture here would re-run array_sort O(n²)
    # times per document; measured as a 100× slowdown before the split)
    ts, st = F.col("_ts"), F.col("_st")
    d = df.select(F.col(id_col), F.array_sort(tokens(text_col)).alias("_ts"))
    idx = F.when(
        F.size(ts) > 0, F.sequence(F.lit(0), F.size(ts) - 1)
    ).otherwise(F.array().cast("array<integer>"))
    d = d.select(
        F.col(id_col),
        ts,
        F.filter(
            idx, lambda i: (i == F.lit(0)) | (F.get(ts, i) != F.get(ts, i - 1))
        ).alias("_st"),
    )
    entries = F.transform(
        st,
        lambda s, j: F.struct(
            F.get(ts, s).alias("term"),
            (F.coalesce(F.get(st, j + 1), F.size(ts)) - s)
            .cast("bigint")
            .alias("tf"),
        ),
    )
    tf = d.select(F.col(id_col), F.explode(entries).alias("_e")).select(
        F.col(id_col), F.col("_e.term").alias("term"), F.col("_e.tf").alias("tf")
    )
    dfreq = tf.groupBy("term").agg(F.count("*").cast("bigint").alias("_df"))
    n_docs = df.agg(F.count("*").cast("bigint").alias("_n"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            F.col(id_col),
            F.col("term"),
            F.col("tf"),
            F.round(F.col("tf") * F.log(F.col("_n") / F.col("_df")), 6).alias("tfidf"),
        )
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("tfidf").desc(), F.col("term").asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def doc_fingerprint(text: Column | str) -> Column:
    """Order-insensitive 64-bit document fingerprint: sum of per-token
    60-bit hashes reduced mod 1e9+7 (keeps the sum overflow-free in engines
    that trap on bigint overflow, unlike Java's wrapping semantics)."""
    toks = tokens(text)
    return F.aggregate(
        toks,
        F.lit(0).cast("long"),
        lambda acc, w: acc + md5_int(w) % 1000000007,
    )


def bpe_train(
    df: DataFrame,
    text_col: str = "text",
    num_merges: int = 8,
    marker: str = "</w>",
) -> "tuple[list[tuple[str, str, int]], DataFrame]":
    """Distributed BPE tokenizer training (Sennrich et al. 2016): learn
    ``num_merges`` merge rules from corpus word-type frequencies and
    return ``(merges, vocab)`` — ``merges`` a driver-held list of
    (left, right, weighted_count) in selection order (K entries, the
    metadata-sized artifact a tokenizer ships with, same driver-residency
    rationale as ``kmeans_refine``'s centroids), ``vocab`` a DataFrame
    (word, cnt, sym) with each word's final space-joined segmentation.

    The classic map-reduce BPE shape: the corpus is touched ONCE (word
    count, one shuffle); every merge iteration then runs on the
    vocab-sized type table — pair extraction and the weighted pair count
    are one tiny aggregation per step, and merge application is a chain
    of literal string replaces, all JVM-side (no Python UDF anywhere).
    At 100 TB the type table is millions of rows, so the K iteration
    jobs are trivial next to the single corpus scan.

    Exactness contract (what the SQL oracle replays bit-for-bit):
    words split on single spaces; a word's initial state is its
    characters space-joined plus a final ``marker`` symbol, padded with
    one space each side; each step picks the (max weighted count, then
    lexicographically smallest) adjacent symbol pair and applies it as
    ONE leftmost-non-overlapping literal replace of ``' L R '`` with
    ``' LR '`` — Python str.replace, Spark replace() and DuckDB
    replace() all share that semantics. This differs from Sennrich's
    lookaround re.sub only when a word repeats the merged pair sharing a
    boundary space (``x y x y``): the second occurrence merges on a
    later step instead of the same one. Character splitting uses
    Spark's codepoint regex; astral-plane (non-BMP) characters would
    split into surrogate halves on the JVM but not in DuckDB — the
    corpus contract is BMP text (normalize first for emoji-bearing
    corpora).

    The vocab table is persisted for the duration of training and the
    returned lazy plan (same documented cache lifecycle as the minhash
    signature frames): call ``spark.catalog.clearCache()`` when done.
    """
    if num_merges < 1:
        raise ValueError(f"num_merges must be >= 1, got {num_merges}")
    if " " in marker or not marker:
        raise ValueError(f"marker must be a non-empty space-free token, got {marker!r}")
    wc = (
        df.select(F.explode(F.split(F.col(text_col), " ")).alias("word"))
        .where(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
    )
    state = wc.select(
        "word",
        "cnt",
        F.concat(
            F.lit(" "),
            F.array_join(F.split("word", ""), " "),
            F.lit(" " + marker + " "),
        ).alias("sym"),
    ).persist()
    # adjacent-pair extraction over the padded symbol list: real symbols
    # sit at positions 2..size-1 (1 and size are the pad empties), so
    # pairs span positions 2..size-2; sequence(2, size-2) would run
    # DESCENDING for single-symbol words (Spark sequence(2,1) == [2,1]),
    # hence the size guard
    pair_expr = F.when(
        F.size("_l") >= 4,
        F.expr(
            "transform(sequence(2, size(_l) - 2),"
            " i -> concat(element_at(_l, i), ' ', element_at(_l, i + 1)))"
        ),
    ).otherwise(F.expr("array()"))
    merges: list[tuple[str, str, int]] = []
    cur = state
    for _step in range(num_merges):
        top = (
            cur.select("cnt", F.split("sym", " ").alias("_l"))
            .select("cnt", F.explode(pair_expr).alias("pair"))
            .groupBy("pair")
            .agg(F.sum("cnt").alias("c"))
            .orderBy(F.col("c").desc(), F.col("pair").asc())
            .limit(1)
            .collect()
        )
        if not top:  # corpus exhausted (every word fully merged)
            break
        pair, c = top[0]["pair"], int(top[0]["c"])
        left, right = pair.split(" ")
        merges.append((left, right, c))
        cur = cur.withColumn(
            "sym",
            F.replace(F.col("sym"), F.lit(f" {pair} "), F.lit(f" {left}{right} ")),
        )
    vocab = cur.select("word", "cnt", F.trim(F.col("sym")).alias("sym"))
    return merges, vocab


def bpe_apply(
    df: DataFrame,
    vocab: DataFrame,
    merges: "list[tuple[str, str, int]] | list[tuple[str, str]]",
    text_col: str = "text",
    id_col: str = "doc_id",
    marker: str = "</w>",
) -> DataFrame:
    """Tokenize a corpus with a trained BPE model: (id, wpos, tpos, token)
    — one row per sub-word token, positions 0-based (``wpos`` keeps the
    word's original index among the space-split tokens, so empty runs
    leave gaps rather than shifting downstream alignment).

    The scalable path is a LOOKUP, not a re-derivation: words join the
    trained ``vocab`` segmentation table (word-keyed equi-join — Spark
    broadcasts it while it is small) and only out-of-vocabulary words
    fall back to replaying the merge chain, which is itself a literal
    K-replace expression chain — JVM-side, no Python UDF, exactly the
    semantics :func:`bpe_train` trained with."""
    dw = (
        df.select(
            F.col(id_col),
            F.posexplode(F.split(F.col(text_col), " ")).alias("wpos", "word"),
        )
        .where(F.col("word") != "")
    )
    joined = dw.join(vocab.select("word", "sym"), "word", "left")
    oov = F.concat(
        F.lit(" "),
        F.array_join(F.split("word", ""), " "),
        F.lit(" " + marker + " "),
    )
    for left, right, *_ in merges:
        oov = F.replace(oov, F.lit(f" {left} {right} "), F.lit(f" {left}{right} "))
    seg = F.coalesce(F.col("sym"), F.trim(oov))
    return joined.select(
        F.col(id_col),
        "wpos",
        F.posexplode(F.split(seg, " ")).alias("tpos", "token"),
    )
