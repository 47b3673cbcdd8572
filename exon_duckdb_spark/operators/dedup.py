"""Deduplication operators for large-scale training-data pipelines.

Scale design (the point of this module):

- **Exact dedup** — hash-groupBy on a 60-bit content hash, one shuffle keyed
  by the hash. At 100 TB the shuffle carries (hash, id), never the text.
- **MinHash** — signatures are computed PER ROW with higher-order functions
  (``array_min`` over ``transform``) — no explode, no shuffle, pure codegen.
  The classic explode+groupBy formulation shuffles |doc|×|words| rows;
  this one shuffles nothing.
- **LSH banding** — one shuffle keyed by (band_id, band_hash); candidate
  pairs come from an equi-join on the band key, so Spark distributes the
  work; exact Jaccard verification is again per-row (array_intersect sizes),
  no re-explosion.
- **SimHash** — per-row bit-vote aggregation, zero shuffle.

Hashes are md5-derived (operators/hashing.py) so a DuckDB oracle can
reproduce every value bit-for-bit.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from exon_duckdb_spark.operators.hashing import (
    MERSENNE31,
    md5_int,
    md5_int32,
    minhash_coeffs,
)
from exon_duckdb_spark.operators.quality import ngram_rows, word_ngrams
from exon_duckdb_spark.operators.text import tokens

__all__ = [
    "exact_dedup",
    "exact_dedup_stats",
    "minhash_signature",
    "minhash_keyed",
    "minhash_lsh_pairs",
    "simhash",
    "ngram_jaccard_pairs",
    "edit_distance_pairs",
    "embedding_dup_pairs",
    "semantic_dedup",
    "dedup_clusters",
    "near_dedup_keep_list",
    "leakage_safe_split",
    "quality_keep_list",
    "decontaminate",
    "contamination_report",
    "paragraph_dedup",
    "boilerplate_line_removal",
    "duplicated_spans",
    "remove_spans",
]


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep one representative (min id) per distinct text. Shuffles only
    (hash, id) pairs."""
    h = md5_int(F.col(text_col)).alias("content_hash")
    return (
        df.select(h, F.col(id_col))
        .groupBy("content_hash")
        .agg(F.min(id_col).alias("kept_doc_id"), F.count("*").alias("dup_count"))
    )


def exact_dedup_stats(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Duplicate-group stats: one row per duplicated content hash."""
    return exact_dedup(df, text_col, id_col).filter(F.col("dup_count") > 1)


def minhash_signature(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    shingle: int = 1,
) -> DataFrame:
    """MinHash signature columns mh_0..mh_{k-1}, computed per-row (no shuffle).

    mh_i = min over shingles s of md5_int(i || ':' || s).
    """
    # Staged projections: tokens → shingle hashes → k affine minima.
    # Catalyst's CollapseProject keeps projections separate when a non-cheap
    # expression is referenced more than once, so the split runs once per
    # row and the md5 pass once per shingle, not k times (lambda expressions
    # are excluded from subexpression elimination). A doc with fewer than
    # ``shingle`` tokens has no shingles, so its minhashes are NULL.
    toksed = df.select(F.col(id_col), tokens(text_col).alias("_toks"))
    sh = word_ngrams(F.col("_toks"), shingle)
    base = toksed.select(
        F.col(id_col), F.transform(sh, lambda w: md5_int32(w)).alias("_h")
    )
    sel: list[Column] = [F.col(id_col)]
    for i, (a, b) in enumerate(minhash_coeffs(num_hashes)):

        def affine_min(a: int = a, b: int = b) -> Column:
            return F.array_min(
                F.transform(F.col("_h"), lambda h: (F.lit(a) * h + F.lit(b)) % MERSENNE31)
            )

        sel.append(affine_min().alias(f"mh_{i}"))
    return base.select(*sel)


def minhash_keyed(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    shingle: int = 1,
    with_ws: bool = True,
    parallel: bool = True,
) -> DataFrame:
    """The shared MinHash signature frame ``(id, [wordset,] _mh)`` every
    word-shingle minhash consumer derives from: one fused Arrow pass
    (shingles + all k affine minima, :func:`_shingle_minhash_udf`).

    Exposed so a pipeline running SEVERAL signature consumers over one
    corpus — exact-verify pairs, the band-estimate screen, a persisted
    index build AND its probe batch — computes the UDF ONCE: persist the
    returned frame, slice it (``.where(...)``) per consumer, and pass it
    via the consumers' ``keyed=`` parameter. ``mh`` values are independent of ``with_ws``,
    so one ``with_ws=True`` frame serves estimate-only consumers too
    (Catalyst prunes the unused wordset column out of the cache scan).
    The caller owns persistence and lifetime. ``parallel=False`` skips
    the single-split fan-out guard — right for consumers whose UDF wall
    is orchestration-bound (see the measured note in lsh_index_rows)."""
    if parallel:
        from exon_duckdb_spark.operators.relational import ensure_parallelism

        df = ensure_parallelism(df, id_col)
    cols = [F.col(id_col)]
    keyed = df.select(
        F.col(id_col),
        _shingle_minhash_udf(shingle, num_hashes, with_ws=with_ws)(
            text_col
        ).alias("_f"),
    )
    if with_ws:
        cols.append(F.col("_f.ws").alias("wordset"))
    # stamp the signature parameters as column metadata so consumers can
    # verify compatibility (_check_keyed): a keyed frame built with a
    # different num_hashes/shingle than the consumer call would otherwise
    # silently produce wrong band keys — element_at past the _mh array
    # end yields NULL and concat_ws skips NULLs
    cols.append(F.col("_f.mh").alias(
        "_mh", metadata={"num_hashes": num_hashes, "shingle": shingle}
    ))
    return keyed.select(*cols)


def _check_keyed(
    keyed: DataFrame,
    id_col: str,
    *need: str,
    num_hashes: "int | None" = None,
    shingle: "int | None" = None,
) -> None:
    """Fail fast with a readable message when a caller-supplied
    ``keyed=`` frame is missing the columns the consumer requires —
    otherwise the mistake surfaces as an unresolved-column
    AnalysisException deep inside a join, nowhere near the cause.

    When the consumer passes its ``num_hashes``/``shingle``, they are
    compared against the parameters stamped on ``_mh``'s column metadata
    by :func:`minhash_keyed`: a mismatched frame
    silently DROPS pairs (band keys built from NULL-skipping concat_ws
    over a too-short signature array) instead of erroring. Frames built
    by hand without the metadata stamp skip the compatibility check —
    the caller then owns parameter agreement."""
    missing = [c for c in (id_col, *need) if c not in keyed.columns]
    if missing:
        raise ValueError(
            f"keyed frame is missing column(s) {missing}; pass a "
            f"minhash_keyed(...) result with matching id_col"
            + (" and with_ws=True" if "wordset" in missing else "")
        )
    if "_mh" in keyed.columns:
        meta = keyed.schema["_mh"].metadata or {}
        for name, want in (("num_hashes", num_hashes), ("shingle", shingle)):
            have = meta.get(name)
            if want is not None and have is not None and int(have) != int(want):
                raise ValueError(
                    f"keyed frame was built with {name}={int(have)} but the "
                    f"consumer was called with {name}={int(want)} — band "
                    f"keys would silently diverge; rebuild the minhash_keyed "
                    f"frame with matching parameters"
                )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    bands: int = 4,
    threshold: float = 0.5,
    shingle: int = 1,
    keyed: DataFrame | None = None,
) -> DataFrame:
    """Near-duplicate pairs via MinHash + LSH banding + exact Jaccard verify.

    1. per-row signatures (no shuffle)
    2. per-row band keys: band_hash_b = md5_int of the band's signature slice
    3. self-equi-join on (band, band_hash) → candidates (ONE shuffle)
    4. per-row exact word-set Jaccard on candidates; keep >= threshold

    Returns (id_a, id_b, jaccard) with id_a < id_b, distinct (each pair is
    emitted at its earliest colliding band — no distinct() shuffle).

    Lifecycle note: the signature frame is persisted (both join sides read
    it) and must outlive the returned lazy DataFrame, so it is NOT
    unpersisted here; loops over many corpora in one session should
    ``spark.catalog.clearCache()`` between iterations. ``keyed`` accepts
    a precomputed :func:`minhash_keyed` frame (must carry ``wordset``,
    i.e. ``with_ws=True``) so multi-consumer pipelines run the signature
    UDF once; the caller then owns persistence.
    """
    # Fused Arrow pass (same rationale as ngram_jaccard_pairs): shingles AND
    # all k minhashes in one UDF with a per-batch shingle-hash cache + numpy
    # affine minima; persisted because band keys and both verify-join sides
    # read it. minhash_signature (the public signature operator) keeps the
    # pure-expression path.
    if keyed is None:
        from pyspark import StorageLevel

        keyed = minhash_keyed(
            df, text_col=text_col, id_col=id_col,
            num_hashes=num_hashes, shingle=shingle,
        ).persist(StorageLevel.MEMORY_AND_DISK)
    else:
        _check_keyed(keyed, id_col, "wordset", "_mh",
                     num_hashes=num_hashes, shingle=shingle)
    cand = _earliest_band_pairs(
        _band_assignments(keyed, id_col, num_hashes, bands, with_all=True),
        id_col,
        bands,
    )
    # Verify on the same shingle sets the signatures estimate.
    words = keyed.select(F.col(id_col), F.col("wordset"))
    j = (
        cand.join(words.withColumnRenamed(id_col, "id_a").withColumnRenamed("wordset", "ws_a"), "id_a")
        .join(words.withColumnRenamed(id_col, "id_b").withColumnRenamed("wordset", "ws_b"), "id_b")
    )
    inter = F.size(F.array_intersect("ws_a", "ws_b"))
    union = F.size("ws_a") + F.size("ws_b") - inter
    # UNROUNDED exact IEEE division of two small integers: bit-identical
    # in every binary64 engine (Spark, DuckDB, numpy), so neither the
    # value nor the threshold compare depends on a decimal rounding
    # convention (round-half-up vs half-even at the 6th decimal differs
    # between engines). Two docs with no shingle (NULL or shorter than
    # ``shingle``) share the all-NULL signature; their Jaccard is NULL.
    return (
        j.select(
            "id_a",
            "id_b",
            F.when(union > 0, inter / union).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def minhash_band_est_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle: int = 3,
    threshold: float = 0.5,
    keyed: DataFrame | None = None,
) -> DataFrame:
    """Band-collision pairs with SIGNATURE-ESTIMATE verify: one row per
    colliding ``(band, bh)`` bucket, ``est_jaccard`` = fraction of equal
    signature components (x/num_hashes — exact in binary for power-of-two
    ``num_hashes``, so no cross-engine rounding convention is needed).

    This is the BATCH-equivalent of the streaming incremental detector
    (:func:`~exon_duckdb_spark.streaming.events.stream_minhash_pairs`):
    a finite id-ordered drain of the stream emits exactly this pair set
    (the stream≡batch equivalence is asserted in tests/test_determinism
    .py), and the same ``(band, bh, id, est)`` convention as the
    persisted-index probe (:func:`lsh_index_probe`). Use it when the
    full corpus is at rest; use the stream for arrival-time dedup; use
    build/probe for the daily-crawl incremental shape.

    Scale: signatures are one Arrow map pass; the only shuffle is the
    band-key self-join, which carries (band, bh, id, signature) — never
    text. Unlike :func:`minhash_lsh_pairs` there is no exact word-set
    verify stage, so nothing re-joins to the corpus; the estimate IS the
    output (the LSH-then-estimate screen a 100 TB first pass runs before
    any exact verify).
    """
    if keyed is None:
        from pyspark import StorageLevel

        # persist: the band self-join reads the Arrow signature pass from
        # both sides (same rationale + lifecycle caveat as
        # minhash_lsh_pairs); a caller-supplied minhash_keyed frame skips
        # the UDF here entirely (``keyed=``, caller owns persistence)
        keyed = minhash_keyed(
            df, text_col=text_col, id_col=id_col, num_hashes=num_hashes,
            shingle=shingle, with_ws=False, parallel=False,
        ).persist(StorageLevel.MEMORY_AND_DISK)
    else:
        _check_keyed(keyed, id_col, "_mh",
                     num_hashes=num_hashes, shingle=shingle)
        keyed = keyed.select(F.col(id_col), "_mh")
    assign = _band_assignments(keyed, id_col, num_hashes, bands, carry=("_mh",))
    a = assign.select(
        "band", "bh", F.col(id_col).alias("id_a"), F.col("_mh").alias("mh_a")
    )
    b = assign.select(
        "band", "bh", F.col(id_col).alias("id_b"), F.col("_mh").alias("mh_b")
    )
    eq = F.aggregate(
        F.zip_with(
            "mh_a", "mh_b",
            lambda x, y: F.coalesce((x == y).cast("int"), F.lit(0)),
        ),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    return (
        a.join(b, ["band", "bh"])
        .where(F.col("id_a") < F.col("id_b"))
        .select(
            "band",
            "bh",
            "id_a",
            "id_b",
            (eq / F.lit(float(num_hashes))).alias("est_jaccard"),
        )
        .where(F.col("est_jaccard") >= threshold)
    )


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 16,
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup pairs under SIMHASH-HAMMING semantics: the fourth blocking
    family (word-set MinHash, char-gram MinHash, hyperplane-LSH being the
    others) — cheapest per doc (one 16/32-bit fingerprint) and the right
    screen when the dedup criterion is "mostly the same words in mostly
    the same proportions".

    Charikar-style block split: a fingerprint differing in ≤ ``max_hamming``
    bits agrees EXACTLY on at least one of ``max_hamming + 1`` disjoint
    bit-blocks (pigeonhole — this is recall-lossless, unlike minhash
    banding's probabilistic S-curve). Candidates come from one equi-join
    per block key; the verify is a native xor + bit_count ≤ max_hamming.
    Pairs emit at their FIRST matching block (map-side check on the
    carried block-key array — no distinct shuffle), id_a < id_b.

    Scale: fingerprints are map-only (:func:`simhash`); the join key is a
    block of the fingerprint, so the shuffle carries (block_id, block_val,
    id, fingerprint) — ~24 bytes/doc/block, never text. Hot blocks (all-
    zero fingerprints from empty docs) behave like any skewed join key:
    AQE skew-split handles them, or pre-filter empty docs. Under-split
    inputs fan out first (``ensure_parallelism`` — no-op on any real
    multi-split layout): the fingerprint pass is token-hash heavy, and a
    single-file corpus otherwise computes it on one core (r13 interleaved
    A/B at sf0.1, 8 alternations: fan wins at every order statistic,
    min 1.63→1.47 s, median 2.05→1.79 s).
    """
    from exon_duckdb_spark.operators.relational import ensure_parallelism

    sh = simhash(
        ensure_parallelism(df, id_col), text_col=text_col, id_col=id_col,
        bits=bits,
    ).select(F.col(id_col), F.col("simhash"))
    return hamming_pairs(
        sh, hash_col="simhash", id_col=id_col, bits=bits, max_hamming=max_hamming
    )


def hamming_pairs(
    df: DataFrame,
    hash_col: str,
    id_col: str = "id",
    bits: int = 64,
    max_hamming: int = 3,
    group_col: str | None = None,
) -> DataFrame:
    """All (id_a < id_b, hamming) pairs whose ``hash_col`` fingerprints
    differ in ≤ ``max_hamming`` bits — the generic Charikar block-split
    join behind :func:`simhash_pairs`, exposed so ANY 64-bit-or-less
    fingerprint family (simhash, image dHash/aHash, audio energy
    fingerprints) shares one recall-LOSSLESS Hamming self-join instead of
    reinventing blocking per modality.

    Pigeonhole: a fingerprint differing in ≤ ``max_hamming`` bits agrees
    EXACTLY on at least one of ``max_hamming + 1`` disjoint near-equal
    bit-blocks, so candidates come from one equi-join per block key and
    the verify is a native xor + bit_count ≤ max_hamming. Pairs emit at
    their FIRST matching block (map-side check on the carried block-key
    array — no distinct shuffle).

    Scale: the join ships (block_id, block_val, id, fingerprint) — ~24
    bytes/row/block, never the underlying text/pixels/samples. Hot blocks
    (e.g. the all-zero fingerprints of blank assets) are ordinary skewed
    join keys: AQE skew-split handles them, or pre-filter blanks.

    ``group_col`` scopes pairing WITHIN a group (e.g. a video frame slot
    — :func:`video_near_dup_pairs` pairs per-slot and then counts
    matching slots): the group key joins the block equi-join and carries
    through to the output. NULL-hash rows (undecodable assets) are
    dropped before the block explode in every mode — an un-hashable
    member can't pair.
    """
    nblocks = int(max_hamming) + 1
    if nblocks > bits:
        raise ValueError(
            f"max_hamming+1 ({nblocks}) blocks need at least that many bits ({bits})"
        )
    # near-equal block widths (pigeonhole needs DISJOINT blocks, not equal
    # ones): the first bits % nblocks blocks are one bit wider
    base = bits // nblocks
    widths = [base + (1 if b < bits % nblocks else 0) for b in range(nblocks)]
    offs = [sum(widths[:b]) for b in range(nblocks)]
    gcols = [group_col] if group_col else []
    sh = df.select(
        F.col(id_col), *[F.col(g) for g in gcols], F.col(hash_col).alias("_sh")
    )
    # NULL fingerprints (undecodable assets) can never match — drop them
    # BEFORE the block explode unconditionally, or each would still ship
    # max_hamming+1 join-input rows of pure shuffle waste on dirty
    # corpora, grouped or not
    sh = sh.where(F.col("_sh").isNotNull())
    blocks = F.array(
        *[
            F.shiftright(F.col("_sh"), offs[b]).bitwiseAND(
                F.lit((1 << widths[b]) - 1)
            )
            for b in range(nblocks)
        ]
    )
    keyed = sh.select(
        F.col(id_col), *[F.col(g) for g in gcols],
        F.col("_sh"), blocks.alias("_blk"),
        F.posexplode(blocks).alias("block", "bval"),
    )
    a, b = keyed.alias("a"), keyed.alias("b")
    first_match = F.lit(True)
    for j in range(nblocks):
        # drop the pair at block k if an earlier block already matched
        first_match = first_match & (
            (F.col("a.block") <= F.lit(j))
            | (F.element_at(F.col("a._blk"), j + 1)
               != F.element_at(F.col("b._blk"), j + 1))
        )
    ham = F.bit_count(F.col("a._sh").bitwiseXOR(F.col("b._sh")))
    cond = (
        (F.col("a.block") == F.col("b.block"))
        & (F.col("a.bval") == F.col("b.bval"))
        & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
    )
    for g in gcols:
        cond = cond & (F.col(f"a.{g}") == F.col(f"b.{g}"))
    return (
        a.join(b, cond)
        .where(first_match)
        .where(ham <= max_hamming)
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            *[F.col(f"a.{g}").alias(g) for g in gcols],
            ham.cast("int").alias("hamming"),
        )
    )


def video_near_dup_pairs(
    fp: DataFrame,
    id_col: str = "id",
    frame_col: str = "frame_index",
    hash_col: str = "dhash",
    bits: int = 49,
    max_hamming: int = 4,
    min_frames: int = 3,
) -> DataFrame:
    """Video near-dup pairs from per-frame perceptual fingerprints
    (:func:`~exon_duckdb_spark.operators.multimodal.video_dhash`): two
    videos pair when ≥ ``min_frames`` of their ALIGNED sampled slots
    match within ``max_hamming`` bits. Returns (id_a, id_b, n_slots,
    total_hamming) — ``n_slots`` matching slots, summed distance for
    ranking. A re-muxed/re-encoded copy (same pictures, different
    container timing) matches on every slot at Hamming 0; inserted
    intros/outros shift slot alignment and lower ``n_slots``, which the
    threshold absorbs.

    Scale: rides :func:`hamming_pairs` grouped by slot — the self-join
    key is (slot, block, bval), so candidates only form within the same
    slot; the follow-up count is a (id_a, id_b)-keyed aggregation over
    the ≤ n_frames slot hits per candidate pair. NULL-hash slots (coded
    samples a pure-Python decoder can't open) drop before the join."""
    slots = hamming_pairs(
        fp,
        hash_col,
        id_col=id_col,
        bits=bits,
        max_hamming=max_hamming,
        group_col=frame_col,
    )
    return (
        slots.groupBy("id_a", "id_b")
        .agg(
            F.count("*").cast("int").alias("n_slots"),
            F.sum("hamming").cast("long").alias("total_hamming"),
        )
        .where(F.col("n_slots") >= min_frames)
    )


def lsh_index_build(
    df: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle: int = 3,
    mode: str = "overwrite",
    keyed: "DataFrame | None" = None,
) -> None:
    """Persist a MinHash-LSH band index for INCREMENTAL dedup: build once
    over the accumulated corpus, probe every new batch against it with
    :func:`lsh_index_probe` — the daily-crawl pattern where re-running
    the full self-join (:func:`minhash_lsh_pairs`) over corpus+batch
    would redo 100 TB of work to dedup 100 GB of arrivals.

    Layout: parquet partitioned by ``band``, rows ``(bh, id, mh)`` —
    band-key plus the full signature (num_hashes × 8 bytes), never the
    text. At 100 TB of documents the index is ~bands × (8 B + 8 B +
    num_hashes × 8 B) per doc ≈ 0.5 KB/doc — itself partition-pruned per
    band at probe time. Rebuilds are append-free by design: signatures
    are pure functions of text, so ``mode='append'`` after ingesting a
    deduped batch keeps the index current without recompute.

    Files per band dir follow the shuffle's measured bytes: the write is
    one rebalance on ``band``, so adaptive execution splits a band whose
    data exceeds ``spark.sql.adaptive.advisoryPartitionSizeInBytes`` over
    several write tasks (a 100 TB build still fans out) and merges small
    ones; a small build or append adds one file per band dir. With
    ``spark.sql.adaptive.enabled=false`` each write gives one file per
    band.
    """
    out_cols = lsh_index_rows(
        df, text_col=text_col, id_col=id_col,
        num_hashes=num_hashes, bands=bands, shingle=shingle, keyed=keyed,
    )
    # cluster rows by band before the partitioned write, or every shuffle
    # partition writes a sliver into every band dir. A rebalance is one
    # hash shuffle sized from real map output bytes: no sampling job runs
    # the signature UDF a second time (as repartitionByRange's would) and
    # no plan-time row estimate picks the file count (Catalyst sizes an
    # inner join as the product of its inputs). Spark drops the rebalance
    # hint when AQE is off, leaving the plain repartition on band; when AQE
    # is on the optimizer folds that repartition into the rebalance, so
    # either way the write is one shuffle
    out_cols.repartition("band").hint("rebalance", "band").write.mode(
        mode
    ).partitionBy("band").parquet(path)


def lsh_index_rows(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle: int = 3,
    keyed: "DataFrame | None" = None,
) -> DataFrame:
    """The ``(band, bh, id, mh)`` signature frame :func:`lsh_index_build`
    writes — exposed so the bench can time signature compute and the
    partitioned parquet write as separate stages (a composite wall cannot
    say which of the two pays an environment cost). ``keyed`` accepts a
    precomputed :func:`minhash_keyed` frame (sliced to this corpus) so a
    pipeline sharing signatures across consumers runs the UDF once."""
    if keyed is None:
        # parallel=False deliberately: an interleaved A/B at sf0.1
        # measured the single-split fan-out REGRESSING this
        # stage (min 1.16 -> 1.50 s) — the signature UDF is ~12 ms of
        # CPU, so the stage wall is task orchestration and a repartition
        # only adds a shuffle plus 32 task overheads; on a real
        # multi-split layout the scan is already parallel
        keyed = minhash_keyed(
            df, text_col=text_col, id_col=id_col, num_hashes=num_hashes,
            shingle=shingle, with_ws=False, parallel=False,
        )
    else:
        _check_keyed(keyed, id_col, "_mh",
                     num_hashes=num_hashes, shingle=shingle)
        keyed = keyed.select(F.col(id_col), "_mh")
    assign = _band_assignments(keyed, id_col, num_hashes, bands, carry=("_mh",))
    return assign.select(
        F.col("band"),
        F.col("bh"),
        F.col(id_col).alias("id"),
        F.col("_mh").alias("mh"),
    )


def lsh_index_probe(
    new_df: DataFrame,
    index: DataFrame | str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle: int = 3,
    threshold: float = 0.5,
    broadcast_probe: bool = True,
    keyed: "DataFrame | None" = None,
) -> DataFrame:
    """Probe a new batch against a persisted :func:`lsh_index_build` index:
    emits ``(band, bh, id_new, id_indexed, est_jaccard)`` per colliding
    band-bucket, ``est_jaccard`` = fraction of equal signature components
    (x/num_hashes — exact in binary, same convention as the streaming
    incremental variant ``stream_minhash_pairs``; NULL components — empty
    shingle sets — count 0, mirroring the SQL oracle's ``CASE =``).

    Scale: the index NEVER shuffles — ``broadcast_probe`` (default) ships
    the (small) new batch's band keys to the index's partitions, so the
    probe is one broadcast hash join over a parquet scan. Disable it only
    when the probe batch rivals the corpus (then AQE picks the strategy).
    Self-pairs are excluded by id so a batch already ingested into the
    index probes cleanly (idempotent re-runs)."""
    spark = new_df.sparkSession
    idx = spark.read.parquet(index) if isinstance(index, str) else index
    if keyed is None:
        keyed = minhash_keyed(
            new_df, text_col=text_col, id_col=id_col,
            num_hashes=num_hashes, shingle=shingle,
            with_ws=False, parallel=False,
        )
    else:
        _check_keyed(keyed, id_col, "_mh",
                     num_hashes=num_hashes, shingle=shingle)
        keyed = keyed.select(F.col(id_col), "_mh")
    probe = _band_assignments(
        keyed, id_col, num_hashes, bands, carry=("_mh",)
    ).select(
        F.col(id_col).alias("id_new"),
        F.col("_mh").alias("mh_new"),
        "band",
        "bh",
    )
    if broadcast_probe:
        probe = F.broadcast(probe)
    eq = F.aggregate(
        F.zip_with(
            "mh", "mh_new",
            lambda a, b: F.coalesce((a == b).cast("int"), F.lit(0)),
        ),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    return (
        idx.join(probe, ["band", "bh"])
        .where(F.col("id") != F.col("id_new"))
        .select(
            "band",
            "bh",
            "id_new",
            F.col("id").alias("id_indexed"),
            (eq / F.lit(float(num_hashes))).alias("est_jaccard"),
        )
        .where(F.col("est_jaccard") >= threshold)
    )


def _materialize(df: DataFrame) -> DataFrame:
    """Checkpoint ``df``: RELIABLE (to the configured checkpoint dir) when
    ``spark.sparkContext.setCheckpointDir`` was called, else local.

    localCheckpoint stores blocks on executors — losing one on a real
    cluster silently recomputes from nothing mid-iteration; a reliable
    checkpoint survives executor loss. Set a checkpoint dir on cluster
    deployments.
    """
    sc = df.sparkSession.sparkContext
    has_dir = sc._jsc.sc().getCheckpointDir().isDefined()
    return df.checkpoint(eager=True) if has_dir else df.localCheckpoint(eager=True)


def dedup_clusters(pairs: DataFrame, max_iter: int = 20) -> DataFrame:
    """Connected components over near-dup pairs → (doc_id, cluster_id) where
    cluster_id is the minimum doc id reachable from doc_id.

    Iterative min-label propagation: each round joins every node's current
    label with its neighbors' labels and keeps the minimum (large-star /
    small-star simplification of Kiveris et al., "Connected Components in
    MapReduce"). Each round is one shuffle; rounds needed = graph diameter
    (near-dup clusters are shallow — a handful). Converges when no label
    changes; ``max_iter`` bounds pathological chains, and a chain that still
    changes labels in its last allowed round raises instead of returning
    partial cluster ids.

    Input: (id_a, id_b) pairs (any extra columns ignored). Output covers
    only ids that appear in some pair — singletons are their own cluster
    trivially and never shuffle. Iteration state checkpoints reliably when
    a checkpoint dir is configured (see :func:`_materialize`).
    """
    edges = (
        pairs.select(F.col("id_a").alias("u"), F.col("id_b").alias("v"))
        .union(pairs.select(F.col("id_b").alias("u"), F.col("id_a").alias("v")))
        .distinct()
        # materialize once — every iteration joins edges, and without this
        # each round would recompute the (possibly expensive) pair pipeline
    )
    edges = _materialize(edges)
    labels = edges.select("u").distinct().select(
        F.col("u").alias("id"), F.col("u").alias("label")
    )
    for _ in range(max_iter):
        neighbor_min = (
            edges.join(labels, edges.v == labels.id)
            .groupBy("u")
            .agg(F.min("label").alias("nbr_label"))
        )
        new_labels = (
            labels.join(neighbor_min, labels.id == neighbor_min.u, "left")
            .select(
                "id",
                F.least(
                    F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))
                ).alias("label"),
            )
        )
        # checkpoint BEFORE the convergence probe: both the probe and the
        # next round then read the materialized labels instead of
        # recomputing the join (and lineage stays flat across rounds)
        new_labels = _materialize(new_labels)
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .where(F.col("n.label") != F.col("o.label"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"dedup_clusters: labels still changed in the last of max_iter={max_iter} "
            "rounds; the clusters have not converged"
        )
    return labels.select(F.col("id").alias("doc_id"), F.col("label").alias("cluster_id"))


def near_dedup_keep_list(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    clusters: DataFrame | None = None,
) -> DataFrame:
    """Documents to KEEP after near-dedup: drop every doc whose cluster has a
    smaller member (the canonical representative survives).

    ``pairs`` is any (id_a, id_b) near-dup relation (minhash_lsh_pairs,
    ngram_jaccard_pairs, embedding_dup_pairs). Anti-join keyed by id — the
    corpus shuffles once; cluster state is pairs-sized, not corpus-sized.
    ``clusters`` takes a precomputed :func:`dedup_clusters` table so a
    pipeline running several cluster consumers (keep-list, split,
    representatives) runs the CC iterations ONCE.
    """
    if clusters is None:
        clusters = dedup_clusters(pairs)
    drop = clusters.where(F.col("doc_id") != F.col("cluster_id")).select("doc_id")
    return df.join(
        drop.withColumnRenamed("doc_id", id_col), on=id_col, how="left_anti"
    )


def quality_keep_list(
    df: DataFrame,
    pairs: DataFrame,
    score_col: str = "n_chars",
    id_col: str = "doc_id",
    clusters: DataFrame | None = None,
) -> DataFrame:
    """Near-dedup keep-list that keeps each cluster's BEST document by
    ``score_col`` (ties toward the smaller id) instead of
    :func:`near_dedup_keep_list`'s arbitrary min-id representative.

    When near-duplicates differ — one copy truncated, one ad-injected,
    one clean — the curation-correct choice is the highest-quality copy,
    not the smallest id. Connected components label each doc with its
    cluster (singletons fall back to their own id), and one rank window
    per cluster picks the argmax-score member.

    Scale: cluster state is pairs-sized; one id-keyed left join; one rank
    window keyed on the cluster label — near-dup clusters are small by
    construction (and singleton groups are size 1), so no hot key. Returns
    the representative rows of ``df`` with an added ``group_key`` column.
    """
    from pyspark.sql import Window

    if clusters is None:
        clusters = dedup_clusters(pairs)
    joined = df.join(clusters, on=id_col, how="left")
    grp = F.coalesce(F.col("cluster_id"), F.col(id_col))
    w = Window.partitionBy(grp).orderBy(
        F.col(score_col).desc(), F.col(id_col).asc()
    )
    return (
        joined.withColumn("group_key", grp)
        .withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") == 1)
        .drop("_rk", "cluster_id")
    )


def leakage_safe_split(
    df: DataFrame,
    pairs: DataFrame,
    train: float = 0.8,
    val: float = 0.1,
    id_col: str = "doc_id",
    salt: str = "split",
    clusters: DataFrame | None = None,
) -> DataFrame:
    """Deterministic train/val/test assignment with a NO-LEAKAGE guarantee:
    every near-dup cluster lands in exactly one split.

    A naive per-document hash split scatters near-duplicates across
    train and test — the held-out set then "memorizes for free" and eval
    numbers inflate (the train/test contamination failure mode
    decontamination papers warn about, here caused by the split itself).
    The fix: hash the CLUSTER, not the document. ``pairs`` is any
    (id_a, id_b) near-dup relation; connected components give each doc
    its min-reachable-id label, singletons fall back to their own id, and
    the split decision is ``md5(salt ':' group) mod 1e6`` against micro
    thresholds (:func:`~exon_duckdb_spark.operators.text.hash_sample`'s
    convention — reproducible across runs, retries, cluster sizes, and
    engines). ``test`` fraction is the remainder ``1 − train − val``.

    Scale: cluster state is pairs-sized; the corpus shuffles once for the
    id-keyed left join; the hash and split decision are map-only codegen.
    Returns (id_col, group_key bigint, split string).
    """
    import math

    from exon_duckdb_spark.operators.text import SAMPLE_BUCKETS

    def micro(f: float) -> int:
        return int(math.floor(f * SAMPLE_BUCKETS + 0.5))

    if not (0 < train and 0 <= val and train + val < 1):
        raise ValueError("need 0 < train, 0 <= val, train + val < 1")
    if clusters is None:
        clusters = dedup_clusters(pairs)
    joined = df.select(F.col(id_col)).join(clusters, on=id_col, how="left")
    group = F.coalesce(F.col("cluster_id"), F.col(id_col))
    bucket = (
        md5_int(F.concat(F.lit(salt), F.lit(":"), group.cast("string")))
        % SAMPLE_BUCKETS
    )
    split = (
        F.when(bucket < micro(train), "train")
        .when(bucket < micro(train + val), "val")
        .otherwise("test")
    )
    return joined.select(
        F.col(id_col), group.alias("group_key"), split.alias("split")
    )


def _gram_hashes(
    d: DataFrame, text_col: str, n: int, *keep: str, outer: bool = False
) -> DataFrame:
    """``(*keep, gram_hash)``: the 60-bit :func:`md5_int` of every word
    ``n``-gram of ``text_col``, one row each — the gram hashing shared by
    :func:`decontaminate`, :func:`contamination_report` and
    ``sketches.bloom_decontaminate``. The token array is its own
    projection, so each gram row reads it instead of re-splitting the
    text. ``outer`` is :func:`ngram_rows`'s (a NULL hash for a doc with no
    n-gram)."""
    toksed = d.select(*keep, tokens(text_col).alias("_toks"))
    return ngram_rows(toksed, "_toks", n, *keep, outer=outer).select(
        *keep, md5_int("gram").alias("gram_hash")
    )


def decontaminate(
    df: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
    broadcast_benchmark: bool = True,
) -> DataFrame:
    """Benchmark decontamination: drop every corpus document that shares at
    least one word ``n``-gram with the benchmark set (the standard
    train-set hygiene pass before pre-training — GPT-3 §C / PaLM style
    13-gram overlap, default n=8).

    Scale design: both sides reduce to 60-bit n-gram hashes before any
    join (DISTINCT on the benchmark side), so the shuffle carries (hash) /
    (hash, id) — never text. The benchmark side (eval suites: thousands
    of docs, not billions) is broadcast by default, making the whole pass
    a map-side semi-join plus one id-keyed anti-join; set
    ``broadcast_benchmark=False`` for a huge benchmark side to fall back
    to a shuffled semi-join. A doc with fewer than ``n`` tokens has no
    n-grams and is always kept.
    """
    from exon_duckdb_spark.operators.relational import ensure_parallelism

    bench_hashes = _gram_hashes(benchmark, text_col, n).distinct()
    if broadcast_benchmark:
        bench_hashes = F.broadcast(bench_hashes)
    # corpus side: gram hashing is the heavy map stage — recover
    # parallelism when the scan is under-split (no-op on real multi-split
    # corpora; the benchmark side is small by contract)
    contaminated = (
        _gram_hashes(ensure_parallelism(df, id_col), text_col, n, id_col)
        .join(bench_hashes, on="gram_hash", how="left_semi")
        .select(id_col)
        .distinct()
    )
    return df.join(contaminated, on=id_col, how="left_anti")


def contamination_report(
    df: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
    broadcast_benchmark: bool = True,
) -> DataFrame:
    """Per-document contamination AUDIT: (id, n_grams, n_contaminated,
    contamination) where ``contamination`` is the fraction of the
    document's DISTINCT word ``n``-grams that appear in the benchmark set.
    :func:`decontaminate` answers drop-or-keep on ANY overlap; threshold
    tuning and leakage audits need the overlap MASS — a doc quoting one
    benchmark sentence and a verbatim benchmark copy both "overlap", but
    only the report tells them apart.

    Same scale shape as :func:`decontaminate`: both sides reduce to
    distinct 60-bit n-gram hashes (corpus side distinct WITHIN each doc),
    the benchmark side broadcasts, and the join carries (hash, id) only —
    never text. Counts are over the hash space. One row per id; docs with
    fewer than ``n`` tokens report (0, 0, 0.0).
    """
    from exon_duckdb_spark.operators.relational import ensure_parallelism

    bench_hashes = (
        _gram_hashes(benchmark, text_col, n).distinct().withColumn("_hit", F.lit(1))
    )
    if broadcast_benchmark:
        bench_hashes = F.broadcast(bench_hashes)
    # outer: a doc with no n-gram keeps one NULL-hash row, so every doc
    # reaches the id aggregate without a join back to the corpus. When
    # ensure_parallelism hash-partitions the docs by id, the per-doc
    # (id, hash) dedup and the id aggregate need no exchange of their own.
    corpus_grams = _gram_hashes(
        ensure_parallelism(df, id_col), text_col, n, id_col, outer=True
    )
    n_grams, n_hit = F.col("n_grams"), F.col("n_contaminated")
    return (
        corpus_grams.distinct()
        .join(bench_hashes, "gram_hash", "left")
        .groupBy(id_col)
        .agg(
            F.count("gram_hash").alias("n_grams"),
            F.count("_hit").alias("n_contaminated"),
        )
        .select(
            F.col(id_col),
            n_grams,
            n_hit,
            F.round(F.when(n_grams > 0, n_hit / n_grams).otherwise(0.0), 6).alias(
                "contamination"
            ),
        )
    )


def paragraph_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = "\n",
    emit: str = "docs",
) -> DataFrame:
    """Global paragraph-level dedup (C4/RefinedWeb-style boilerplate
    removal): split every document on ``sep`` (a regex), keep only the FIRST
    occurrence of each paragraph corpus-wide (ordered by (doc id, position)),
    and reassemble documents from their surviving paragraphs in original
    order. A document whose every paragraph appeared earlier disappears from
    the output entirely.

    Scale design: the winner-per-paragraph pass is a window over the 60-bit
    paragraph hash — the sort key the shuffle moves is (hash, id, pos), with
    the paragraph text riding along once; reassembly is one groupBy(id)
    whose payload is only the SURVIVING paragraphs. Two shuffles total,
    both linear in corpus size — inherent to a global first-occurrence
    semantics.

    The window partitions on (hash, paragraph) rather than the hash alone:
    the text already rides the shuffle, so disambiguating 60-bit collisions
    costs nothing and keeps results text-keyed (two distinct paragraphs
    colliding on md5_int would otherwise silently drop one).

    ``emit="lines"`` returns the surviving paragraphs UN-reassembled, one
    row per kept paragraph ``(id, pos, para)`` with ``pos`` the 0-based
    position in the source document — the order-free verification shape
    (a reassembled text's hash depends on an ordered string aggregation,
    which SQL oracles evaluate inconsistently across engine versions).
    ``emit="docs"`` (default) reassembles.
    """
    if emit not in ("docs", "lines"):
        raise ValueError(f"emit must be 'docs' or 'lines', got {emit!r}")
    paras = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), sep)).alias("_pos", "_para"),
    )
    w = Window.partitionBy(md5_int(F.col("_para")), F.col("_para")).orderBy(
        F.col(id_col), F.col("_pos")
    )
    kept = paras.withColumn("_rn", F.row_number().over(w)).where(F.col("_rn") == 1)
    if emit == "lines":
        return kept.select(
            F.col(id_col),
            F.col("_pos").alias("pos"),
            F.col("_para").alias("para"),
        )
    return kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("_pos", "_para"))),
                lambda s: s["_para"],
            ),
            sep,
        ).alias("dedup_text")
    )


def boilerplate_line_removal(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_df: int = 2,
    sep: str = "\n",
    emit: str = "docs",
) -> DataFrame:
    """Cross-document line-level boilerplate removal (the CCNet/RefinedWeb
    line-dedup flavor): a line whose content appears in at least ``min_df``
    DISTINCT documents is boilerplate — cookie banners, nav menus, share
    footers — and is removed from EVERY document (unlike
    :func:`paragraph_dedup`, which keeps the first occurrence). Returns
    (id, clean_text, n_removed): surviving lines rejoined in original
    order, empty string when nothing survives.

    Scale design, three linear shuffles:
    1. document-frequency per line — a two-phase ``countDistinct`` hash
       aggregate keyed on the line, so the 100 M-document cookie banner is
       partial-aggregated map-side and never materializes its id list in
       one buffer (a collect_list/collect_set per line would);
    2. a LEFT ANTI join of the exploded lines against the boilerplate
       set (same line key; both sides stream);
    3. one groupBy(id) reassembly carrying only SURVIVING lines.
    Keys are the line strings themselves, not hashes: the line already
    rides shuffle 2, and exactness costs nothing extra (a hash-keyed
    variant could merge two distinct lines on a collision and silently
    delete a unique line).

    Blank lines dedup like any other content: a corpus with ≥ ``min_df``
    documents containing blank separator lines removes them — consistent
    with treating 'appears everywhere' as boilerplate; run with documents
    pre-split on blank lines if paragraph structure must survive.

    ``sep`` is a Java REGEX in the split but a LITERAL in the rejoin
    (same contract as :func:`paragraph_dedup`) — fine for the plain-text
    separators this is meant for ('\\n', '\\n\\n'); escape metacharacters
    if splitting on one, or the rejoined text will not round-trip.

    ``emit="lines"`` returns the surviving lines UN-reassembled, one row
    per kept line ``(id, pos, line)`` with ``pos`` 0-based — the order-free
    verification shape (see :func:`paragraph_dedup`); docs whose every
    line was boilerplate emit nothing. ``emit="docs"`` (default)
    reassembles and adds ``n_removed``.
    """
    if emit not in ("docs", "lines"):
        raise ValueError(f"emit must be 'docs' or 'lines', got {emit!r}")
    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), sep)).alias("_pos", "_line"),
    )
    boiler = (
        lines.groupBy("_line")
        .agg(F.countDistinct(F.col(id_col)).alias("_df"))
        .where(F.col("_df") >= min_df)
        .select("_line")
    )
    kept = lines.join(boiler, "_line", "left_anti")
    if emit == "lines":
        return kept.select(
            F.col(id_col),
            F.col("_pos").alias("pos"),
            F.col("_line").alias("line"),
        )
    clean = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("_pos", "_line"))),
                lambda s: s["_line"],
            ),
            sep,
        ).alias("clean_text"),
        F.count("*").alias("_n_kept"),
    )
    totals = df.select(
        F.col(id_col), F.size(F.split(F.col(text_col), sep)).alias("_n_lines")
    )
    return totals.join(clean, id_col, "left").select(
        F.col(id_col),
        F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
        (F.col("_n_lines") - F.coalesce(F.col("_n_kept"), F.lit(0)))
        .cast("int")
        .alias("n_removed"),
    )


def simhash(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = 16
) -> DataFrame:
    """Per-document SimHash over word hashes — per-row bit votes, no shuffle.

    bit_i = 1 iff sum over words of (2*((h(w) >> i) & 1) - 1) >= 0.

    One fused Arrow pass (same rationale as `_shingle_minhash_udf`): the
    native form ran `bits` interpreted `aggregate` traversals of the token
    hash array per row — HOF lambdas evaluate outside codegen, so the
    measured cost was ~3× this vectorized version (md5 per DISTINCT token
    via a per-batch cache, then one (n_tokens × bits) numpy vote matrix).
    Map-only either way; hashes replicate md5_int (60-bit md5 prefix)
    bit-for-bit so the DuckDB oracle still matches.
    """
    import hashlib as _hl

    import numpy as np

    shifts = np.arange(bits, dtype=np.int64)

    @F.pandas_udf("long")
    def sh(s: pd.Series) -> pd.Series:
        cache: dict[str, int] = {}
        out = []
        for x in s:
            if x is None:
                # native form: every bit_vote is NULL, `when` falls through
                # to 0 for each bit -> fingerprint 0
                out.append(0)
                continue
            toks = x.split(" ")  # mirrors tokens(): split on single space
            hs = np.empty(len(toks), dtype=np.int64)
            for i, w in enumerate(toks):
                v = cache.get(w)
                if v is None:
                    v = int(_hl.md5(w.encode()).hexdigest()[:15], 16)
                    cache[w] = v
                hs[i] = v
            votes = (2 * ((hs[:, None] >> shifts) & 1) - 1).sum(axis=0)
            out.append(int(((votes >= 0).astype(np.int64) << shifts).sum()))
        return pd.Series(out, dtype="int64")

    # No ensure_parallelism here: simhash is map-only with no downstream
    # shuffle, and the fused UDF is cheap enough that the fan-out exchange
    # costs more than it saves (measured 0.42 s vs 0.51 s at sf0.1).
    return df.select(F.col(id_col), sh(F.col(text_col)).alias("simhash"))


def _distinct_char_ngrams_udf(n: int):
    """Arrow-batched distinct char n-grams.

    Measured 3× faster than the native ``transform(sequence(...),
    i -> substr(text, i, n))``: Spark's higher-order lambdas evaluate
    interpreted (outside whole-stage codegen) and ``substr`` re-scans the
    UTF8String from the start per gram — O(len²) per document — while
    Python string slicing is O(n) per gram."""
    from pyspark.sql.types import ArrayType, StringType

    @F.pandas_udf(ArrayType(StringType()))
    def grams(s: pd.Series) -> pd.Series:
        return s.map(
            lambda x: list({x[i : i + n] for i in range(max(len(x) - n + 1, 0))})
        )

    return grams


def _minhash_minima_bulk(A, B, digests: bytes, lens: list) -> list:
    """Shared tail of the two minhash kernels: 4-byte md5 prefixes
    (concatenated, row-segmented by ``lens``) → per-row k affine minima.

    One ``frombuffer`` converts ALL digests to int64 (replacing an
    ``int.from_bytes`` per gram), one (k × total) affine matrix replaces a
    per-row (k × n) matmul, and ``np.minimum.reduceat`` computes every
    row's minima in a single C pass (the per-row numpy calls dominated the
    old kernel on short documents — ~50 grams/row means the matrix work
    was cheaper than the Python call setting it up). Zero-length rows
    yield ``[None] * k`` (= array_min over an empty array), matching the
    SQL twin. Returns a list of per-row minima lists.
    """
    import numpy as np

    k = A.shape[0]
    if not digests:
        return [[None] * k for _ in lens]
    hs_all = np.frombuffer(digests, dtype=">u4").astype(np.int64)
    lens_a = np.asarray(lens, dtype=np.int64)
    nz = lens_a > 0
    starts = np.concatenate(([0], np.cumsum(lens_a)[:-1]))[nz]
    # per-coefficient 1D in-place passes, NOT one (k × total) matrix: the
    # matrix form allocates ~4 multi-MB temporaries per batch, and with 32
    # Python workers hammering RAM concurrently it measured SLOWER than
    # the per-row kernel it replaced (memory-bandwidth-bound; the
    # single-threaded micro-bench, with the whole bus to itself, said the
    # opposite — measure under real worker concurrency). One (total,)
    # int64 buffer stays cache-resident across the k passes.
    total = int(lens_a.sum())
    buf = np.empty(total, dtype=np.int64)
    mins = np.empty((int(nz.sum()), k), dtype=np.int64)
    for j in range(k):
        np.multiply(hs_all, int(A[j, 0]), out=buf)
        buf += int(B[j, 0])
        buf %= MERSENNE31
        mins[:, j] = np.minimum.reduceat(buf, starts)
    cols = mins.tolist()
    out, j, none_row = [], 0, [None] * k
    for good in nz:
        if good:
            out.append(cols[j])
            j += 1
        else:
            out.append(none_row)
    return out


def _shingle_minhash_udf(shingle: int, num_hashes: int, with_ws: bool = True):
    """Arrow UDF: text → (distinct word-shingle set, minhash vector).

    Mirrors tokens() (split on single space, empties kept) and
    word_ngrams exactly (a NULL text has no shingles); hashes replicate
    md5_int32 (first 4 md5 bytes) through a per-batch digest cache, then
    one bulk ``frombuffer`` + ``np.minimum.reduceat`` pass computes every
    row's k affine minima
    (:func:`_minhash_minima_bulk` — measured 1.4× the per-row-matrix
    kernel at sf0.1, bit-identical output). Empty shingle sets yield NULL
    minhashes (= array_min over []).

    ``with_ws=False`` emits empty word-set arrays: three of the four
    callers (lsh_index_rows / lsh_index_probe / minhash_band_estimate)
    read only ``mh``, and Spark cannot prune struct fields out of a
    pandas-UDF result — without the flag every indexed/probed document
    serializes its full distinct-shingle string set through Arrow just to
    be projected away (the q99 sig stage's dominant byte volume).
    """
    import hashlib as _hl

    import numpy as np
    from pyspark.sql.types import (
        ArrayType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    coeffs = minhash_coeffs(num_hashes)
    A = np.array([a for a, _ in coeffs], dtype=np.int64)[:, None]
    B = np.array([b for _, b in coeffs], dtype=np.int64)[:, None]
    out_type = StructType(
        [
            StructField("ws", ArrayType(StringType())),
            StructField("mh", ArrayType(LongType())),
        ]
    )
    empty: list = []

    @F.pandas_udf(out_type)
    def f(s):
        md5 = _hl.md5
        cache: dict[str, bytes] = {}
        cget = cache.get
        out_w, lens = [], []
        dig = bytearray()
        for x in s:
            toks = [] if x is None else x.split(" ")
            if shingle == 1:
                sh = toks
            else:
                sh = [
                    " ".join(toks[i : i + shingle])
                    for i in range(max(len(toks) - shingle + 1, 0))
                ]
            # minima over the DISTINCT set == minima over the multiset,
            # so only row-distinct shingles are hashed
            dw = list(dict.fromkeys(sh))
            out_w.append(dw if with_ws else empty)
            lens.append(len(dw))
            for g in dw:
                d = cget(g)
                if d is None:
                    d = md5(g.encode()).digest()[:4]
                    cache[g] = d
                dig += d
        out_m = _minhash_minima_bulk(A, B, bytes(dig), lens)
        return pd.DataFrame({"ws": out_w, "mh": out_m})

    return f


def _grams_minhash_udf(n: int, num_hashes: int, with_gh: bool = True):
    """Arrow UDF: text → (distinct char n-grams, minhash vector).

    Gram hashes replicate md5_int32 (first 8 md5 hex chars) through a
    per-batch dict cache — English n-grams repeat heavily across documents,
    so the md5 count is ~|distinct grams|, not |grams|. The k affine minima
    run as one numpy broadcast per row. Empty gram sets yield NULL
    minhashes (matching array_min over an empty array).

    ``with_gh=False`` emits empty gram-hash arrays: callers whose verify
    predicate never reads the gram set (edit-distance blocking) skip
    serializing ~200 longs/doc through Arrow and the downstream exchange.
    """
    import hashlib as _hl

    import numpy as np
    from pyspark.sql.types import (
        ArrayType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    coeffs = minhash_coeffs(num_hashes)
    A = np.array([a for a, _ in coeffs], dtype=np.int64)[:, None]
    B = np.array([b for _, b in coeffs], dtype=np.int64)[:, None]
    out_type = StructType(
        [
            StructField("gh", ArrayType(LongType())),
            StructField("mh", ArrayType(LongType())),
        ]
    )

    @F.pandas_udf(out_type)
    def f(s):
        md5 = _hl.md5
        cache: dict[str, bytes] = {}
        cget = cache.get
        lens = []
        dig = bytearray()
        for x in s:
            grams = {x[i : i + n] for i in range(max(len(x) - n + 1, 0))}
            lens.append(len(grams))
            for g in grams:
                d = cget(g)
                if d is None:
                    d = md5(g.encode()).digest()[:4]
                    cache[g] = d
                dig += d
        out_m = _minhash_minima_bulk(A, B, bytes(dig), lens)
        if with_gh:
            # verify runs on the DISTINCT 32-bit gram-hash set — the
            # exact space the minhash signatures estimate; ~10× lighter
            # than shipping gram strings (8-byte longs, no string
            # serialization through the exchanges)
            hs_all = np.frombuffer(bytes(dig), dtype=">u4").astype(np.int64)
            out_g, pos = [], 0
            for ln in lens:
                out_g.append(np.unique(hs_all[pos : pos + ln]).tolist())
                pos += ln
        else:
            out_g = [[] for _ in lens]
        return pd.DataFrame({"gh": out_g, "mh": out_m})

    return f


def _band_assignments(
    keyed: DataFrame, id_col: str, num_hashes: int, bands: int,
    with_all: bool = False, carry: tuple[str, ...] = (),
) -> DataFrame:
    """(id, band, bh) band-key rows from a (id, …, _mh) minhash frame.

    Factored out of :func:`ngram_jaccard_pairs` so the skew property tests
    (tests/test_properties.py) can measure the band-bucket distribution the
    join will actually see — every band key depends on the WHOLE gram set,
    which is the anti-skew guarantee under shared-prefix corpora.

    ``with_all=True`` additionally carries the row's FULL band-hash array
    (``_bhs``, bands × 8 bytes) through the explode so the candidate join
    can dedup pairs map-side at their earliest colliding band
    (:func:`_earliest_band_pairs`) instead of a post-join ``distinct``."""
    rows_per_band = num_hashes // bands
    bhs = []
    for b in range(bands):
        parts = [
            F.element_at("_mh", b * rows_per_band + r + 1) for r in range(rows_per_band)
        ]
        bhs.append(md5_int(F.concat_ws(",", *[p.cast("string") for p in parts])))
    exploded = keyed.select(
        F.col(id_col), *[F.col(c) for c in carry], F.array(*bhs).alias("_bhs")
    ).select(
        id_col, *carry, "_bhs", F.posexplode("_bhs").alias("band", "bh")
    )
    cols = [id_col, *carry, "band", "bh"] + (["_bhs"] if with_all else [])
    return exploded.select(*cols)


def _earliest_band_pairs(
    bands_long: DataFrame, id_col: str, bands: int
) -> DataFrame:
    """Candidate (id_a, id_b) pairs from a ``_band_assignments(with_all=True)``
    frame, each pair emitted EXACTLY once — at the first band where the two
    rows collide — so no ``distinct`` shuffle is needed afterwards.

    The check is a post-join filter: drop the pair at band k if any band
    j < k already had equal band hashes. ``bands`` is a plan-time constant,
    so the check unrolls to a flat OR of literal-index array lookups — it
    stays inside whole-stage codegen (a slice/zip_with/exists HOF form was
    measured 2-3× slower: interpreted, allocating two arrays per joined
    pair). Replaces the candidate-wide ``distinct()`` — at 100 TB that
    distinct re-shuffles every duplicate candidate pair; this costs
    bands × 8 bytes per band row in the existing shuffle instead."""
    a, b = bands_long.alias("a"), bands_long.alias("b")
    earlier_collides = F.lit(False)
    for j in range(bands - 1):
        earlier_collides = earlier_collides | (
            (F.col("band") > j)
            & (F.col("a._bhs").getItem(j) == F.col("b._bhs").getItem(j))
        )
    return (
        a.join(b, ["band", "bh"])
        .where((F.col(f"a.{id_col}") < F.col(f"b.{id_col}")) & ~earlier_collides)
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
    )


def _capped_band_candidates(
    bands_long: DataFrame, id_col: str, max_bucket: int
) -> DataFrame:
    """Distinct candidate pairs from (id, band, bh) assignments with the
    deterministic per-bucket truncation. A truncated bucket may hide a
    pair's EARLIEST colliding band while a later band still recovers it,
    so earliest-band dedup would be lossy here — candidates dedup through
    a distinct() whose volume the cap bounds at max_bucket²/2 per bucket.
    Truncation keeps the max_bucket SMALLEST ids (deterministic; a
    count-based whole-bucket drop would erase genuine giant near-dup
    families instead of keeping representatives). The truncation itself is
    a row_number window — SortExec SPILLS, so the adversarial mega-bucket
    this guard defends against streams through disk instead of
    materializing in one collect_list aggregation buffer — and the
    following ≤ max_bucket collect_list reuses the same (band, bh)
    exchange, generating each bucket's capped pairs in-task (a windowed
    SELF-JOIN was measured ~2× slower at sf0.1: both join sides re-derive
    the band lineage). Shared by the Jaccard and edit-distance verifiers."""
    from pyspark.sql import Window

    wb = Window.partitionBy("band", "bh").orderBy(F.col(id_col).asc())
    return (
        bands_long.withColumn("_rn", F.row_number().over(wb))
        .where(F.col("_rn") <= max_bucket)
        .groupBy("band", "bh")
        .agg(F.sort_array(F.collect_list(F.col(id_col))).alias("_ids"))
        .where(F.size("_ids") >= 2)
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(_ids, (x, i) -> "
                    "transform(slice(_ids, i + 2, size(_ids)), "
                    "y -> struct(x AS id_a, y AS id_b))))"
                )
            ).alias("p")
        )
        .select("p.id_a", "p.id_b")
        .distinct()
    )


def edit_distance_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_dist: int = 10,
    n: int = 5,
    num_hashes: int = 16,
    bands: int = 4,
    max_bucket: int = 64,
) -> DataFrame:
    """Near-duplicate pairs under EDIT-DISTANCE semantics: the same
    char-n-gram minhash band blocking as :func:`ngram_jaccard_pairs`
    proposes candidates, then each candidate verifies with Spark's native
    BOUNDED levenshtein — ``levenshtein(a, b, max_dist)`` is
    O(max_dist · L) with early exit and runs in whole-stage codegen, vs
    the O(L²) full DP an unbounded distance would cost.

    Returns (id_a, id_b, edit_distance ≤ max_dist). Recall is the
    blocker's: a single edit touches at most ``n`` char n-grams, so a
    distance-d pair keeps gram Jaccard ≥ (L − nd)/(L + nd) and
    band-collides with the S-curve probability at that similarity —
    for d ≪ L/n the collision probability is ~1. Scale shape: candidates
    are bounded by the band cap (see :func:`_capped_band_candidates`);
    raw text joins only to candidates, never self-joins.
    """
    from pyspark import StorageLevel

    keyed = df.select(
        F.col(id_col),
        _grams_minhash_udf(n, num_hashes, with_gh=False)(text_col).alias("_f"),
    ).select(F.col(id_col), F.col("_f.mh").alias("_mh"))
    # persist: the band self-join reads the gram/minhash Arrow pass from
    # BOTH sides — uncached it evaluates the UDF twice (measured 2.13 s
    # -> 1.27 s min-of-3 at sf0.1; output row-identical). Lifecycle: the
    # cache must outlive the RETURNED (lazy) DataFrame, so it is not
    # unpersisted here; long-lived sessions calling this in a loop should
    # spark.catalog.clearCache() between iterations (the LRU evicts it
    # otherwise) — same contract as minhash_lsh_pairs.
    keyed = keyed.persist(StorageLevel.MEMORY_AND_DISK)
    cand = _capped_band_candidates(
        _band_assignments(keyed, id_col, num_hashes, bands), id_col, max_bucket
    )
    texts = df.select(F.col(id_col), F.col(text_col))
    j = _length_gated_text_join(
        cand, df, texts, id_col, text_col, max_dist
    )
    lev = F.levenshtein(F.col("_t_a"), F.col("_t_b"), int(max_dist))
    return (
        j.select("id_a", "id_b", lev.alias("edit_distance"))
        .where(F.col("edit_distance") >= 0)  # bounded form returns -1 past the cap
    )


def _length_gated_text_join(
    cand: DataFrame,
    df: DataFrame,
    texts: DataFrame,
    id_col: str,
    text_col: str,
    max_dist: int,
) -> DataFrame:
    """Join candidate pairs to their texts, gating FIRST on
    ``abs(len_a - len_b) <= max_dist`` using an (id, length) projection —
    levenshtein(a, b) >= |len(a) - len(b)|, so a pair past the gate would
    verify to -1 anyway (output-identical: verified by an interleaved A/B
    at sf0.1 — same 255 rows). Hopeless pairs thus never ship their text
    through the exchanges or pay the O(d·L) kernel. Measured at sf0.1:
    16,625 candidates -> 1,264 past the gate (92%
    pruned); wall time flat (2.23 vs 2.27 s min-of-4 interleaved) because
    the blocking UDF dominates at this scale and texts are ~1 KB — the
    pruning is the 100 TB win, where candidate text shipping is the
    verify stage's dominant byte volume. The int pre-joins prune to a
    2-column scan (Catalyst drops the gram UDF from the lengths
    projection)."""
    lens = df.select(F.col(id_col), F.length(text_col).alias("_len"))
    gated = (
        cand.join(
            lens.withColumnRenamed(id_col, "id_a").withColumnRenamed(
                "_len", "_len_a"
            ),
            "id_a",
        )
        .join(
            lens.withColumnRenamed(id_col, "id_b").withColumnRenamed(
                "_len", "_len_b"
            ),
            "id_b",
        )
        .where(
            F.abs(F.col("_len_a") - F.col("_len_b")) <= F.lit(int(max_dist))
        )
        .select("id_a", "id_b")
    )
    return gated.join(
        texts.withColumnRenamed(id_col, "id_a").withColumnRenamed(text_col, "_t_a"),
        "id_a",
    ).join(
        texts.withColumnRenamed(id_col, "id_b").withColumnRenamed(text_col, "_t_b"),
        "id_b",
    )


def chargram_near_dup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    jaccard_threshold: float = 0.8,
    max_dist: int = 10,
    num_hashes: int = 16,
    bands: int = 4,
    max_bucket: int = 64,
    containment_threshold: float = 0.9,
) -> DataFrame:
    """Three near-dup verifies over ONE char-gram band-blocking pass.

    :func:`ngram_jaccard_pairs` and :func:`edit_distance_pairs` share their
    most expensive stage — gram extraction, minhashing, band keys, the
    capped bucket self-join — differing only in the verify predicate.
    Calling them separately executes that stage twice; this runs the
    blocking once (keyed signatures and the candidate set each persisted,
    all branches have consumers) and emits a tagged union:
    (kind='jaccard'|'contain'|'edit', id_a, id_b, val) where val is the
    rounded gram-hash-set Jaccard (>= ``jaccard_threshold``), the
    gram-hash-set CONTAINMENT ``|A∩B| / min(|A|,|B|)`` (>=
    ``containment_threshold``), or the bounded levenshtein distance (<=
    ``max_dist``) cast to double. Containment is the asymmetric overlap
    measure: a snippet embedded in a longer document scores ~1 where
    Jaccard is diluted by the size ratio. The jaccard and contain kinds
    come from the SAME joined gram-set pass (one explode, two thresholds)
    — no extra join or shuffle.

    Recall caveat (by construction, not a bug): candidates come from
    MinHash bands, whose collision probability tracks JACCARD — a
    containment pair with extreme size ratio has low Jaccard and may
    never share a band. Within-block containment catches moderate-ratio
    asymmetric overlap (insertions, appended boilerplate); for guaranteed
    snippet detection use :func:`duplicated_spans`, which is exact.

    The jaccard/edit rows are row-for-row identical to unioning the two
    single-verify operators at the same blocking parameters — pinned by
    tests and the SQL oracle.
    """
    from pyspark import StorageLevel

    from exon_duckdb_spark.operators.relational import ensure_parallelism

    df = ensure_parallelism(df, id_col)
    keyed = df.select(
        F.col(id_col),
        _grams_minhash_udf(n, num_hashes)(text_col).alias("_f"),
    ).select(
        F.col(id_col), F.col("_f.gh").alias("gh"), F.col("_f.mh").alias("_mh")
    )
    keyed = keyed.persist(StorageLevel.MEMORY_AND_DISK)
    cand = _capped_band_candidates(
        _band_assignments(keyed, id_col, num_hashes, bands), id_col, max_bucket
    ).persist(StorageLevel.MEMORY_AND_DISK)

    ghs = keyed.select(F.col(id_col), F.col("gh"))
    jac = cand.join(
        ghs.withColumnRenamed(id_col, "id_a").withColumnRenamed("gh", "g_a"), "id_a"
    ).join(
        ghs.withColumnRenamed(id_col, "id_b").withColumnRenamed("gh", "g_b"), "id_b"
    )
    inter = F.size(F.array_intersect("g_a", "g_b"))
    union = F.size("g_a") + F.size("g_b") - inter
    jval = F.round(inter / union, 6).cast("double")
    cval = F.round(inter / F.least(F.size("g_a"), F.size("g_b")), 6).cast(
        "double"
    )
    jac = (
        jac.select(
            "id_a",
            "id_b",
            F.explode(
                F.array(
                    F.struct(F.lit("jaccard").alias("kind"), jval.alias("val")),
                    F.struct(F.lit("contain").alias("kind"), cval.alias("val")),
                )
            ).alias("_kv"),
        )
        .select(F.col("_kv.kind").alias("kind"), "id_a", "id_b", F.col("_kv.val").alias("val"))
        .where(
            ((F.col("kind") == "jaccard") & (F.col("val") >= jaccard_threshold))
            | ((F.col("kind") == "contain") & (F.col("val") >= containment_threshold))
        )
    )

    texts = df.select(F.col(id_col), F.col(text_col))
    ed = _length_gated_text_join(cand, df, texts, id_col, text_col, max_dist)
    lev = F.levenshtein(F.col("_t_a"), F.col("_t_b"), int(max_dist))
    ed = ed.select(
        F.lit("edit").alias("kind"),
        "id_a",
        "id_b",
        lev.cast("double").alias("val"),
    ).where(F.col("val") >= 0)  # bounded levenshtein returns -1 past the cap

    return jac.unionByName(ed)


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    threshold: float = 0.8,
    num_hashes: int = 16,
    bands: int = 4,
    max_bucket: int | None = 64,
) -> DataFrame:
    """Character n-gram Jaccard near-dup pairs, blocked by MinHash bands of
    the gram set.

    Earlier versions blocked on the text's first characters — a scale-killer
    on boilerplate-heavy corpora where millions of documents share a prefix
    and one bucket goes quadratic. A band key here depends on the WHOLE gram
    set (min over grams per hash), so shared prefixes don't collide unless
    the documents really are near-duplicates. Flow: one Arrow pass per row
    computes the distinct 32-bit gram-hash set AND the minhash signature →
    band keys → one band-keyed self-join over capped buckets → candidate
    ``distinct`` → Jaccard verify as a post-join ``array_intersect`` over
    the two 8-byte gram-hash sets (NOT gram strings: md5_int32 collisions
    can merge distinct grams, so ``jaccard`` is a collision-tolerant
    approximation over the hash space — the SQL oracle applies the same
    md5_int32, reproducing any collision bit-for-bit). Identical texts
    still share every band by design — run :func:`exact_dedup` first so
    literal duplicates don't re-pair here.

    ``max_bucket`` (default 64) bounds the heavy tail of band-bucket sizes
    BEFORE the self-join: each (band, bh) bucket is deterministically
    truncated to its ``max_bucket`` smallest ids (``row_number`` in the
    same exchange the join reuses), so one unlucky minhash draw — a pool
    gram whose tiny hash value wins a whole band for thousands of docs, the
    measured cause of the candidate blow-up on a 10× corpus — costs at
    most ``max_bucket²/2`` pairs instead of going quadratic. Unlike a
    drop-the-bucket guard, truncation keeps ``max_bucket`` representatives
    per band of a GENUINE giant near-dup family, so its pairs (and cluster
    connectivity via :func:`dedup_clusters`) survive; pairs whose members
    were truncated out of every colliding band are the only recall loss.
    ``max_bucket=None`` disables the cap and switches to earliest-band
    map-side pair dedup (no candidate ``distinct``), which is only safe
    when no bucket can go quadratic. The gated queries and benchmarks pass
    ``max_bucket=32`` EXPLICITLY at their call sites (__spark_entry__.py
    q28/q89/q28m): on the 10× corpus, cap 64→32 cut the wall 6.6→2.9 s
    with the verified pair set IDENTICAL at both scales (256 and 2554
    pairs) — band buckets past 32 were md5-draw collision tails, not
    duplicate families, ON THOSE CORPORA. On boilerplate-heavy crawls run
    :func:`exact_dedup` and :func:`paragraph_dedup` first to collapse
    template families.

    Calibration: collision probability is 1-(1-j^r)^b with r = num_hashes //
    bands rows per band — the S-curve midpoint sits at (1/b)^(1/r) ≈ 0.71
    for the defaults (16, 4), matching thresholds in 0.6-0.9. Char 3-grams
    have high background Jaccard on same-language text (band keys collide
    for unrelated docs); n=5 keeps the candidate set near-linear. The cap
    default sits above every bucket the contract corpora produce (measured
    max 51 at sf0.1, 8 at sf0.001) so their outputs are cap-invariant,
    while the 10× scale corpus (max bucket 425) gets its candidate volume
    cut 799k → 327k.
    """
    # One Arrow pass computes the distinct gram-HASH set AND all minhashes
    # (numpy affine minima over md5-cached gram hashes) — k interpreted
    # higher-order transforms over ~10³-gram arrays were the measured hot
    # spot (~3× the UDF cost). The verify stage runs on the 32-bit hash
    # SET rather than gram strings: that is exactly the space the minhash
    # signatures estimate, it ships 8-byte longs instead of n-char strings
    # through the exchanges (~10× lighter), and the SQL oracle applies the
    # identical md5_int32 so any hash collision is reproduced bit-for-bit
    # on both engines. Persisted because three consumers read it (band
    # keys + both verify sides); without it the UDF re-runs per consumer.
    from exon_duckdb_spark.operators.relational import ensure_parallelism

    df = ensure_parallelism(df, id_col)
    keyed = df.select(
        F.col(id_col),
        _grams_minhash_udf(n, num_hashes)(text_col).alias("_f"),
    ).select(
        F.col(id_col), F.col("_f.gh").alias("gh"), F.col("_f.mh").alias("_mh")
    )
    from pyspark import StorageLevel

    keyed = keyed.persist(StorageLevel.MEMORY_AND_DISK)
    if max_bucket is not None:
        cand = _capped_band_candidates(
            _band_assignments(keyed, id_col, num_hashes, bands), id_col, max_bucket
        )
    else:
        cand = _earliest_band_pairs(
            _band_assignments(keyed, id_col, num_hashes, bands, with_all=True),
            id_col,
            bands,
        )
    ghs = keyed.select(F.col(id_col), F.col("gh"))
    j = (
        cand.join(
            ghs.withColumnRenamed(id_col, "id_a").withColumnRenamed("gh", "g_a"),
            "id_a",
        ).join(
            ghs.withColumnRenamed(id_col, "id_b").withColumnRenamed("gh", "g_b"),
            "id_b",
        )
    )
    inter = F.size(F.array_intersect("g_a", "g_b"))
    union = F.size("g_a") + F.size("g_b") - inter
    return j.select(
        "id_a", "id_b", F.round(inter / union, 6).alias("jaccard")
    ).where(F.col("jaccard") >= threshold)


def _grouped_pairs_kernel(earlier_tables: int, min_dot_frac: float):
    """applyInPandas kernel: all qualifying (id_a < id_b) pairs WITHIN one
    LSH bucket / cluster, scored in numpy with the HOF's exact
    left-to-right float64 fold (see similarity._numpy_codes_udf).

    Emits (id_a, id_b, _dot, _na, _nb) — the UNROUNDED dot plus the two
    precomputed norms — so the caller applies ``F.round(dot/(na*nb), 6)``
    JVM-side: output values and the threshold decision stay bit-identical
    to the expression form (numpy rounds half-to-even, SQL half-up, so
    rounding must not happen here). ``min_dot_frac`` pre-filters with a
    0.5e-6 margin below the caller's threshold to bound emission; the
    caller re-filters exactly on the rounded value.

    ``earlier_tables`` > 0 applies the earliest-colliding-table dedup: a
    pair whose codes ALSO matched in a previous table is dropped (that
    table's kernel emitted it).

    Why this shape: a bucket equi-join materializes every candidate pair
    with BOTH vectors attached (measured 132k pairs × 2×64 floats at
    sf0.1) and re-evaluates the codes UDF under the join's null filter;
    grouping shuffles each vector ONCE and the pairwise work is a C-level
    fold over the bucket matrix — per-bucket cost b², globally linear when
    planes follow auto_planes.
    """
    import numpy as np
    import pandas as pd

    def kernel(pdf: "pd.DataFrame") -> "pd.DataFrame":
        empty = pd.DataFrame(
            {
                "id_a": pd.Series(dtype=pdf["_id"].dtype),
                "id_b": pd.Series(dtype=pdf["_id"].dtype),
                "_dot": pd.Series(dtype="float64"),
                "_na": pd.Series(dtype="float64"),
                "_nb": pd.Series(dtype="float64"),
            }
        )
        b = len(pdf)
        if b < 2:
            return empty
        pdf = pdf.sort_values("_id", ignore_index=True)
        vecs = pdf["_vec"]
        lens = np.fromiter(
            (0 if v is None else len(v) for v in vecs), dtype=np.int64, count=b
        )
        width = int(lens.max())
        M = np.zeros((b, width), dtype=np.float64)
        for r, v in enumerate(vecs):
            if v is not None and len(v):
                M[r, : len(v)] = np.asarray(v, dtype=np.float64)
        ii, jj = np.triu_indices(b, k=1)
        if earlier_tables:
            codes = np.stack(
                [np.asarray(c[:earlier_tables], dtype=np.int64) for c in pdf["_codes"]]
            )
            keep = ~np.any(codes[ii] == codes[jj], axis=1)
            ii, jj = ii[keep], jj[keep]
        if not len(ii):
            return empty
        # unequal-length pairs fold to NULL in the zip_with form → drop
        # (cosine NULL never passes a >= threshold filter)
        same_len = lens[ii] == lens[jj]
        ii, jj = ii[same_len], jj[same_len]
        if not len(ii):
            return empty
        acc = np.zeros(len(ii), dtype=np.float64)
        for d in range(width):
            acc += M[ii, d] * M[jj, d]
        na = pdf["_n"].to_numpy(dtype=np.float64)[ii]
        nb = pdf["_n"].to_numpy(dtype=np.float64)[jj]
        with np.errstate(divide="ignore", invalid="ignore"):
            qual = acc / (na * nb) >= min_dot_frac
        return pd.DataFrame(
            {
                "id_a": pdf["_id"].iloc[ii[qual]].to_numpy(),
                "id_b": pdf["_id"].iloc[jj[qual]].to_numpy(),
                "_dot": acc[qual],
                "_na": na[qual],
                "_nb": nb[qual],
            }
        )

    return kernel


def embedding_dup_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    planes: int | None = 8,
    tables: int = 1,
    n_rows: int | None = None,
    target_bucket: int = 256,
    dims: int = 64,
) -> DataFrame:
    """Embedding near-dup pairs: hyperplane-LSH bucketing (one shuffle per
    table) then exact cosine verification per candidate.

    Scaling knobs (see similarity.auto_planes): ``planes=None`` sizes the
    plane count from the corpus so expected bucket cardinality stays
    ~``target_bucket`` — join cost grows linearly with n instead of
    n²/2^planes. More planes lowers per-table recall; raise ``tables`` to
    compensate (independent hash families, candidates = union over tables).
    With the defaults (planes=8, tables=1) this reproduces the single-table
    behavior bit-for-bit. Past ``similarity.CODES_LITERAL_LIMIT`` the
    bucket codes come from the bit-identical Arrow-batched evaluator
    (similarity._numpy_codes_udf), and candidate pairs are scored with the
    fused left-to-right fold UDF instead of the interpreted per-pair HOF.
    """
    from exon_duckdb_spark.operators import similarity
    from exon_duckdb_spark.operators.similarity import (
        _fold_dot_udf,
        _norm,
        _numpy_codes_udf,
        auto_planes,
        dot,
        hyperplane_bucket,
    )

    if planes is None:
        n = n_rows if n_rows is not None else df.count()
        planes = auto_planes(n, target_bucket)
    if tables * planes * dims > similarity.CODES_LITERAL_LIMIT:
        # grouped-kernel path: one shuffle of (id, vec, codes, norm) per
        # table keyed by that table's bucket; all-pairs scoring happens
        # INSIDE the bucket task (C-level fold over the bucket matrix), so
        # candidate pairs never materialize with vectors attached and the
        # codes UDF runs once per row (the equi-join form re-evaluated it
        # under the join's null filter and shipped 2 vectors per pair —
        # measured 132k pairs at sf0.1)
        cn_udf = _numpy_codes_udf(planes, tables, dims)
        keyed = df.select(
            F.col(id_col), F.col(vec_col), cn_udf(F.col(vec_col)).alias("_cn")
        ).select(
            F.col(id_col).alias("_id"),
            F.col(vec_col).alias("_vec"),
            F.col("_cn.codes").alias("_codes"),
            F.col("_cn.n").alias("_n"),
        )
        id_dtype = df.schema[id_col].dataType.simpleString()
        out_schema = f"id_a {id_dtype}, id_b {id_dtype}, _dot double, _na double, _nb double"
        parts = []
        for t in range(tables):
            kern = _grouped_pairs_kernel(t, threshold - 5e-7)
            parts.append(
                keyed.withColumn("_bt", F.col("_codes")[t])
                .groupBy("_bt")
                .applyInPandas(kern, out_schema)
            )
        out = parts[0]
        for p in parts[1:]:
            out = out.union(p)
        cosine = F.round(F.col("_dot") / (F.col("_na") * F.col("_nb")), 6)
        return out.select("id_a", "id_b", cosine.alias("cosine")).where(
            F.col("cosine") >= threshold
        )
    keyed = df.select(
        F.col(id_col),
        F.col(vec_col),
        *[
            hyperplane_bucket(F.col(vec_col), planes, dims=dims, table=t).alias(
                f"bucket_{t}"
            )
            for t in range(tables)
        ],
        _norm(F.col(vec_col)).alias("_n"),  # once per vector, not per pair
    )
    cands = []
    for t in range(tables):
        a, bb = keyed.alias("a"), keyed.alias("b")
        j = a.join(bb, F.col(f"a.bucket_{t}") == F.col(f"b.bucket_{t}")).where(
            F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
        )
        # Earliest-colliding-table dedup, map-side: a pair that also collides
        # in some table t' < t is emitted by THAT join instead, so each pair
        # is scored exactly once and no post-scoring distinct (a full shuffle
        # of every candidate) is needed.
        for t_prev in range(t):
            j = j.where(
                F.col(f"a.bucket_{t_prev}") != F.col(f"b.bucket_{t_prev}")
            )
        cands.append(
            j.select(
                F.col(f"a.{id_col}").alias("id_a"),
                F.col(f"b.{id_col}").alias("id_b"),
                F.round(
                    dot(F.col(f"a.{vec_col}"), F.col(f"b.{vec_col}"))
                    / (F.col("a._n") * F.col("b._n")),
                    6,
                ).alias("cosine"),
            )
        )
    out = cands[0]
    for c in cands[1:]:
        out = out.union(c)
    return out.where(F.col("cosine") >= threshold)


def semantic_dedup(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    nlist: int = 16,
    iters: int = 0,
    cents: list | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    web-scale through semantic deduplication"): cluster the embedding space
    coarsely, then deduplicate ONLY within clusters — a document is dropped
    when a smaller-id member of its own cluster has cosine >= ``threshold``.

    Flow (all Spark-side, quantizer is index metadata):
      1. nearest-centroid assignment — map-only, broadcast literal
         centroids, the identical (ties→smaller cid) math as the
         IVF family, so one quantizer serves both retrieval and dedup.
      2. within-cluster candidate pairs — one shuffle keyed by cid; the
         quadratic term is per-cluster, which is the paper's whole point:
         size ``nlist`` ∝ corpus so the expected cluster stays bounded
         (they run k=50k over LAION); at 100 TB the cid shuffle carries
         (id, vec) and clusters verify independently per task.
      3. keep decision — min-struct aggregate per dropped id: ``dup_of`` is
         the SMALLEST cluster-mate over threshold, ``dup_cos`` its cosine.

    ``cents`` takes a prebuilt quantizer (kmeans_refine output); otherwise
    the deterministic seed quantizer (``nlist`` smallest ids, optionally
    ``iters`` Lloyd rounds) — deterministic, so a SQL oracle reproduces
    keep/drop decisions bit-for-bit.

    Returns (id_col, cid, keep, dup_of, dup_cos).
    """
    from exon_duckdb_spark.operators import similarity
    from exon_duckdb_spark.operators.similarity import (
        _centroid_sim_structs,
        _norm,
        _numpy_assigners,
        _seed_centroids,
        dot,
        kmeans_refine,
    )

    if cents is None:
        if iters > 0:
            cents = kmeans_refine(df, nlist=nlist, iters=iters, vec_col=vec_col, id_col=id_col)
        else:
            cents = _seed_centroids(df, nlist, vec_col, id_col)
    base = df.select(
        F.col(id_col), F.col(vec_col).alias("_v"), _norm(F.col(vec_col)).alias("_n")
    )
    dims = len(cents[0][1]) if cents else 0
    if nlist * dims > similarity.IVF_LITERAL_LIMIT:
        assign_cid, _ = _numpy_assigners(cents, 1)
        cid = assign_cid(F.col("_v"))
    else:
        structs = F.array(*_centroid_sim_structs(cents, F.col("_v"), F.col("_n")))
        cid = (-F.array_max(structs).getField("nc")).cast("int")
    assigned = base.select(
        F.col(id_col), F.col("_v"), F.col("_n"), cid.alias("cid")
    )
    from pyspark import StorageLevel

    assigned = assigned.persist(StorageLevel.MEMORY_AND_DISK)
    # within-cluster pairs via the grouped kernel (one cid-keyed shuffle of
    # (id, vec, norm); all-pairs scoring inside the cluster task with the
    # bit-identical left-to-right fold) instead of a cid self-join that
    # ships both vectors per candidate pair — see _grouped_pairs_kernel
    id_dtype = df.schema[id_col].dataType.simpleString()
    out_schema = (
        f"id_a {id_dtype}, id_b {id_dtype}, _dot double, _na double, _nb double"
    )
    kern = _grouped_pairs_kernel(0, threshold - 5e-7)
    pairs_raw = (
        assigned.select(
            F.col(id_col).alias("_id"), F.col("_v").alias("_vec"), "_n", "cid"
        )
        .groupBy("cid")
        .applyInPandas(kern, out_schema)
    )
    cos = F.round(F.col("_dot") / (F.col("_na") * F.col("_nb")), 6)
    pairs = pairs_raw.select("id_b", "id_a", cos.alias("cos")).where(
        F.col("cos") >= threshold
    )
    best = pairs.groupBy("id_b").agg(F.min(F.struct("id_a", "cos")).alias("_m"))
    return (
        assigned.select(F.col(id_col), "cid")
        .join(best, F.col(id_col) == F.col("id_b"), "left")
        .select(
            F.col(id_col),
            "cid",
            F.col("_m").isNull().alias("keep"),
            F.col("_m.id_a").alias("dup_of"),
            F.col("_m.cos").alias("dup_cos"),
        )
    )


def _window_hash_udf(w: int):
    """Arrow UDF: text → [(i, h)] for every ``w``-token sliding window.

    Replicates ``md5_int(concat_ws(' ', slice(toks, i+1, w)))`` exactly
    (60-bit prefix of md5 over the space-joined window) but in ONE fused
    Python pass: the Catalyst HOF form re-materializes w tokens per window
    through an interpreted transform — O(n·w) UTF8String churn outside
    codegen — while C-level str.join + hashlib with a per-batch hash cache
    (duplicated windows, the common case by construction, hash once) runs
    the same work at a fraction of the constant. Measured at sf0.1: the
    window-hash stage drops 1.90 s → 1.06 s (q80 total, n=3 warm)."""
    import hashlib as _hl

    from pyspark.sql.types import (
        ArrayType,
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    out_type = ArrayType(
        StructType(
            [StructField("i", IntegerType()), StructField("h", LongType())]
        )
    )

    @F.pandas_udf(out_type)
    def f(s):
        cache: dict[str, int] = {}

        def h(win: str) -> int:
            v = cache.get(win)
            if v is None:
                v = int.from_bytes(_hl.md5(win.encode()).digest()[:8], "big") >> 4
                cache[win] = v
            return v

        out = []
        for x in s:
            toks = x.split(" ")
            m = len(toks) - w + 1
            out.append(
                [(i, h(" ".join(toks[i : i + w]))) for i in range(m)]
                if m > 0
                else []
            )
        return pd.Series(out)

    return f


def duplicated_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    w: int = 8,
    min_count: int = 2,
) -> DataFrame:
    """Exact-substring duplicate spans — the Spark re-expression of
    suffix-array substring dedup (Lee et al. 2022, "Deduplicating Training
    Data Makes Language Models Better"): find every maximal token region
    whose ``w``-token windows each occur ≥ ``min_count`` times corpus-wide
    (including self-repeats), so a pipeline can CUT the duplicated spans
    instead of dropping whole documents.

    Shape: per doc, all ``n-w+1`` sliding window hashes (one map-only
    fused Arrow pass, 60-bit md5 of the joined tokens — see
    :func:`_window_hash_udf`); a count-over-window on the hash marks
    duplicated windows in ONE hash-keyed shuffle (the r3 groupBy-count +
    semi-join form shuffled the wins table by h TWICE — once to aggregate,
    once to join back — for the same per-group distribution requirement
    and the same skew exposure; measured at sf0.1 the switch takes q80
    1.67 s → 0.92 s, results identical); then a per-doc gaps-and-islands
    window merges overlapping/adjacent duplicated windows into maximal
    spans. Two linear shuffles, text never shuffles — the distributed
    stand-in for a suffix array, which doesn't shard.

    Hash choice, measured: a 31-bit polynomial rolling hash over per-token
    hashes halves the window-hash stage (0.38 s vs 0.79 s at sf0.1) but at
    billions of windows its birthday collisions mint false duplicate spans;
    a collision-safe 62-bit double-polynomial costs the same as md5, so
    60-bit md5 keeps correctness for free.

    Returns (id_col, span_start, span_end, n_windows): token offsets with
    ``span_end`` exclusive.
    """
    from exon_duckdb_spark.operators.relational import ensure_parallelism

    fused = _window_hash_udf(w)
    wins = (
        ensure_parallelism(df, id_col)
        .select(F.col(id_col), F.explode(fused(F.col(text_col))).alias("e"))
        .select(id_col, F.col("e.i").alias("i"), F.col("e.h").alias("h"))
    )
    dup = (
        wins.withColumn("_c", F.count("*").over(Window.partitionBy("h")))
        .where(F.col("_c") >= min_count)
        .drop("_c")
    )
    wdw = Window.partitionBy(id_col).orderBy("i")
    # new island when this window starts past the previous span's end
    flagged = dup.withColumn(
        "_new",
        F.when(
            F.lag("i").over(wdw).isNull() | (F.col("i") > F.lag("i").over(wdw) + w),
            1,
        ).otherwise(0),
    )
    islands = flagged.withColumn(
        "_isl", F.sum("_new").over(wdw.rowsBetween(Window.unboundedPreceding, 0))
    )
    return (
        islands.groupBy(id_col, "_isl")
        .agg(
            F.min("i").alias("span_start"),
            (F.max("i") + w).alias("span_end"),
            F.count("*").alias("n_windows"),
        )
        .select(id_col, "span_start", "span_end", "n_windows")
    )


def remove_spans(
    df: DataFrame,
    spans: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Cut token spans out of documents — the apply side of
    :func:`duplicated_spans` (detect → cut, Lee et al.'s 'drop the
    duplicated substring, keep the document').

    ``spans`` carries (id_col, span_start, span_end) with exclusive ends
    (exactly what duplicated_spans emits; callers choose the keep policy —
    e.g. anti-join the corpus-first occurrence out of the span set first).
    Per doc the span list is collected (spans per doc are few and bounded
    by n_tokens/w), broadcast-free equi-joined on id, and the cut is one
    indexed higher-order filter — map-only after the one id-keyed join.
    Docs without spans pass through unchanged.

    Returns (id_col, dedup_text, n_tokens, n_tokens_removed).
    """
    spans_agg = spans.groupBy(id_col).agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("_spans")
    )
    joined = df.join(spans_agg, id_col, "left")
    toks = tokens(text_col)
    sp = F.coalesce(
        F.col("_spans"),
        F.array().cast("array<struct<span_start:int,span_end:int>>"),
    )
    kept = F.filter(
        toks,
        lambda t, i: ~F.exists(
            sp, lambda s: (i >= s["span_start"]) & (i < s["span_end"])
        ),
    )
    return joined.select(
        F.col(id_col),
        F.concat_ws(" ", kept).alias("dedup_text"),
        F.size(toks).cast("bigint").alias("n_tokens"),
        (F.size(toks) - F.size(kept)).cast("bigint").alias("n_tokens_removed"),
    )


def _hamming_blocks_expr(hash_col, bits: int, max_hamming: int):
    """The shared block decomposition of :func:`hamming_pairs` as a
    (widths, offsets, array-expression) triple — build, probe and the
    self-join must split fingerprints identically or pigeonhole recall
    breaks silently."""
    nblocks = int(max_hamming) + 1
    if nblocks > bits:
        raise ValueError(
            f"max_hamming+1 ({nblocks}) blocks need at least that many bits ({bits})"
        )
    base = bits // nblocks
    widths = [base + (1 if b < bits % nblocks else 0) for b in range(nblocks)]
    offs = [sum(widths[:b]) for b in range(nblocks)]
    col = F.col(hash_col) if isinstance(hash_col, str) else hash_col
    arr = F.array(
        *[
            F.shiftright(col, offs[b]).bitwiseAND(F.lit((1 << widths[b]) - 1))
            for b in range(nblocks)
        ]
    )
    return widths, offs, arr


def hamming_index_build(
    fp: DataFrame,
    path: str,
    hash_col: str = "dhash",
    id_col: str = "id",
    bits: int = 49,
    max_hamming: int = 4,
    mode: str = "overwrite",
) -> None:
    """Persist a Hamming block index over a fingerprint table — the MEDIA
    analog of :func:`lsh_index_build`: fingerprint the accumulated corpus
    ONCE (image dHash / audio energy / video frame hashes), then dedup
    every arriving batch against it with :func:`hamming_index_probe`
    instead of re-running the corpus self-join. Same daily-crawl pattern,
    same recall guarantee (the Charikar pigeonhole blocks are lossless
    for distance ≤ max_hamming, unlike minhash banding's S-curve).

    Layout: parquet partitioned by ``block``, rows ``(bval, id, fp)`` —
    ~24 B/asset/block, never pixels or samples; one directory per block
    keeps file counts flat, and dynamic partition pruning skips any block
    a probe batch happens not to exercise. ``bits``/``max_hamming`` are
    part of the index layout — probe with the SAME values (the lsh
    num_hashes/bands convention). NULL fingerprints (undecodable assets)
    are skipped.

    Files per block dir follow the shuffle's measured bytes, as in
    :func:`lsh_index_build`: the write is one rebalance on ``block``, so a
    block whose data exceeds
    ``spark.sql.adaptive.advisoryPartitionSizeInBytes`` fans out over
    several files and a small build adds one file per block dir (one per
    block with ``spark.sql.adaptive.enabled=false``). Fingerprints usually
    arrive from a decode UDF, the build's dominant cost; a rebalance runs
    it once, with no boundary-sampling job and no cached copy."""
    _w, _o, blocks = _hamming_blocks_expr(hash_col, bits, max_hamming)
    rows = fp.where(F.col(hash_col).isNotNull()).select(
        F.col(id_col).alias("id"),
        F.col(hash_col).alias("fp"),
        F.posexplode(blocks).alias("block", "bval"),
    )
    # the repartition is what AQE-off keeps; with AQE on it folds into the
    # rebalance (see lsh_index_build)
    rows.repartition("block").hint("rebalance", "block").write.mode(
        mode
    ).partitionBy("block").parquet(path)


def hamming_index_probe(
    new_fp: DataFrame,
    index: "DataFrame | str",
    hash_col: str = "dhash",
    id_col: str = "id",
    bits: int = 49,
    max_hamming: int = 4,
    broadcast_probe: bool = True,
) -> DataFrame:
    """Probe a new batch's fingerprints against a persisted
    :func:`hamming_index_build` index: (id_new, id_indexed, hamming) for
    every indexed asset within ``max_hamming`` bits of a batch asset —
    each pair exactly once (first matching block, the
    :func:`hamming_pairs` convention).

    Scale: the corpus-sized index NEVER shuffles — ``broadcast_probe``
    ships the batch's (block, bval) keys to the index partitions, so the
    probe is one broadcast hash join over a block-pruned parquet scan.
    Self-pairs are excluded by id, so re-probing an already-ingested
    batch is clean (idempotent daily re-runs)."""
    spark = new_fp.sparkSession
    idx = spark.read.parquet(index) if isinstance(index, str) else index
    nblocks = int(max_hamming) + 1
    _w, _o, blocks = _hamming_blocks_expr(hash_col, bits, max_hamming)
    probe = (
        new_fp.where(F.col(hash_col).isNotNull())
        .select(
            F.col(id_col).alias("id_new"),
            F.col(hash_col).alias("fp_new"),
            blocks.alias("_blk_new"),
            F.posexplode(blocks).alias("block", "bval"),
        )
    )
    if broadcast_probe:
        probe = F.broadcast(probe)
    # the index row carries only (block, bval, id, fp): rebuild its block
    # array from fp (a handful of shift/mask expressions — cheaper than
    # storing nblocks extra columns) for the first-match dedup
    _w2, _o2, idx_blocks = _hamming_blocks_expr(F.col("fp"), bits, max_hamming)
    joined = idx.withColumn("_blk_idx", idx_blocks).join(
        probe, ["block", "bval"]
    ).where(F.col("id") != F.col("id_new"))
    first_match = F.lit(True)
    for j in range(nblocks):
        first_match = first_match & (
            (F.col("block") <= F.lit(j))
            | (F.element_at(F.col("_blk_idx"), j + 1)
               != F.element_at(F.col("_blk_new"), j + 1))
        )
    ham = F.bit_count(F.col("fp").bitwiseXOR(F.col("fp_new")))
    return (
        joined.where(first_match)
        .where(ham <= max_hamming)
        .select(
            "id_new",
            F.col("id").alias("id_indexed"),
            ham.cast("int").alias("hamming"),
        )
    )
