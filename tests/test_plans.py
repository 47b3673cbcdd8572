"""Plan-hygiene regression tests: the scale guarantees (pushdown, pruning,
join strategy) asserted on the optimized plans so they can't silently rot.
Uses the exon_duckdb_spark.plans inspection helpers."""

from __future__ import annotations

import __spark_entry__ as entry
from pyspark.sql import functions as F

from exon_duckdb_spark.plans import (
    assert_no_cartesian,
    explain_formatted,
    join_strategies,
    pushed_filters,
    read_schemas,
)

SF = "/root/testdata/sf0.001"


def test_filter_pushdown_reaches_scan(spark):
    df = entry.q01_pricing_summary(spark, SF)
    assert any("LessThanOrEqual(l_shipdate" in f for f in pushed_filters(df))
    # column pruning: unused lineitem columns don't reach the scan
    assert all("l_partkey" not in s for s in read_schemas(df))


def test_star_join_broadcasts_dims(spark):
    s = join_strategies(entry.q03_revenue_by_nation(spark, SF))
    assert s["BroadcastHashJoin"] >= 3  # customer, nation, region
    assert s["CartesianProduct"] == 0


def test_selective_filter_pushdown(spark):
    fs = pushed_filters(entry.q06_revenue_filter_agg(spark, SF))
    assert "GreaterThanOrEqual(l_discount,0.03)" in fs
    assert "LessThan(l_quantity,20.0)" in fs


def test_embedding_scan_prunes_columns(spark):
    p = explain_formatted(entry.q27_cosine_topk(spark, SF))
    assert "label" not in p  # embeddings.label is never read


def test_lsh_candidates_are_equi_join(spark):
    """The LSH pair generation must be an equi join (hashable shuffle key),
    never a nested-loop cross product."""
    df = entry.q22_minhash_lsh_pairs(spark, SF)
    assert_no_cartesian(df)
    assert join_strategies(df)["BroadcastNestedLoopJoin"] == 0


def test_ann_multi_table_has_no_distinct_shuffle(spark):
    """Multi-table ANN dedups candidates MAP-SIDE (earliest colliding table
    filter), so the plan must carry no aggregate-based distinct: the only
    shuffle is the rank window's partitioning."""
    df = entry.q32_ann_topk(spark, SF)
    p = explain_formatted(df)
    assert "HashAggregate" not in p and "SortAggregate" not in p
    assert join_strategies(df)["BroadcastNestedLoopJoin"] == 0


def test_embedding_dedup_multi_table_has_no_distinct_shuffle(spark):
    from exon_duckdb_spark.operators.dedup import embedding_dup_pairs

    emb = spark.read.parquet(SF + "/embeddings.parquet")
    df = embedding_dup_pairs(emb, threshold=0.5, planes=4, tables=3)
    p = explain_formatted(df)
    assert "HashAggregate" not in p and "SortAggregate" not in p
    assert_no_cartesian(df)


def test_ann_evaluator_follows_size_cutoff(spark):
    """Each ANN family builds literal Column expressions up to its size
    cutoff and an Arrow-batched numpy UDF (an ArrowEvalPython node) past
    it — one case on each side of the cutoff, per family."""
    from exon_duckdb_spark.operators import pq, similarity

    emb = spark.createDataFrame(
        [(i, [float(i + 1)]) for i in range(3)], "vec_id long, embedding array<double>"
    )

    def ann(size):  # tables × planes × dims
        return similarity.ann_topk(emb, emb, planes=1, tables=1, dims=size)

    def ivf(size):  # nlist × dims, with 1-dim vectors
        return similarity.ivf_topk(emb, emb, nlist=size)

    def pq_enc(size):  # m × ksub × dsub, with m = ksub = 1
        return pq.pq_encode(emb, [[[0.0] * size]])

    for build, limit in (
        (ann, similarity.CODES_LITERAL_LIMIT),
        (ivf, similarity.IVF_LITERAL_LIMIT),
        (pq_enc, pq.PQ_LITERAL_LIMIT),
    ):
        arrow = [
            "ArrowEvalPython" in explain_formatted(build(n)) for n in (limit, limit + 1)
        ]
        assert arrow == [False, True], (build.__name__, limit, arrow)


def test_pq_lloyd_round_is_one_shuffle(spark):
    """A PQ training round must scan the corpus once: a single groupBy
    (j, code) aggregation — exactly one Exchange in the plan, with partial
    aggregation below it."""
    from exon_duckdb_spark.operators.pq import _lloyd_round_agg, pq_codebooks

    emb = spark.read.parquet(SF + "/embeddings.parquet")
    books = pq_codebooks(emb, m=4, ksub=4, dims=64)
    # count tree nodes ("Exchange (n)"), not the details section repeats
    p = explain_formatted(_lloyd_round_agg(emb, books))
    assert p.count("Exchange (") == 1
    assert p.count("HashAggregate (") == 2  # partial + final


def test_perplexity_score_stats_are_broadcast(spark):
    """perplexity_score's corpus stats row must come back as a broadcast
    (the corpus tf table never re-shuffles for it), and the vocab join must
    be an equi join — no nested loop."""
    df = entry.q78_perplexity_score(spark, SF)
    s = join_strategies(df)
    # join_strategies counts formatted-plan matches (tree + details = 2 per
    # node): exactly one 1-row BNLJ for the broadcast stats, nothing else
    assert s["BroadcastNestedLoopJoin"] <= 2 and s["CartesianProduct"] == 0
    assert_no_cartesian(df)
    p = explain_formatted(df)
    assert "HashAggregate" in p  # partial aggregation on the tf pass


def test_asof_join_is_single_window_pass(spark):
    """asof_join must not expand into a range join: no join operator at all,
    one window over the union."""
    df = entry.q18_asof_join(spark, SF)
    assert_no_cartesian(df)
    s = join_strategies(df)
    assert s["BroadcastNestedLoopJoin"] == 0
    assert explain_formatted(df).count("Window") >= 1


def test_quality_ops_are_map_only(spark):
    """Repetition stats, quality filter, and PII scrub must compile to
    shuffle-free map-only plans (whole-stage codegen over the scan)."""
    for q in (
        entry.q60_repetition_stats,
        entry.q61_quality_filter,
        entry.q62_pii_scrub,
    ):
        p = explain_formatted(q(spark, SF))
        assert "Exchange" not in p, f"unexpected shuffle in {q.__name__}"
        # formatted mode marks whole-stage-codegen operators with a `*`
        # (lambda HOF projections stay interpreted — that's expected)
        assert "* ColumnarToRow" in p


def test_pq_encode_is_map_only(spark):
    """PQ encoding assigns codes with literal sub-centroid arrays — a pure
    map pass; the corpus must not shuffle to be compressed."""
    p = explain_formatted(entry.q73_pq_codes(spark, SF))
    assert "Exchange" not in p, "unexpected shuffle in pq_encode"


def test_chunk_documents_is_map_only(spark):
    """Chunking is tokenize + per-row sequence explode — a generator, not a
    shuffle; at 100 TB it must stay a single pass over the corpus."""
    p = explain_formatted(entry.q71_chunk_documents(spark, SF))
    assert "Exchange" not in p, "unexpected shuffle in chunk_documents"
    assert "Generate" in p  # the explode fan-out


def test_decontaminate_broadcasts_benchmark(spark):
    """The contamination semi-join must broadcast the (small) benchmark gram
    set — the corpus side must not shuffle for it."""
    s = join_strategies(entry.q63_decontaminate(spark, SF))
    assert s["BroadcastHashJoin"] >= 1   # gram-hash semi-join
    assert s["CartesianProduct"] == 0


def test_ngram_consumers_run_without_lambdas(spark):
    """The five consumers that explode word n-grams build them with
    quality.ngram_rows (explode(sequence) plus concat_ws/element_at per
    row), so their executed plans hold no interpreted lambda and the gram
    stage runs in whole-stage codegen."""
    from exon_duckdb_spark import operators as ops
    from exon_duckdb_spark.operators.quality import _bigram_tf_tables
    from exon_duckdb_spark.operators.sketches import bloom_decontaminate

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    bench = docs.where(F.col("doc_id") % 97 == 3)
    tf2, _, ctx = _bigram_tf_tables(docs, "text", "doc_id")
    try:
        frames = {
            "decontaminate": ops.decontaminate(docs, bench, n=8),
            "contamination_report": ops.contamination_report(docs, bench, n=8),
            "bloom_decontaminate": bloom_decontaminate(docs, bench, n=8),
            "top_ngrams": ops.top_ngrams(docs, n=2, k=10),
            "_bigram_tf_tables": tf2,
        }
        for name, df in frames.items():
            plan = df._jdf.queryExecution().executedPlan().toString()
            assert "Generate explode" in plan, name  # premise: grams are in it
            assert "lambdafunction" not in plan, name
    finally:
        tf2.unpersist()
        ctx.unpersist()


def test_contamination_report_shares_the_id_exchange(spark):
    """The per-doc (id, gram hash) dedup and the id aggregate reuse the id
    partitioning, and no join back to the corpus is needed: the plan holds
    the under-split scan's id shuffle, the benchmark's distinct shuffle
    and its broadcast — three exchanges."""
    from exon_duckdb_spark import operators as ops

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    bench = docs.where(F.col("doc_id") % 97 == 3)
    rep = ops.contamination_report(docs, bench, n=8)
    plan = rep._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange ") <= 3, plan


def test_bm25_corpus_side_never_shuffles(spark):
    """BM25 must be: scan -> map-only scoring joined with a broadcast
    single-row stats aggregate -> TakeOrderedAndProject. The only Exchange
    allowed anywhere is the SinglePartition reduce of the stats row."""
    p = explain_formatted(entry.q64_bm25_topk(spark, SF))
    assert "TakeOrderedAndProject" in p
    import re as _re

    # formatted mode details each node as "(N) Exchange\n...\nArguments: ..."
    for m in _re.finditer(r"\(\d+\) Exchange\n(?:.*\n)*?Arguments: ([^\n]*)", p):
        assert "SinglePartition" in m.group(1), m.group(1)


def test_ensure_parallelism_probes_without_rdd(spark):
    """VERDICT r4 item #7: the under-split guard must not materialize the
    RDD (py4j + full physical-planning pass per call). The stat-based
    estimator must (a) see single-split tiny scans so the fan-out still
    fires, (b) return None for non-file plans (treated as already
    parallel), (c) honor an explicit n_splits hint."""
    from exon_duckdb_spark.operators.relational import (
        _estimated_scan_splits,
        ensure_parallelism,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    assert _estimated_scan_splits(docs) == 1
    fanned = ensure_parallelism(docs, "doc_id")
    assert "Exchange" in explain_formatted(fanned)

    assert _estimated_scan_splits(spark.range(10)) is None
    # hint path: caller-known split count suppresses the estimate
    hinted = ensure_parallelism(docs, "doc_id", n_splits=64)
    assert "Exchange" not in explain_formatted(hinted)

    # (d) non-splittable compression: a gz bigger than maxPartitionBytes is
    # still ONE split (round-5 review: chunking it would skip the fan-out
    # in exactly the single-gz-member regime the guard exists for)
    import gzip
    import json as _json
    import os
    import tempfile

    d = tempfile.mkdtemp()
    p = os.path.join(d, "docs.json.gz")
    with gzip.open(p, "wt") as fh:
        for i in range(5000):
            fh.write(_json.dumps({"doc_id": i, "text": "lorem ipsum " * 30}) + "\n")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "16384")
    try:
        gdf = spark.read.json(p)
        assert _estimated_scan_splits(gdf) == 1
        assert "Exchange" in explain_formatted(ensure_parallelism(gdf, "doc_id"))
    finally:
        spark.conf.unset("spark.sql.files.maxPartitionBytes")

    # source check: the guard itself must never touch df.rdd (docstrings
    # may cite it as the thing being avoided — compare code tokens only)
    import inspect
    import io
    import tokenize

    import exon_duckdb_spark.operators.relational as rel

    src = inspect.getsource(rel)
    code_tokens = [
        t.string
        for t in tokenize.generate_tokens(io.StringIO(src).readline)
        if t.type == tokenize.NAME
    ]
    assert "rdd" not in code_tokens


def test_bigram_contexts_derive_from_bigram_table(spark):
    """VERDICT r4 item #5: bigram_perplexity_score must serve context
    counts (and V) from the persisted bigram table — ONE corpus scan in
    the whole plan. Formatted explain assigns every physical node a
    stable id and prints the cached tf2 subtree once per InMemoryTableScan
    reference, so the invariant is 'all Scan parquet mentions are the SAME
    node', not 'one mention'."""
    import re as _re

    df = entry.q78_perplexity_score(spark, SF)  # uni + bi branches union
    p = explain_formatted(df)
    ids = set(_re.findall(r"Scan parquet\s*\((\d+)\)", p))
    ids |= set(_re.findall(r"\((\d+)\) Scan parquet", p))
    # the union carries the unigram branch's own scan: 2 distinct scans
    # total (one per branch), NOT 3 (the old raw-text context pass)
    assert len(ids) == 2, sorted(ids)

    from exon_duckdb_spark import operators as ops

    bi = ops.bigram_perplexity_score(spark.read.parquet(f"{SF}/documents.parquet"))
    pb = explain_formatted(bi)
    ids = set(_re.findall(r"Scan parquet\s*\((\d+)\)", pb))
    ids |= set(_re.findall(r"\((\d+)\) Scan parquet", pb))
    assert len(ids) == 1, sorted(ids)


def test_bucketed_join_skips_exchange(spark, tmp_path):
    """Two tables co-bucketed on the join key: the sort-merge join plan
    contains NO shuffle Exchange on either side — the 'pay the doc_id
    shuffle once at ingest' guarantee bucketed_write documents. The same
    join over plain parquet MUST show exchanges (premise guard)."""
    from exon_duckdb_spark.operators import bucketed_write

    old_wh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        a = spark.range(0, 1000).select(
            F.col("id").alias("doc_id"), (F.col("id") % 7).alias("x")
        )
        b = spark.range(0, 1000).select(
            F.col("id").alias("doc_id"), (F.col("id") % 3).alias("y")
        )
        bucketed_write(a, "bj_a", "doc_id", n_buckets=4, sort_cols="doc_id")
        bucketed_write(b, "bj_b", "doc_id", n_buckets=4, sort_cols="doc_id")
        j = spark.table("bj_a").join(spark.table("bj_b"), "doc_id")
        assert j.count() == 1000
        plan = explain_formatted(j)
        assert "Exchange" not in plan, plan
        # premise guard: the un-bucketed join does exchange both sides
        pa, pb = str(tmp_path / "pa"), str(tmp_path / "pb")
        a.write.parquet(pa)
        b.write.parquet(pb)
        jp = spark.read.parquet(pa).join(spark.read.parquet(pb), "doc_id")
        assert "Exchange" in explain_formatted(jp)
        # co-bucketed aggregation on the bucket key also skips the exchange
        agg = spark.table("bj_a").groupBy("doc_id").agg(F.sum("x"))
        assert "Exchange" not in explain_formatted(agg)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_wh)
        spark.sql("DROP TABLE IF EXISTS bj_a")
        spark.sql("DROP TABLE IF EXISTS bj_b")


def _split_reader_frames(spark, tmp_path):
    """(name, DataFrame, planned split count) for every split-parser read
    and region query: a 4-split FASTA, a BAM, a BCF, a bgzip'd VCF, and the
    three indexed region queries."""
    from exon_duckdb_spark.sources import bam_query, bcf_query, read_bam, read_bcf
    from exon_duckdb_spark.sources import read_fasta, read_vcf, vcf_query
    from exon_duckdb_spark.sources.indexes import index_bam, index_bcf, index_vcf
    from exon_duckdb_spark.sources.indexes import plan_region_splits
    from exon_duckdb_spark.sources.splits import plan_splits
    from tests.test_indexes import REGION, _write_bam, _write_bcf, _write_vcf

    fa = tmp_path / "x.fasta"
    fa.write_text("".join(f">s{i:03d} d\n{'ACGT' * (i % 9 + 1)}\n" for i in range(200)))
    sb = fa.stat().st_size // 4 + 1
    out = [("fasta", read_fasta(spark, str(fa), split_bytes=sb),
            len(plan_splits(str(fa), split_bytes=sb)))]
    for fmt, name, write, index, read, query in (
        ("bam", "x.bam", _write_bam, index_bam, read_bam, bam_query),
        ("vcf", "x.vcf.gz", _write_vcf, index_vcf, read_vcf, vcf_query),
        ("bcf", "x.bcf", _write_bcf, index_bcf, read_bcf, bcf_query),
    ):
        p = str(tmp_path / name)
        write(p)
        index(p)
        out.append((fmt, read(spark, p), len(plan_splits(p, "none"))))
        out.append((f"{fmt}_query", query(spark, p, REGION),
                    len(plan_region_splits(p, REGION))))
    return out


def test_split_reads_are_one_task_per_split_without_shuffle(spark, tmp_path):
    """Every split-parser read and region query is one task per planned
    split or chunk-range group, placed without an Exchange."""
    frames = _split_reader_frames(spark, tmp_path)
    assert frames[0][0] == "fasta" and frames[0][2] == 4
    for name, df, n_splits in frames:
        assert "Exchange" not in explain_formatted(df), name
        assert df.rdd.getNumPartitions() == n_splits, name
        assert df.count() > 0, name


def test_multi_split_fasta_keeps_file_order(spark, tmp_path):
    from exon_duckdb_spark.sources import read_fasta

    fa = tmp_path / "o.fasta"
    fa.write_text("".join(f">s{i:04d}\n{'AC' * (i % 13 + 1)}\n" for i in range(1000)))
    df = read_fasta(spark, str(fa), split_bytes=fa.stat().st_size // 6)
    assert df.rdd.getNumPartitions() >= 6
    assert [r["id"] for r in df.collect()] == [f"s{i:04d}" for i in range(1000)]
