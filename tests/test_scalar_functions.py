"""Golden tests for the scalar-function surface.

Golden values transcribed from the reference's sqllogictest corpus
(test/sql/exondb-release-with-deb-info/test_scalar_functions.test,
test_sam_flags.test, test/sql/exondb-align/test_align.test) via FIXTURES.md.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import exon_duckdb_spark.functions as fx


def one(spark, col):
    return spark.range(1).select(col.alias("v")).collect()[0]["v"]


def seq_vals(spark, expr_fn, values):
    df = spark.createDataFrame([(v,) for v in values], ["s"])
    return [r["v"] for r in df.select(expr_fn(F.col("s")).alias("v")).collect()]


class TestSequence:
    def test_gc_content(self, spark):
        vals = seq_vals(spark, fx.gc_content, ["ATGC", "ATGCGC", ""])
        assert vals[0] == pytest.approx(0.5)
        assert vals[1] == pytest.approx(2 / 3, abs=1e-6)
        assert vals[2] == 0.0
        df = spark.createDataFrame([(None,)], "s string")
        assert df.select(fx.gc_content("s").alias("v")).collect()[0]["v"] is None

    def test_complement(self, spark):
        assert seq_vals(spark, fx.complement, ["ATGC"]) == ["TACG"]
        with pytest.raises(Exception, match="invalid character"):
            seq_vals(spark, fx.complement, ["ATCGQ"])

    def test_reverse_complement_quirk(self, spark):
        # The reference's enshrined quirk: translate ATCG→CGAT, no reversal.
        assert seq_vals(spark, fx.reverse_complement, ["ATCG", "GGGG"]) == ["CGAT", "TTTT"]
        # The strict variant is the real reverse complement.
        assert seq_vals(spark, fx.reverse_complement_strict, ["GGGG", "ATCG"]) == ["CCCC", "CGAT"]

    def test_transcribe(self, spark):
        assert seq_vals(spark, fx.transcribe, ["ATCG"]) == ["AUCG"]
        with pytest.raises(Exception, match="invalid character"):
            seq_vals(spark, fx.transcribe, ["ATNN"])

    def test_reverse_transcribe(self, spark):
        assert seq_vals(spark, fx.reverse_transcribe, ["AUCG"]) == ["ATCG"]
        with pytest.raises(Exception, match="invalid character"):
            seq_vals(spark, fx.reverse_transcribe, ["AUNN"])

    def test_translate_dna_to_aa(self, spark):
        assert seq_vals(spark, fx.translate_dna_to_aa, ["ATGCGC"]) == ["MR"]
        with pytest.raises(Exception, match="unknown codon"):
            seq_vals(spark, fx.translate_dna_to_aa, ["NNN"])
        with pytest.raises(Exception, match="divisible by 3"):
            seq_vals(spark, fx.translate_dna_to_aa, ["ATGC"])

    def test_codon_sweep(self, spark):
        # Full 64-codon sweep in A,T,C,G enumeration order — golden string
        # from test_scalar_functions.test:71-74.
        bases = "ATCG"
        codons = [a + b + c for a in bases for b in bases for c in bases]
        sweep = "".join(codons)
        expected = "KNNKIIIMTTTTRSSR*YY*LFFLSSSS*CCWQHHQLLLLPPPPRRRREDDEVVVVAAAAGGGG"
        assert seq_vals(spark, fx.translate_dna_to_aa, [sweep]) == [expected]


class TestFastqGff:
    def test_quality_score_string_to_list(self, spark):
        assert seq_vals(spark, fx.quality_score_string_to_list, ["!#"]) == [[0, 2]]

    def test_quality_decode_column_sql_python_agree(self, spark):
        """Phred+33 decode at lengths 0, 1, 60, 61 and 10 000, plus NULL:
        the Column and SQL forms both equal ``[ord(c) - 33 for c in q]``."""
        from exon_duckdb_spark.functions.register import register_sql_functions

        register_sql_functions(spark)
        alphabet = "".join(chr(c) for c in range(33, 127))
        quals = [(alphabet * 107)[:n] for n in (0, 1, 60, 61, 10_000)] + [None]
        df = spark.createDataFrame([(i, q) for i, q in enumerate(quals)], "i int, q string")
        rows = df.select(
            "i",
            fx.quality_score_string_to_list("q").alias("col"),
            F.expr("quality_score_string_to_list(q)").alias("sql"),
        ).orderBy("i").collect()
        for r, q in zip(rows, quals):
            want = None if q is None else [ord(c) - 33 for c in q]
            assert r["col"] == want and r["sql"] == want

    def test_gff_parse_attributes(self, spark):
        vals = seq_vals(spark, fx.gff_parse_attributes, ["ID=x;locus_tag=y;"])
        assert vals == [{"ID": "x", "locus_tag": "y"}]
        with pytest.raises(Exception, match="invalid attribute"):
            seq_vals(spark, fx.gff_parse_attributes, ["ID"])

    def test_gff_attributes_index_digit_values(self, spark):
        """Regression: values whose edge chars equal their part index (0, 10,
        '1x') must survive — a bare F.trim in transform received the index
        as a trim-character set and stripped them."""
        vals = seq_vals(spark, fx.gff_parse_attributes, ["a=0;b=1x1;c=2"])
        assert vals == [{"a": "0", "b": "1x1", "c": "2"}]
        from exon_duckdb_spark.functions.gff import gff_attributes_to_map

        vals = seq_vals(spark, gff_attributes_to_map, ["doc_id=0;lang=1n;x=22"])
        assert vals == [{"doc_id": ["0"], "lang": ["1n"], "x": ["22"]}]

    def test_gtf_attributes_to_map(self, spark):
        vals = seq_vals(spark, fx.gtf_attributes_to_map, ['gene_id "g1"; transcript_id "t1";'])
        assert vals == [{"gene_id": ["g1"], "transcript_id": ["t1"]}]


class TestSam:
    def test_parse_cigar(self, spark):
        vals = seq_vals(spark, fx.parse_cigar, ["1M2M123S"])
        assert [(r["op"], r["len"]) for r in vals[0]] == [("M", 1), ("M", 2), ("S", 123)]
        with pytest.raises(Exception, match="invalid CIGAR"):
            seq_vals(spark, fx.parse_cigar, ["MMM"])

    def test_extract_from_cigar(self, spark):
        df = spark.createDataFrame(
            [("AACCAA", "2I2M2I"), ("AACCAAC", "2I2M2I1M")], ["seq", "cigar"]
        )
        rows = df.select(fx.extract_from_cigar("seq", "cigar").alias("v")).collect()
        assert (rows[0]["v"]["sequence_start"], rows[0]["v"]["sequence_end"], rows[0]["v"]["sequence"]) == (2, 4, "CC")
        assert (rows[1]["v"]["sequence_start"], rows[1]["v"]["sequence_end"], rows[1]["v"]["sequence"]) == (2, 7, "CCAAC")

    def test_cigar_reference_length(self, spark):
        df = spark.createDataFrame([("10M",), ("55M13394N21M",), ("2I2M2I",)], ["c"])
        vals = [r["v"] for r in df.select(fx.cigar_reference_length("c").alias("v")).collect()]
        assert vals == [10, 55 + 13394 + 21, 2]

    def test_flags(self, spark):
        # Golden pattern from test_sam_flags.test: each flag value with all
        # lower bits set flips the next predicate true; is_secondary(255)=False.
        df = spark.createDataFrame([(255,), (4095,), (1,)], ["flag"])
        rows = df.select(
            fx.is_segmented("flag").alias("seg"),
            fx.is_secondary("flag").alias("sec"),
            fx.is_supplementary("flag").alias("sup"),
            fx.is_duplicate("flag").alias("dup"),
        ).collect()
        assert (rows[0]["seg"], rows[0]["sec"], rows[0]["sup"]) == (True, False, False)
        assert (rows[1]["sec"], rows[1]["dup"], rows[1]["sup"]) == (True, True, True)
        assert (rows[2]["seg"], rows[2]["sec"]) == (True, False)

    def test_flag_masks_exhaustive(self, spark):
        for name, mask in fx.SAM_FLAGS.items():
            fn = getattr(fx, name)
            df = spark.createDataFrame([(mask,), (0,), (0xFFF ^ mask,)], ["flag"])
            vals = [r["v"] for r in df.select(fn("flag").alias("v")).collect()]
            assert vals == [True, False, False], name


class TestAlignment:
    def test_alignment_string(self, spark):
        df = spark.createDataFrame([("AACC", "AAACC")], ["t", "p"])
        v = df.select(fx.alignment_string_wfa_gap_affine("t", "p").alias("v")).collect()[0]["v"]
        assert v == "2M1D2M"

    def test_alignment_score(self, spark):
        df = spark.createDataFrame([("AACC", "AACC")], ["t", "p"])
        v = df.select(fx.alignment_score_wfa_gap_affine("t", "p").alias("v")).collect()[0]["v"]
        assert v == 0.0

    def test_match_must_be_nonpositive(self, spark):
        with pytest.raises(ValueError, match="match"):
            fx.alignment_string_wfa_gap_affine(F.lit("A"), F.lit("A"), 1, 1, 1, match=1)

    def test_batched_dp_matches_scalar_reference(self, spark):
        """The batched across-pairs kernels must stay bit-identical to the
        per-pair scalar DP (_affine_align), including empty strings, nulls
        interleaved, mixed lengths (slab sorting/padding) and tie-broken
        CIGARs. Runs through the real UDFs so slabbing + encode are covered."""
        import random

        random.seed(23)
        rnd = lambda n: "".join(random.choice("ACGT") for _ in range(n))
        pairs = [(rnd(random.randint(0, 30)), rnd(random.randint(0, 30))) for _ in range(60)]
        pairs += [("", ""), ("A", ""), ("", "ACGT"), (None, "AC"), ("AC", None)]
        df = spark.createDataFrame(pairs, ["t", "p"]).coalesce(1)
        rows = df.select(
            "t", "p",
            fx.alignment_string_wfa_gap_affine("t", "p").alias("cigar"),
            fx.alignment_score_wfa_gap_affine("t", "p").alias("score"),
        ).collect()
        from exon_duckdb_spark.functions.alignment import _affine_align

        for r in rows:
            if r["t"] is None or r["p"] is None:
                assert r["cigar"] is None and r["score"] is None
            else:
                pen, cig = _affine_align(r["t"], r["p"], 0, 4, 6, 2)
                assert r["cigar"] == cig and r["score"] == -float(pen)

    def test_banded_routing_matches_scalar_reference(self):
        """VERDICT r4 item #6: the banded score path (probe band +
        escape-cost certificate + escalation/full fallback) must be EXACT —
        every routed score equals the scalar oracle, across mutation rates
        (probe-certified), moderate divergence (escalated bands), random
        pairs (full fallback), length skews, suffix overlaps, empties, and
        penalty regimes including negative match, zero gap_open, and the
        gap_open<0 guard that bypasses banding entirely."""
        import random

        from exon_duckdb_spark.functions.alignment import (
            _affine_align,
            _route_scores,
        )

        random.seed(31)
        rnd = lambda n: "".join(random.choice("ACGT") for _ in range(n))

        def mutate(s, rate):
            out = []
            for c in s:
                r = random.random()
                if r < rate / 3:
                    continue
                if r < 2 * rate / 3:
                    out.append(random.choice("ACGT"))
                    out.append(c)
                elif r < rate:
                    out.append(random.choice("ACGT"))
                else:
                    out.append(c)
            return "".join(out)

        cases = []
        for _ in range(80):
            n = random.randint(0, 220)
            a = rnd(n)
            kind = random.random()
            if kind < 0.4:
                cases.append((a, mutate(a, random.choice([0.01, 0.05, 0.15, 0.3]))))
            elif kind < 0.6:
                cases.append((a, rnd(random.randint(0, 220))))
            elif kind < 0.8:
                cases.append((a, a[random.randint(0, n):] if n else ""))
            else:
                cases.append((a, a))
        cases += [("", ""), ("A", ""), ("", "ACGT"), ("AACC", "AAACC"),
                  ("ACGT" * 50, "ACGT" * 30)]
        for pens in [(0, 4, 6, 2), (-2, 4, 6, 2), (0, 1, 10, 1),
                     (-5, -1, 0, 3), (0, 4, 2, 1), (0, 4, -1, 2)]:
            got = _route_scores([a for a, b in cases], [b for a, b in cases], *pens)
            for i, (a, b) in enumerate(cases):
                assert got[i] == _affine_align(a, b, *pens)[0], (pens, i, a, b)

    def test_banded_cigar_matches_scalar_reference(self):
        """The banded CIGAR path (probe + STRICT certificate + band-
        coordinate tables/traceback) must reproduce the scalar oracle's
        CIGAR BIT-FOR-BIT — tie decisions included — across mutation
        rates, random pairs (full fallback), suffix overlaps, the
        block-swap tie case, and penalty regimes."""
        import random

        from exon_duckdb_spark.functions.alignment import (
            _affine_align,
            _route_cigars,
        )

        random.seed(17)
        rnd = lambda n: "".join(random.choice("ACGT") for _ in range(n))

        def mutate(s, rate):
            out = []
            for c in s:
                r = random.random()
                if r < rate / 3:
                    continue
                if r < 2 * rate / 3:
                    out.append(random.choice("ACGT"))
                    out.append(c)
                elif r < rate:
                    out.append(random.choice("ACGT"))
                else:
                    out.append(c)
            return "".join(out)

        cases = []
        for _ in range(50):
            n = random.randint(0, 200)
            a = rnd(n)
            kind = random.random()
            if kind < 0.5:
                cases.append((a, mutate(a, random.choice([0.02, 0.1, 0.3]))))
            elif kind < 0.7:
                cases.append((a, rnd(random.randint(0, 200))))
            else:
                cases.append((a, a[random.randint(0, n):] if n else ""))
        P, Q = rnd(17), rnd(60)
        cases += [("", ""), ("A", ""), ("AACC", "AAACC"), (P + Q, Q + P)]
        for pens in [(0, 4, 6, 2), (-2, 4, 6, 2), (0, 1, 10, 1)]:
            got = _route_cigars([a for a, b in cases], [b for a, b in cases], *pens)
            for i, (a, b) in enumerate(cases):
                assert got[i] == _affine_align(a, b, *pens)[1], (pens, i, a, b)

    def test_banded_escalation_tie_is_exact(self):
        """Regression (round-5 review): a block-swap pair (P+Q, Q+P),
        |P|=17, has its optimum at EXACTLY LB(16)=80 with diagonal
        excursion ±17. Batched with extreme-delta mates that widen the
        probe slab band, the probe finds the swap path (s8=80) but the
        escalated w=16 band — run over a different slab subset — cannot
        represent it (S_16=192). A non-strict stop (LB(w) >= s8) returned
        192 silently; the strict LB(w) > s8 stop escalates to w=32 and
        returns the true 80."""
        import random

        from exon_duckdb_spark.functions.alignment import (
            _affine_align,
            _route_scores,
        )

        random.seed(3)
        rnd = lambda n: "".join(random.choice("ACGT") for _ in range(n))
        P, Q = rnd(17), rnd(60)
        a, b = P + Q, Q + P
        batch_a, batch_b = [a], [b]
        for d in (-20, 20):
            s = rnd(80)
            batch_a.append(s)
            batch_b.append(s[: 80 + d] if d < 0 else s + rnd(d))
        got = _route_scores(batch_a, batch_b, 0, 4, 6, 2)
        for i, (x, y) in enumerate(zip(batch_a, batch_b)):
            assert got[i] == _affine_align(x, y, 0, 4, 6, 2)[0], (i, got[i])

    def test_large_penalties_promote_to_int64(self, spark):
        """User-supplied penalties big enough to wrap int32 cells must
        promote the batched DP to int64 and still match the scalar oracle
        (which computes in Python ints) — ADVICE r3 overflow guard."""
        from exon_duckdb_spark.functions.alignment import (
            _affine_align,
            _dp_dtype,
        )
        import numpy as np

        big = 500_000_000  # _INF + big ≫ 2^31
        assert _dp_dtype(0, big, big, big, 30, 30) == np.int64
        assert _dp_dtype(0, 4, 6, 2, 200, 200) == np.int32
        df = spark.createDataFrame(
            [("AACC", "AAACC"), ("ACGT", "TGCA")], ["t", "p"]
        ).coalesce(1)
        rows = df.select(
            "t", "p",
            fx.alignment_string_wfa_gap_affine(
                "t", "p", mismatch=big, gap_open=big, gap_ext=big
            ).alias("cigar"),
            fx.alignment_score_wfa_gap_affine(
                "t", "p", mismatch=big, gap_open=big, gap_ext=big
            ).alias("score"),
        ).collect()
        for r in rows:
            pen, cig = _affine_align(r["t"], r["p"], 0, big, big, big)
            assert r["cigar"] == cig and r["score"] == -float(pen)

    def test_sql_null_propagation_all_arities(self, spark):
        """A SQL NULL in ANY argument (operand, penalty, memory model)
        yields NULL, not a TypeError — ADVICE r3 null-propagation fix."""
        from exon_duckdb_spark.functions.register import register_all

        register_all(spark)
        rows = spark.sql(
            """SELECT
                 alignment_string_wfa_gap_affine(NULL, 'AC') AS a,
                 alignment_string_wfa_gap_affine('AC', 'AC', CAST(NULL AS INT),
                     6, 2, 'memory_low') AS b,
                 alignment_score_wfa_gap_affine('AC', 'AC', 0, 4, 6,
                     CAST(NULL AS INT), CAST(NULL AS STRING)) AS c,
                 alignment_string_wfa_gap_affine('AC', 'AC', 4, 6, 2,
                     'memory_low') AS ok
            """
        ).collect()[0]
        assert rows["a"] is None and rows["b"] is None and rows["c"] is None
        assert rows["ok"] == "2M"


def test_exondb_version(spark):
    assert one(spark, fx.exondb_version()) == "0.3.9"
