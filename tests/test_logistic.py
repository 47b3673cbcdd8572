"""Distributed logistic-regression quality classifier: trajectory-pinned
training + map-only scoring.

The reference below replays training in plain Python with the SAME
quantize/round conventions (stable_avg's floor(x·1e6+0.5) addends,
half-up weight rounding) — independent of the operator's Spark
expressions, so a drift in either side surfaces."""

from __future__ import annotations

import math

import pytest

from exon_duckdb_spark import operators as ops


def _ref_train(rows, iters, lr=1.0, digits=6):
    """rows: list of (features list, label 0/1)."""
    s = 10**digits
    p = len(rows[0][0])
    w, b = [0.0] * p, 0.0
    traj = []
    for _ in range(iters):
        qs = [0] * (p + 1)
        for x, y in rows:
            m = b
            for wj, xj in zip(w, x):
                m += wj * xj
            err = 1.0 / (1.0 + math.exp(-m)) - y
            for j in range(p):
                qs[j] += math.floor(err * x[j] * s + 0.5)
            qs[p] += math.floor(err * s + 0.5)
        n = len(rows)
        g = [q / (n * s) for q in qs]
        w = [math.floor((wj - lr * g[j]) * s + 0.5) / s for j, wj in enumerate(w)]
        b = math.floor((b - lr * g[p]) * s + 0.5) / s
        traj.append((list(w), b))
    return traj


def _toy_rows():
    # a linearly-separable-ish band: label = x0 + x1 > 1 with some overlap
    rows = []
    for i in range(200):
        x0 = ((i * 37) % 100) / 100.0
        x1 = ((i * 61) % 100) / 100.0
        y = 1 if x0 + x1 + (((i * 17) % 10) - 4.5) / 25.0 > 1.0 else 0
        rows.append(([x0, x1], y))
    return rows


class TestLogisticRegression:
    def test_trajectory_matches_scalar_reference(self, spark):
        rows = _toy_rows()
        df = spark.createDataFrame(
            [(x[0], x[1], y) for x, y in rows], "f0 double, f1 double, y int"
        )
        traj = ops.logistic_regression_train(df, ["f0", "f1"], "y", iters=5)
        ref = _ref_train(rows, iters=5)
        assert traj == ref

    def test_sql_form_quoting_and_digits(self, spark):
        """The r14 one-SQL-call training loop must (a) quote feature and
        label identifiers (spaces, dashes — valid DataFrame column names)
        and (b) honor non-default ``digits`` in the stable_avg twin; the
        trajectory still matches the scalar reference bit-for-bit."""
        rows = _toy_rows()[:60]
        df = spark.createDataFrame(
            [(x[0], x[1], y) for x, y in rows],
            "`feat 0` double, `feat-1` double, `the label` int",
        )
        traj = ops.logistic_regression_train(
            df, ["feat 0", "feat-1"], "the label", iters=3, digits=4
        )
        ref = _ref_train(rows, iters=3, digits=4)
        assert traj == ref

    def test_sql_form_brace_and_backtick_identifiers(self, spark):
        """Column names holding ``{``, ``}`` and a backtick survive both
        the identifier quoting and the ``{frame}`` formatter of the
        one-SQL-call training loop."""
        rows = _toy_rows()[:60]
        df = spark.createDataFrame(
            [(x[0], x[1], y) for x, y in rows], ["a{b}`c", "f}1", "{y"]
        )
        traj = ops.logistic_regression_train(df, ["a{b}`c", "f}1"], "{y", iters=3)
        assert traj == _ref_train(rows, iters=3)

    def test_learns_the_band(self, spark):
        rows = _toy_rows()
        df = spark.createDataFrame(
            [(x[0], x[1], y) for x, y in rows], "f0 double, f1 double, y int"
        )
        traj = ops.logistic_regression_train(df, ["f0", "f1"], "y", iters=25, lr=2.0)
        w, b = traj[-1]
        scored = ops.logistic_score(df, ["f0", "f1"], w, b)
        acc = scored.where(
            (scored["pred"].cast("int")) == scored["y"]
        ).count() / len(rows)
        assert acc >= 0.85, acc
        assert w[0] > 0 and w[1] > 0  # both features push toward keep

    def test_score_is_stable_rounded(self, spark):
        df = spark.createDataFrame([(0.5, 0.5, 1)], "f0 double, f1 double, y int")
        out = ops.logistic_score(df, ["f0", "f1"], [1.0, 1.0], -1.0).collect()[0]
        m = 1.0 * 0.5 + 1.0 * 0.5 - 1.0
        want = math.floor(1.0 / (1.0 + math.exp(-m)) * 1e6 + 0.5) / 1e6
        assert out["prob"] == want and out["pred"] == (want >= 0.5)

    def test_arg_guards(self, spark):
        df = spark.createDataFrame([(0.1, 1)], "f0 double, y int")
        with pytest.raises(ValueError, match="iters"):
            ops.logistic_regression_train(df, ["f0"], "y", iters=0)
        with pytest.raises(ValueError, match="feature"):
            ops.logistic_regression_train(df, [], "y")
        with pytest.raises(ValueError, match="weights"):
            ops.logistic_score(df, ["f0"], [1.0, 2.0], 0.0)

    def test_distills_the_quality_gate(self, spark):
        """The intended composition: quality_filter's keep labels +
        its own 6dp metrics as features -> a smooth scorer that agrees
        with the hard gate on most documents."""
        from pyspark.sql import functions as F

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        qf = ops.quality_filter(docs).select(
            "doc_id",
            (F.least(F.col("n_tokens"), F.lit(200)) / 200.0).alias("x_tok"),
            (F.col("avg_token_len") / 12.0).alias("x_len"),
            F.col("alpha_ratio").alias("x_alpha"),
            (F.least(F.col("stopword_hits"), F.lit(20)) / 20.0).alias("x_stop"),
            F.col("dup_3gram_frac").alias("x_dup"),
            F.col("keep").cast("int").alias("y"),
        ).persist()
        feats = ["x_tok", "x_len", "x_alpha", "x_stop", "x_dup"]
        traj = ops.logistic_regression_train(qf, feats, "y", iters=12, lr=2.0)
        w, b = traj[-1]
        scored = ops.logistic_score(qf, feats, w, b)
        n = qf.count()
        agree = scored.where(scored["pred"].cast("int") == scored["y"]).count()
        assert agree / n >= 0.8, (agree, n)
        spark.catalog.clearCache()


class TestAucScore:
    def test_matches_sklearn_free_reference(self, spark):
        # independent O(P*N) pairwise reference with half-credit ties
        rows = []
        for i in range(120):
            p = ((i * 37) % 97) / 100.0
            y = 1 if ((i * 53) % 100) < (30 + 50 * p) else 0
            rows.append((p, y))
        df = spark.createDataFrame(rows, "prob double, y int")
        got = ops.auc_score(df).collect()[0]
        pos = [p for p, y in rows if y == 1]
        neg = [p for p, y in rows if y == 0]
        num = sum(
            1.0 if pp > pn else (0.5 if pp == pn else 0.0)
            for pp in pos
            for pn in neg
        )
        want = num / (len(pos) * len(neg))
        assert abs(got["auc"] - want) < 1e-12
        assert (got["n_pos"], got["n_neg"]) == (len(pos), len(neg))

    def test_perfect_and_random(self, spark):
        perfect = spark.createDataFrame(
            [(0.9, 1), (0.8, 1), (0.2, 0), (0.1, 0)], "prob double, y int"
        )
        assert ops.auc_score(perfect).collect()[0]["auc"] == 1.0
        constant = spark.createDataFrame(
            [(0.5, 1), (0.5, 0), (0.5, 1), (0.5, 0)], "prob double, y int"
        )
        assert ops.auc_score(constant).collect()[0]["auc"] == 0.5

    def test_degenerate_is_null(self, spark):
        onlypos = spark.createDataFrame([(0.9, 1), (0.3, 1)], "prob double, y int")
        assert ops.auc_score(onlypos).collect()[0]["auc"] is None
