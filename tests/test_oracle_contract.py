"""Full-suite oracle contract check (ADVICE r3 #5).

The driver's correctness gate records exactly the FIRST 50 registry
entries (the window is CAPPED — it does not grow with the registry;
VERDICT r9's structural finding), and only once per round. This test
runs the IDENTICAL row/schema/value compare over the ENTIRE declared
registry — windowed AND local-only entries — at sf0.001 on every pytest
run, so a regression surfaces at commit time instead of at the next
driver gate.

sf0.001 keeps the wall cost to Spark per-query overhead; the driver and
judge re-run the same compare at sf0.01.
"""

from __future__ import annotations

import os

import pytest

from tools.check_oracle import run_checks

SF_DIR = "/root/testdata/sf0.001"


def test_registry_shape_and_window():
    """The driver's correctness gate records only the first 50 registry
    entries; the window does NOT grow with the registry. Guard the
    invariants so an addition can't silently land half-wired:
    - exactly 54 registry entries (bump this deliberately per addition);
    - DRIVER_WINDOW states the true cap (50);
    - the four flagship operators q103–q106 sit past the window
      (tests/test_window_rotation.py pins the whole order);
    - every entry has an oracle_sql twin (no rows-only downgrades)."""
    import __spark_entry__ as entrymod

    from tools.check_oracle import DRIVER_WINDOW

    q = entrymod.queries()
    o = entrymod.oracle_sql()
    assert len(q) == 54, f"registry has {len(q)} entries; expected 54"
    assert DRIVER_WINDOW == 50
    names = list(q)
    assert tuple(names[DRIVER_WINDOW:]) == (
        "q103_bloom_crawl",
        "q104_media_dedup",
        "q105_bpe_pipeline",
        "q106_quality_classifier",
    )
    missing = [k for k in q if k not in o]
    assert not missing, f"queries without an oracle twin: {missing}"


@pytest.mark.skipif(
    not os.path.isdir(SF_DIR), reason="driver testdata not present"
)
def test_all_declared_queries_match_oracle(spark):
    failures = run_checks(SF_DIR, spark=spark, verbose=False)
    assert failures == []


@pytest.mark.parametrize(
    "sf_dir",
    [
        "/root/testdata/sf0.001",
        "/root/testdata/sf0.01",
        pytest.param("/root/testdata/sf0.1", marks=pytest.mark.slow),
    ],
)
def test_cc_unrolled_chain_reaches_fixpoint(sf_dir):
    """The q22 oracle's connected components run as a K-unrolled
    NON-recursive propagation chain (__spark_entry__._cc_unrolled_sql —
    recursive CTEs were driver-version-dependent, VERDICT r7 #1b). A
    bounded unroll is only correct if K covers the widest component
    diameter, so assert the chain is a FIXPOINT at every shipped scale
    factor: one more step (K vs K-1) changes nothing. Also pin the chain
    against an independent Python union-find over the same pair set."""
    import duckdb

    import __spark_entry__ as entrymod

    if not os.path.isdir(sf_dir):
        pytest.skip("driver testdata not present")
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf_dir}/documents.parquet')"
    )
    pairs_sql = entrymod._lsh_pairs_oracle()
    k = 6  # the default the shipped oracles splice in
    lab = {}
    for kk in (k - 1, k):
        sql = (
            f"WITH pairs AS ({pairs_sql}),\n"
            f"{entrymod._cc_unrolled_sql(kk)}\n"
            "SELECT doc_id, cluster_id FROM cl ORDER BY doc_id"
        )
        lab[kk] = con.execute(sql).fetchall()
    assert lab[k] == lab[k - 1], "chain not converged at K-1 — raise K"

    # independent reference: union-find over the same verified pairs
    prs = con.execute(pairs_sql).fetchall()
    parent: dict = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b, _ in prs:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = min(ra, rb), max(ra, rb)
            parent[hi] = lo
    want = sorted((v, find(v)) for v in parent)
    assert [tuple(r) for r in lab[k]] == want


def test_branch_frames_registry_contract(spark):
    """branch_frames() (the branch-level bench unit, VERDICT r7 #3) must
    stay consistent with the gate: every key is a registry query, and a
    composite's branch frames union to exactly its gate rows (checked on
    the cheapest composite; the others are exercised the same way inside
    their own q*m_ functions, which the full oracle compare covers)."""
    import __spark_entry__ as entrymod

    bf = entrymod.branch_frames()
    q = entrymod.queries()
    assert set(bf) <= set(q)
    frames, cleanup = bf["q35_range_band_join"](spark, SF_DIR)
    try:
        n_branches = sum(f.count() for f in frames.values())
        n_gate = q["q35_range_band_join"](spark, SF_DIR).count()
        assert n_branches == n_gate > 0
    finally:
        cleanup()
