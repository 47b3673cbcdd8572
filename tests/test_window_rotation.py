"""Driver-window rotation canaries (VERDICT r10 next-round #1 + #6).

The driver's correctness gate records exactly the FIRST 50 entries of
``queries()``; with 54 declared queries, 4 always sit outside. The tail
is computed from the committed CORRECTNESS_r*.json history (see
``__spark_entry__.ROTATION_POOL``). These tests pin the expectation so

  (a) an accidental registry reorder can't silently swap which queries
      the driver verifies (the pinned-window canary), and
  (b) no declared query can go more than two rounds without a
      driver-green row (the unwitnessed canary) — the invariant the
      rotation exists to guarantee.

When a new CORRECTNESS_r{N}.json lands, the rotation advances and the
PINNED_* constants must be updated DELIBERATELY (with a matching
PARITY.md ledger row) — that is the point: rotation is an explicit,
reviewed event, never a drive-by.
"""

from __future__ import annotations

import os

import pytest

import __spark_entry__ as entrymod

# the four entries expected OUTSIDE the window this round (pin 14:
# q103–q106 were driver-greened in CORRECTNESS_r14, so they sit out while
# q48/q50/q51/q52 — last witnessed r13 — rotate back in for their next
# driver witnessing)
PINNED_TAIL = (
    "q103_bloom_crawl",
    "q104_media_dedup",
    "q105_bpe_pipeline",
    "q106_quality_classifier",
)
# the full declared registry — membership pin, order-independent
PINNED_ALL = frozenset({
    "q01_pricing_summary", "q02_order_windows", "q03_star_joins",
    "q04_semi_anti_joins", "q07_windowed_counts", "q08_grouping_sets",
    "q09_distinct_union", "q10_sessionize", "q11_event_props_json",
    "q18_asof_join", "q35_range_band_join", "q12_sequence_ops",
    "q14_sam_cigar_ops", "q40_alignment", "q20_dedup_suite",
    "q22_minhash_pipeline", "q24_text_analysis", "q27_knn_topk",
    "q28_ngram_jaccard_pairs", "q29_embedding_dedup", "q44_ivf_variants",
    "q58_sampled_mix_report", "q60_quality_stats", "q62_pii_decontaminate",
    "q64_bm25_multi", "q66_term_stats", "q70_chunk_pack",
    "q73_pq_pipeline", "q78_perplexity_score", "q79_sq8_search",
    "q80_substring_dedup", "q39_multimodal_meta", "q45_frame_sample",
    "q75_image_pipeline", "q77_audio_decode", "q103_bloom_crawl",
    "q104_media_dedup", "q105_bpe_pipeline", "q106_quality_classifier",
    "q30_fasta_roundtrip", "q34_fastq_roundtrip", "q43_gff_roundtrip",
    "q46_gtf_roundtrip", "q47_sam_roundtrip", "q48_bed_roundtrip",
    "q49_vcf_roundtrip", "q50_hmm_roundtrip", "q51_genbank_roundtrip",
    "q52_mzml_roundtrip", "q53_bam_roundtrip", "q54_bcf_roundtrip",
    "q55_vcf_region_query", "q56_bam_region_query", "q57_bcf_region_query",
})


def test_registry_membership_pinned():
    names = list(entrymod.queries())
    assert len(names) == len(set(names)) == 54
    assert set(names) == PINNED_ALL


def test_window_pin_matches_rotation():
    """The FIRST 50 names are exactly the declared registry minus the
    pinned tail, and the tail occupies slots 51–54 — update PINNED_TAIL
    deliberately when the rotation advances (new CORRECTNESS file)."""
    names = list(entrymod.queries())
    assert tuple(names[entrymod.DRIVER_WINDOW:]) == PINNED_TAIL
    assert set(names[: entrymod.DRIVER_WINDOW]) == PINNED_ALL - set(PINNED_TAIL)


def test_rotation_is_deterministic_and_pool_scoped():
    a, b = list(entrymod.queries()), list(entrymod.queries())
    assert a == b
    tail = entrymod.rotation_tail()
    assert len(tail) == 4
    assert set(tail) <= set(entrymod.ROTATION_POOL)
    # the pool itself must be declared queries (a renamed query would
    # silently fall out of rotation)
    assert set(entrymod.ROTATION_POOL) <= PINNED_ALL


def test_no_entry_unwitnessed_more_than_two_rounds():
    """Every declared query is either inside this round's driver window
    or has a driver-green row in one of the TWO most recent committed
    CORRECTNESS files. This is the invariant the rotation guarantees;
    if it ever fails, a registry entry is about to ship a third round
    without external verification."""
    hist = entrymod._correctness_history()
    assert hist, "no readable CORRECTNESS history — rotation is degraded"
    recent = hist[-2:]
    names = list(entrymod.queries())
    window = set(names[: entrymod.DRIVER_WINDOW])
    for name in names:
        if name in window:
            continue
        witnessed = any(
            entrymod._row_green(rows.get(name)) for _rnd, rows in recent
        )
        assert witnessed, (
            f"{name} is outside the driver window and has no green row in "
            f"the last two rounds ({[r for r, _ in recent]})"
        )


def test_rotation_pin_matches_committed_history():
    """ROTATION_PIN_ROUND must equal the newest GIT-TRACKED correctness
    round (ADVICE r11 medium): the rotation may only read committed
    history, and the pin may only advance together with this file's
    PINNED_TAIL. An untracked CORRECTNESS_r{pin+1}.json written by the
    driver mid-round must neither advance the rotation nor fail this
    test; a committed one without a pin bump must fail it."""
    import re
    import subprocess

    here = os.path.dirname(os.path.abspath(entrymod.__file__))
    try:
        out = subprocess.run(
            ["git", "ls-files", "CORRECTNESS_r*.json"],
            cwd=here, capture_output=True, text=True, timeout=30,
        )
    except (OSError, subprocess.SubprocessError):
        pytest.skip("git unavailable — pin/commit pairing not checkable")
    if out.returncode != 0 or not out.stdout.strip():
        pytest.skip("not a git checkout — pin/commit pairing not checkable")
    rounds = [
        int(m.group(1))
        for line in out.stdout.splitlines()
        if (m := re.search(r"CORRECTNESS_r(\d+)\.json$", line))
    ]
    assert max(rounds) == entrymod.ROTATION_PIN_ROUND, (
        f"committed history reaches r{max(rounds)} but ROTATION_PIN_ROUND "
        f"is {entrymod.ROTATION_PIN_ROUND} — advance the pin AND "
        f"PINNED_TAIL together (plus the PARITY ledger row)"
    )
    # and the history the rotation actually reads must honor the pin even
    # if newer (driver-written, untracked) files exist on disk
    hist_rounds = [r for r, _ in entrymod._correctness_history()]
    assert hist_rounds, "no readable committed history"
    assert max(hist_rounds) <= entrymod.ROTATION_PIN_ROUND


def test_no_pool_member_ages_past_two_rounds():
    """VERDICT r11 #7: the two-round invariant as an enforced property —
    every ROTATION_POOL member's last driver-green round in committed
    history is at most 2 rounds older than the pin, OR the member sits in
    the current window (about to be witnessed)."""
    last = entrymod.rotation_last_green()
    window = set(list(entrymod.queries())[: entrymod.DRIVER_WINDOW])
    for name in entrymod.ROTATION_POOL:
        age = entrymod.ROTATION_PIN_ROUND - last.get(name, -(10**6))
        assert age <= 2 or name in window, (
            f"{name} last driver-green r{last.get(name)} "
            f"(age {age} vs pin r{entrymod.ROTATION_PIN_ROUND}) and not "
            f"in this round's window — rotation invariant broken"
        )


def test_age_assertion_catches_synthetic_stale_history(monkeypatch):
    """The age check is live: with a synthetic history where q48 last
    greened 3 rounds before the pin AND the rotation (wrongly) benches
    it, the invariant must flag it."""
    green = {"rows_match": True, "schema_match": True,
             "hash_match": True, "err": None}
    pin = entrymod.ROTATION_PIN_ROUND
    fake_hist = [
        (pin - 3, {n: dict(green) for n in entrymod.ROTATION_POOL}),
        (pin, {n: dict(green) for n in entrymod.ROTATION_POOL
               if n != "q48_bed_roundtrip"}),
    ]
    monkeypatch.setattr(entrymod, "_correctness_history", lambda: fake_hist)
    last = entrymod.rotation_last_green()
    assert pin - last["q48_bed_roundtrip"] == 3
    # the rotation itself self-heals: the stale member must be windowed
    assert "q48_bed_roundtrip" not in entrymod.rotation_tail(4)


def test_red_pool_member_stays_windowed(monkeypatch):
    """A pool member that went RED in its window keeps its old last-green
    round, so the rotation must keep it IN the window until it greens."""
    green = {"rows_match": True, "schema_match": True,
             "hash_match": True, "err": None}
    red = dict(green, hash_match=False)
    fake_hist = [
        (1, {n: dict(green) for n in entrymod.ROTATION_POOL}),
        # round 2: q48 windowed but red; q103-q106 green
        (2, {
            "q48_bed_roundtrip": red,
            "q103_bloom_crawl": dict(green),
            "q104_media_dedup": dict(green),
            "q105_bpe_pipeline": dict(green),
            "q106_quality_classifier": dict(green),
        }),
    ]
    monkeypatch.setattr(entrymod, "_correctness_history", lambda: fake_hist)
    tail = entrymod.rotation_tail(4)
    assert "q48_bed_roundtrip" not in tail
    assert set(tail) == {
        "q103_bloom_crawl", "q104_media_dedup",
        "q105_bpe_pipeline", "q106_quality_classifier",
    }


def test_never_witnessed_member_is_always_windowed(monkeypatch):
    """A pool member with NO driver-green row ever must never be rotated
    out (it sorts last in the can-afford-to-sit-out ranking)."""
    green = {"rows_match": True, "schema_match": True,
             "hash_match": True, "err": None}
    fake_hist = [
        (1, {n: dict(green) for n in entrymod.ROTATION_POOL
             if n != "q50_hmm_roundtrip"}),
    ]
    monkeypatch.setattr(entrymod, "_correctness_history", lambda: fake_hist)
    assert "q50_hmm_roundtrip" not in entrymod.rotation_tail(4)
