"""Expected per-branch oracle digests for the q20/q22 digest gate.

GENERATED by ``python tools/gen_gate_digests.py`` — do not hand-edit.
Computed on the builder's DuckDB (see GENERATED_ON) by running the
ungated oracle texts (``__spark_entry__.oracle_sql(_gate=False)``) at
each known test-data scale factor and folding every branch into an
order-insensitive digest::

    CAST(SUM(md5_int(rowstring)) % 1000000007 AS BIGINT), COUNT(*)

keyed by ``count(*) FROM events`` (the only base table whose cardinality
distinguishes sf0.001 / sf0.01 / sf0.1: 1000 / 10000 / 100000).

The gate (``__spark_entry__._digest_gate``) embeds these constants into
the oracle SQL itself; a driver-side engine that computes different
VALUES for any branch raises ``error()`` with its ``version()`` and the
actual digests, surfacing the diagnosis through the driver's ``err``
field, so a digest mismatch names the engine and values that caused it.
"""

GENERATED_ON: str | None = "duckdb v1.0.0"

# name -> {events_count: [(kind, digest, rowcount), ...]}
GATE_EXPECTED: dict[str, dict[int, list[tuple[str, int, int]]]] = {
    "q20_dedup_suite": {
        1000: [
            ("boiler", 561626315, 500),
            ("boilern", 136811665, 500),
            ("exact", 633346635, 500),
            ("keyset", 275553671, 75),
            ("paragraph", 539398920, 501),
            ("simhash", 602737826, 8317),
        ],
        10000: [
            ("boiler", 236136465, 500),
            ("boilern", 136811665, 500),
            ("exact", 906829999, 500),
            ("keyset", 607231976, 750),
            ("paragraph", 673419376, 501),
            ("simhash", 713158881, 8791),
        ],
        100000: [
            ("boiler", 716408778, 4984),
            ("boilern", 929115998, 5000),
            ("exact", 770679271, 4992),
            ("keyset", 720793051, 7500),
            ("paragraph", 380596611, 4993),
            ("simhash", 11062597, 856066),
        ],
    },
    "q22_minhash_pipeline": {
        1000: [
            ("bandest", 904363719, 99),
            ("cluster", 879018487, 45),
            ("incr", 440543303, 36),
            ("keep", 445393700, 476),
            ("pair", 20037553, 28),
            ("rep", 883339782, 476),
            ("sig", 637010560, 500),
            ("split", 250377283, 500),
        ],
        10000: [
            ("bandest", 714160783, 92),
            ("cluster", 181480912, 47),
            ("incr", 881713055, 21),
            ("keep", 351131461, 476),
            ("pair", 385453666, 25),
            ("rep", 110849371, 476),
            ("sig", 983856828, 500),
            ("split", 661834778, 500),
        ],
        100000: [
            ("bandest", 140177366, 918),
            ("cluster", 761476629, 475),
            ("incr", 812108863, 171),
            ("keep", 458652556, 4757),
            ("pair", 999996202, 255),
            ("rep", 542169037, 4757),
            ("sig", 821163396, 5000),
            ("split", 523153184, 5000),
        ],
    },
    "q103_bloom_crawl": {
        1000: [
            ("fill", 258361820, 1),
            ("line", 597424416, 253),
            ("removed", 869735433, 250),
        ],
        10000: [
            ("fill", 248397788, 1),
            ("line", 846590916, 253),
            ("removed", 869735433, 250),
        ],
        100000: [
            ("fill", 211303781, 1),
            ("line", 952754663, 2494),
            ("removed", 598839711, 2500),
        ],
    },
    "q104_media_dedup": {
        1000: [
            ("afp", 62871185, 60),
            ("apair", 310513519, 1770),
            ("apairg", 592630295, 249),
            ("hidx", 283998175, 1020),
            ("idhash", 408102835, 96),
            ("ipair", 648707828, 2312),
            ("spair", 167187310, 6936),
            ("vhash", 413116321, 240),
            ("vpair", 353598383, 188),
        ],
        10000: [
            ("afp", 62871185, 60),
            ("apair", 310513519, 1770),
            ("apairg", 592630295, 249),
            ("hidx", 283998175, 1020),
            ("idhash", 408102835, 96),
            ("ipair", 648707828, 2312),
            ("spair", 167187310, 6936),
            ("vhash", 413116321, 240),
            ("vpair", 353598383, 188),
        ],
        100000: [
            ("afp", 62871185, 60),
            ("apair", 310513519, 1770),
            ("apairg", 592630295, 249),
            ("hidx", 283998175, 1020),
            ("idhash", 408102835, 96),
            ("ipair", 648707828, 2312),
            ("spair", 167187310, 6936),
            ("vhash", 413116321, 240),
            ("vpair", 353598383, 188),
        ],
    },
    "q105_bpe_pipeline": {
        1000: [
            ("merge", 289599618, 8),
            ("tokens", 860810388, 1917),
            ("vocab", 663021558, 31),
        ],
        10000: [
            ("merge", 819353319, 8),
            ("tokens", 873394298, 1673),
            ("vocab", 507896717, 31),
        ],
        100000: [
            ("merge", 822492280, 8),
            ("tokens", 387254225, 1950),
            ("vocab", 624079050, 31),
        ],
    },
    "q106_quality_classifier": {
        1000: [
            ("auc", 831178479, 1),
            ("eval", 92652106, 4),
            ("score", 785656901, 200),
            ("w", 135293870, 36),
        ],
        10000: [
            ("auc", 865331892, 1),
            ("eval", 631248601, 4),
            ("score", 482314028, 200),
            ("w", 975256821, 36),
        ],
        100000: [
            ("auc", 428824168, 1),
            ("eval", 109081940, 4),
            ("score", 248641638, 200),
            ("w", 62719640, 36),
        ],
    },
}
