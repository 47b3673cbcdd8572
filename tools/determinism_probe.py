"""Determinism probe for the driver correctness gate.

Runs selected queries() entries in THIS process's fresh SparkSession under
a config variant, prints one JSON line {query: value_hash} computed with
the same normalization as tools/check_oracle.py (columns sorted by name,
rows sorted, floats to 9 significant digits). A wrapper script launches
one subprocess per variant (fresh JVM + fresh PYTHONHASHSEED) and diffs
the hashes: any cross-variant or cross-run difference is
environment-sensitive nondeterminism, the class that once made q20/q22
fail the driver's value hash while their row counts matched.

Usage:
  python tools/determinism_probe.py VARIANT [sf_dir] [query ...]

Variants vary what a different driver host would: core count, shuffle
partitions, Arrow batch size (pandas-UDF + applyInPandasWithState chunking),
AQE, and state-store partition count.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

VARIANTS: dict[str, dict[str, str]] = {
    "base": {},
    "small": {
        "_master": "local[2]",
        "spark.sql.shuffle.partitions": "2",
    },
    "many": {
        "_master": "local[8]",
        "spark.sql.shuffle.partitions": "200",
    },
    "tinyarrow": {
        # forces many Arrow chunks per stateful group / pandas-UDF batch
        "spark.sql.execution.arrow.maxRecordsPerBatch": "3",
    },
    "noaqe": {
        "spark.sql.adaptive.enabled": "false",
    },
    "statepart": {
        # state-store partition count is fixed at stream start by this
        "spark.sql.shuffle.partitions": "7",
    },
}

# the historically sensitive rows: the two r5 flakes plus every row that
# carries float aggregation, sketches, sampling, or streaming branches,
# plus the four queries rotated into the driver window in round 10
DEFAULT_QUERIES = [
    "q20_dedup_suite",
    "q22_minhash_pipeline",
    "q01_pricing_summary",
    "q09_distinct_union",
    "q24_text_analysis",
    "q29_embedding_dedup",
    "q35_range_band_join",
    "q58_sampled_mix_report",
    "q78_perplexity_score",
    "q103_bloom_crawl",
    "q104_media_dedup",
    "q105_bpe_pipeline",
    "q106_quality_classifier",
]


def value_hash(df) -> str:
    from tools.check_oracle import norm_rows

    rows = [tuple(r) for r in df.collect()]
    ns = norm_rows(df.columns, rows)
    h = hashlib.sha256()
    for r in ns:
        h.update("\x1f".join(r).encode())
        h.update(b"\x1e")
    return h.hexdigest()[:16]


def main() -> int:
    variant = sys.argv[1]
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.01"
    names = sys.argv[3:] or DEFAULT_QUERIES
    conf = dict(VARIANTS[variant])
    master = conf.pop("_master", None)

    import __spark_entry__ as entrymod
    from exon_duckdb_spark.session import get_session

    spark = get_session(
        app_name=f"determinism_{variant}", master=master, extra_conf=conf
    )
    queries = entrymod.queries()
    out = {}
    for name in names:
        df = queries[name](spark, sf_dir)
        out[name] = value_hash(df)
    print("PROBE_RESULT " + json.dumps({"variant": variant, "hashes": out}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
