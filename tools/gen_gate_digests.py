"""Regenerate exon_duckdb_spark/operators/gate_digests.py.

Runs the UNGATED q20/q22 oracle texts on the local DuckDB at every
test-data scale factor, computes the per-branch order-insensitive
digests the gate embeds, and rewrites the generated module. Run after
ANY edit to the q20/q22 oracle bodies:

    python tools/gen_gate_digests.py

The digest expression here must stay textually identical to the one
``__spark_entry__._digest_gate`` builds (same rowstring, same modulus),
otherwise the gate would reject the builder's own values.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

import __spark_entry__ as entrymod
from exon_duckdb_spark.operators.hashing import md5_int_sql

SF_DIRS = [
    "/root/testdata/sf0.001",
    "/root/testdata/sf0.01",
    "/root/testdata/sf0.1",
]
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]
OUT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "exon_duckdb_spark", "operators", "gate_digests.py",
)


def main() -> int:
    raw = entrymod.oracle_sql(_gate=False, _collapse=False)
    expected: dict[str, dict[int, list[tuple[str, int, int]]]] = {
        name: {} for name in entrymod._GATE_ROWSTR
    }
    for sf_dir in SF_DIRS:
        con = duckdb.connect()
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
            )
        nd = con.sql("SELECT COUNT(*) FROM events").fetchone()[0]
        for name, rowstr in entrymod._GATE_ROWSTR.items():
            rows = con.sql(
                f"WITH __b AS ({raw[name]}) "
                f"SELECT kind, CAST(SUM({md5_int_sql(rowstr)}) % 1000000007 "
                f"AS BIGINT), COUNT(*) FROM __b GROUP BY kind ORDER BY kind"
            ).fetchall()
            expected[name][nd] = [(k, int(h), int(c)) for k, h, c in rows]
            print(f"{os.path.basename(sf_dir)} nd={nd} {name}: "
                  + " ".join(f"{k}:{h}:{c}" for k, h, c in rows))
        con.close()

    ver = duckdb.sql("SELECT version()").fetchone()[0]
    body = ["{"]
    for name, per_sf in expected.items():
        body.append(f'    "{name}": {{')
        for nd, branches in sorted(per_sf.items()):
            body.append(f"        {nd}: [")
            for k, h, c in branches:
                body.append(f'            ("{k}", {h}, {c}),')
            body.append("        ],")
        body.append("    },")
    body.append("}")
    header = (
        '"""Expected per-branch oracle digests for the q20/q22 digest gate.\n'
        "\n"
        "GENERATED by ``python tools/gen_gate_digests.py`` — do not hand-edit.\n"
        "Computed on the builder's DuckDB (see GENERATED_ON) by running the\n"
        "ungated oracle texts (``__spark_entry__.oracle_sql(_gate=False)``) at\n"
        "each known test-data scale factor and folding every branch into an\n"
        "order-insensitive digest::\n"
        "\n"
        "    CAST(SUM(md5_int(rowstring)) % 1000000007 AS BIGINT), COUNT(*)\n"
        "\n"
        "keyed by ``count(*) FROM events`` (the only base table whose cardinality\n"
        "distinguishes sf0.001 / sf0.01 / sf0.1: 1000 / 10000 / 100000).\n"
        "\n"
        "The gate (``__spark_entry__._digest_gate``) embeds these constants into\n"
        "the oracle SQL itself; a driver-side engine that computes different\n"
        "VALUES for any branch raises ``error()`` with its ``version()`` and the\n"
        "actual digests, surfacing the diagnosis through the driver's ``err``\n"
        "field, so a digest mismatch names the engine and values that caused it.\n"
        '"""\n'
    )
    with open(OUT, "w") as f:
        f.write(header)
        f.write(f"\nGENERATED_ON: str | None = \"duckdb {ver}\"\n\n")
        f.write("# name -> {events_count: [(kind, digest, rowcount), ...]}\n")
        f.write("GATE_EXPECTED: dict[str, dict[int, list[tuple[str, int, int]]]] = ")
        f.write("\n".join(body))
        f.write("\n")
    print(f"wrote {OUT} (duckdb {ver})")
    return 0


if __name__ == "__main__":
    sys.exit(main())
