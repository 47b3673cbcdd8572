"""Order-independent numeric aggregation helpers.

Float SUM/AVG accumulate in partition/arrival order, so two runs (or two
engines) can differ at ~1 ULP; a downstream ``round(x, 6)`` then flips by
1e-6 whenever the true value straddles a rounding boundary. That exact
failure appeared once per ~3k rows at sf0.1 on q29's bitext branch
(margin 1.010356 vs 1.010358 — a 1e-6 flip in a 4-value neighborhood
average, amplified ×2 by the margin division) and is the bug class a
100 TB run hits constantly: more rows → more boundary values → more
flips.

The fix: quantize each addend to 10^-digits units, SUM AS INTEGERS
(exact and commutative — any order, any partitioning, any engine), and
divide once at the end. The quantization shifts each addend by ≤ 5e-7·
|x|... absolute 5·10^-(digits+1), below the 10^-digits precision every
caller already rounds to, and in exchange the result is a pure function
of the multiset of inputs.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def stable_avg(col: Column, digits: int = 6) -> Column:
    """AVG(col) as an exact integer-space mean: bit-identical across
    partitionings, run orders, and engines (SQL twin:
    :func:`stable_avg_sql`). NULLs are skipped like AVG's. The addend
    quantization uses the same explicit ``floor(x·s + 0.5)`` as
    :func:`stable_round` (engine ``round()`` is itself tie-divergent
    cross-engine); on exact ties it rounds toward +∞ — a fixed,
    engine-independent convention, which is the property that matters."""
    s = float(10**digits)
    # Three-lane accumulation. Summing the quantized addend q per-row in
    # DECIMAL(38,0) is exact but ~1.5× slower on agg-heavy queries;
    # splitting q = hi·2^16 + lo and summing both lanes as LONGS is fast,
    # but sum(hi) silently wraps (non-ANSI Spark SUM) once a group's
    # n·|x| exceeds ~6e17, i.e. ~67M rows per group at the contract's
    # max |x| ≈ 9e9 — a very reachable 100 TB seam. Summing hi in DECIMAL
    # instead measured NO faster than the full decimal form (0.87 s vs
    # 0.86 s on the micro-bench below — the decimal agg buffer is the
    # cost, not the add width), so this
    # form bounds each lane by the SPLIT, not by |x|: q = a·2^36 +
    # b·2^18 + c with |a| ≤ 2^17, b,c in [0, 2^18) (exact — q < 2^53
    # keeps the double arithmetic integer-exact, each split is a power-
    # of-two exponent shift, and floor-division remainders are non-
    # negative; only the a lane can go negative). Each long lane sum is
    # then safe until n > 2^45 rows in ONE group (3.5e13 — a 100 TB
    # table would need < 3-byte rows concentrated in a single group),
    # independent of the data's magnitude. Lanes sum as longs inside
    # whole-stage codegen; the recombine to DECIMAL happens once per
    # group and reproduces the IDENTICAL exact integer the decimal form
    # produced, so the SQL twin (stable_avg_sql: exact HUGEINT sum) is
    # unchanged. Measured on a 50M-row 7-group aggregate (local[32],
    # min-of-3, same session back-to-back): decimal-per-row 0.61 s,
    # this three-lane form 0.46 s; the unsafe two-long form was 0.33 s —
    # ~0.1 s given back for a wrap-free bound.
    q = F.floor(col * s + F.lit(0.5))
    p36, p18 = float(1 << 36), float(1 << 18)
    a = F.floor(q / F.lit(p36))
    b = F.floor((q - a * F.lit(p36)) / F.lit(p18))
    c = (q - a * F.lit(p36) - b * F.lit(p18)).cast("long")
    total = (
        F.sum(a.cast("long")).cast("decimal(38,0)") * F.lit(1 << 36)
        + F.sum(b.cast("long")).cast("decimal(38,0)") * F.lit(1 << 18)
        + F.sum(c).cast("decimal(38,0)")
    )
    return (total / (F.count(col) * s)).cast("double")


def stable_round(col: Column, digits: int = 6) -> Column:
    """Cross-engine-identical 6-dp rounding: ``floor(x·10^d + 0.5)/10^d``.

    Engine ``round()`` implementations disagree on tie-adjacent doubles:
    Spark rounds via the double's exact decimal expansion (BigDecimal
    HALF_UP), DuckDB via an FP multiply whose 1-ULP error can land the
    other side of ``…5`` — measured on q29's bitext branch at sf0.1,
    where the stable_avg 0.2538195 rounded to 0.253820 in Spark and
    0.253819 in DuckDB. This explicit form runs the SAME IEEE ops in both
    engines on the same input double, so the result is bit-identical by
    construction. On exact ties it rounds toward +∞ (so −0.2538195 →
    −0.253819) — a fixed convention both engines share, which is what
    determinism needs; half-AWAY-from-zero symmetry is not. SQL twin:
    :func:`stable_round_sql`."""
    s = F.lit(float(10**digits))
    return F.floor(col * s + F.lit(0.5)) / s


def stable_round_sql(expr: str, digits: int = 6) -> str:
    """DuckDB twin of :func:`stable_round`."""
    s = 10**digits
    return f"(floor(({expr}) * {s} + 0.5) / {s}.0)"


def stable_avg_sql(expr: str, digits: int = 6) -> str:
    """DuckDB twin of :func:`stable_avg`: same quantize → integer SUM →
    one division, so both engines compute the identical double."""
    s = 10**digits
    return (
        f"SUM(CAST(floor(({expr}) * {s} + 0.5) AS BIGINT))"
        f" / (COUNT({expr}) * {s}.0)"
    )
