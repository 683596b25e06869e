"""Mergeable sketch aggregates — fixed-size state, map-side combinable.

At 100 TB, ``COUNT(DISTINCT key)`` shuffles every distinct key and an
exact percentile sorts (or full-shuffles) every row. Both are replaced
here by sketches whose partial state is a small fixed-size vector that
Spark's partial/final hash aggregation merges map-side, so the shuffle
carries O(sketch) bytes per group instead of O(rows):

- :func:`approx_distinct_hll` — HyperLogLog (Flajolet et al., AofA
  2007) with ``m = 2^b`` registers. Per row we derive ``(bucket,
  rho)`` from ``md5(key)``; the register is ``max(rho)`` per bucket —
  an associative/commutative aggregate, so the shuffle after the
  map-side combine carries at most ``m`` rows per group no matter how
  many billions of input rows there are.
- :func:`approx_quantiles_hist` — fixed-width histogram quantiles:
  one ``groupBy(bin)`` count (bounded key space, partial+final agg),
  then the cumulative walk runs over *bins*, never over rows. No
  global sort of the data ever happens.

Everything is **deterministic and engine-portable**: the only hash is
``md5`` (identical bytes in Spark and DuckDB — the same parity the
featurize backends pin, see gush_spark/operators/featurize.py), the
register sum is pure integer arithmetic (order-independent), and the
one floating-point estimate at the end is a single expression over
those integers, written with the same literals on both engines. That
is what lets the driver hash-compare a *sketch* against a DuckDB
oracle — normally impossible with engine-native ``approx_count_distinct``
(Spark and DuckDB use different HLL hashes and encodings).

Reference parity note: simao/gush has no sketches (its per-window
counters are exact, cep/Cep.scala); this module is part of the
training-data-pipeline family the build adds beyond the reference.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

# ---------------------------------------------------------------------------
# HyperLogLog — deterministic md5-based registers
# ---------------------------------------------------------------------------

def _alpha_literal(m: int) -> str:
    """alpha_m literal for m >= 128: 0.7213 / (1 + 1.079 / m).

    Generated once in Python so the Spark expression and the DuckDB
    oracle embed the byte-identical double literal.
    """
    if m < 128:
        raise ValueError("HLL here supports m >= 128 (m_bits >= 8)")
    return repr(0.7213 / (1 + 1.079 / m))
# Register sum is computed exactly as sum(2^(CAP - M_j)) in BIGINT —
# order-independent integer math (doubles would make the hash depend on
# aggregation order). The cap must keep the all-empty worst case
# m * 2^CAP < 2^63, so it shrinks as m grows: CAP = min(50, 62 - m_bits)
# (50 for m=256/4096 — the oracle-pinned value — 46 for m=65536).
_RHO_CAP = 50


def _cap(m_bits: int) -> int:
    return min(_RHO_CAP, 62 - m_bits)

_HEX = "0123456789abcdef"


def _hex_prefix_int(h: Column, nhex: int) -> Column:
    """Integer value of the first ``nhex`` hex digits of ``h`` — the
    engine-portable hex→int (no ``conv`` in DuckDB, so both sides use
    the same digit-position arithmetic; see :func:`_hex_prefix_sql`)."""
    bucket = F.lit(0)
    for i in range(nhex):
        digit = F.instr(F.lit(_HEX), F.substring(h, i + 1, 1)) - F.lit(1)
        bucket = bucket * F.lit(16) + digit
    return bucket


def _hex_prefix_sql(h_expr: str, nhex: int) -> str:
    """SQL twin of :func:`_hex_prefix_int` (valid in DuckDB and Spark)."""
    out = "0"
    for i in range(nhex):
        out = (
            f"(({out}) * 16 + (instr('{_HEX}', substr({h_expr}, {i + 1}, 1)) - 1))"
        )
    return out


def hll_bucket_rho(key: Column, *, m_bits: int = 8) -> tuple[Column, Column]:
    """``(bucket, rho)`` columns of the HLL observable for ``key``.

    ``bucket`` = first ``m_bits`` bits of ``md5(key)`` (read as hex
    digits, so ``m_bits`` must be a multiple of 4); ``rho`` = 1-based
    position of the first 1-bit in the next 120 bits, capped at
    :data:`_RHO_CAP`. Pure column expressions — whole-stage codegen,
    no Python.
    """
    if m_bits % 4 != 0 or not 4 <= m_bits <= 16:
        raise ValueError("m_bits must be a multiple of 4 in [4, 16]")
    nhex = m_bits // 4
    h = F.md5(key.cast("string"))
    bucket = _hex_prefix_int(h, nhex)
    # Leading-zero run of the remaining 30 hex digits (120 bits).
    tail = F.substring(h, nhex + 1, 32 - nhex)
    t = F.regexp_replace(tail, "^0+", "")
    zhex = F.lit(32 - nhex) - F.length(t)
    first = F.substring(t, 1, 1)
    extra = (
        F.when(first.isin(*"89abcdef"), 0)
        .when(first.isin(*"4567"), 1)
        .when(first.isin("2", "3"), 2)
        .otherwise(3)
    )
    cap = _cap(m_bits)
    rho = F.when(t == "", F.lit(cap)).otherwise(
        F.least(zhex * F.lit(4) + extra + F.lit(1), F.lit(cap))
    )
    return bucket.cast("int").alias("hll_bucket"), rho.cast("int").alias("hll_rho")


def hll_registers(
    df: DataFrame, key: Column, group_cols: list[str], *, m_bits: int = 8
) -> DataFrame:
    """Registers ``max(rho) per (group, bucket)`` — the mergeable state.

    Two hash aggregations, both partial+final (map-side combined):
    after the first, at most ``m`` rows per group exist anywhere.
    Merging two sketches = ``max`` of registers — re-aggregating this
    frame over a coarser grouping (e.g. day → month) is the union
    operation, tested in tests/test_sketches.py.
    """
    bucket, rho = hll_bucket_rho(key, m_bits=m_bits)
    return (
        # null keys are not distinct values (COUNT DISTINCT semantics);
        # unfiltered they'd surface as a null register inflating
        # nonzero_buckets.
        df.where(key.isNotNull())
        .select(*group_cols, bucket, rho)
        .groupBy(*group_cols, "hll_bucket")
        .agg(F.max("hll_rho").alias("m_j"))
    )


def approx_distinct_hll(
    df: DataFrame,
    key: Column,
    group_cols: list[str],
    *,
    m_bits: int = 8,
    out: str = "approx_distinct",
) -> DataFrame:
    """Approximate distinct count of ``key`` per group (HLL, m=2^m_bits).

    Output per group: ``nonzero_buckets`` (long), ``register_sum``
    (long, exact integer sketch digest — the hash-stable witness) and
    ``out`` (long, the rounded HLL estimate with the standard
    linear-counting small-range correction). Standard error
    ~ 1.04/sqrt(m): 6.5% at m_bits=8, 1.6% at m_bits=12, 0.4% at
    m_bits=16 (m_bits must be a multiple of 4 — hex-digit bucketing).
    """
    regs = hll_registers(df, key, group_cols, m_bits=m_bits)
    return finalize_registers(regs, group_cols, m_bits=m_bits, out=out)


def finalize_registers(
    regs: DataFrame,
    group_cols: list[str],
    *,
    m_bits: int = 8,
    out: str = "approx_distinct",
) -> DataFrame:
    """Estimate from a register frame ``(group_cols…, hll_bucket, m_j)``,
    e.g. the output of ``hll_registers``."""
    m = 1 << m_bits
    # Max-merge duplicate (group, bucket) rows first: a sink can hold
    # registers from a resumed run, a re-emit, or a batch backfill for
    # the same window — merge is max, and counting raw rows would
    # double-count buckets (nonzero_buckets could even exceed m).
    merged = regs.groupBy(*group_cols, "hll_bucket").agg(
        F.max("m_j").alias("m_j")
    )
    agg = merged.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("nonzero_buckets"),
        F.sum(F.expr(f"shiftleft(cast(1 as bigint), {_cap(m_bits)} - m_j)")).alias(
            "present_sum"
        ),
    )
    # One shared SQL text for the estimate keeps the float math
    # byte-identical with the DuckDB oracle (same literals, same order).
    est = hll_estimate_sql(m, "present_sum", "nonzero_buckets")
    return agg.select(
        *group_cols,
        F.col("nonzero_buckets"),
        F.expr(register_sum_sql(m, "present_sum", "nonzero_buckets")).alias(
            "register_sum"
        ),
        F.expr(est).alias(out),
    )


def register_sum_sql(m: int, present_sum: str, nonzero: str) -> str:
    """SQL for the full register sum including the empty buckets."""
    cap = _cap(m.bit_length() - 1)
    return (
        f"cast({present_sum} as bigint) + "
        f"cast(({m} - {nonzero}) as bigint) * shiftleft(cast(1 as bigint), {cap})"
    )


def hll_estimate_sql(m: int, present_sum: str, nonzero: str) -> str:
    """Engine-portable SQL for the corrected HLL estimate (BIGINT).

    ``raw = alpha_m * m^2 * 2^CAP / register_sum``; if empty buckets
    exist and ``raw <= 2.5 m``, linear counting ``m * ln(m / V)`` is
    used instead (the only transcendental; its sub-ulp engine
    variation is absorbed by rounding to an integer count).
    """
    reg = register_sum_sql(m, present_sum, nonzero)
    two_cap = float(1 << _cap(m.bit_length() - 1))
    # cast the alpha literal: engines otherwise parse it as DECIMAL
    # (DuckDB then overflows multiplying it by m^2 * 2^CAP).
    raw = (
        f"(cast({_alpha_literal(m)} as double) * {float(m * m)} * {two_cap}"
        f" / cast({reg} as double))"
    )
    v = f"({m} - {nonzero})"
    lin = f"({float(m)} * ln({float(m)} / cast({v} as double)))"
    return (
        f"cast(round(case when {v} > 0 and {raw} <= {2.5 * m} "
        f"then {lin} else {raw} end) as bigint)"
    )


def hll_oracle_sql(
    table: str, key_expr: str, group_cols: list[str], *, out: str = "approx_distinct"
) -> str:
    """DuckDB oracle computing the identical sketch (m=256 only).

    Mirrors :func:`hll_bucket_rho` digit-by-digit: same md5, same hex
    arithmetic, same integer register sum, same estimate literals
    (``shiftleft`` respelled as DuckDB's ``<<``).
    """
    g = ", ".join(group_cols)
    respell = lambda s: s.replace(  # noqa: E731 — DuckDB spells shiftleft as <<
        f"shiftleft(cast(1 as bigint), {_RHO_CAP})",
        f"(CAST(1 AS BIGINT) << {_RHO_CAP})",
    )
    est = respell(hll_estimate_sql(256, "present_sum", "nonzero_buckets"))
    reg = respell(register_sum_sql(256, "present_sum", "nonzero_buckets"))
    # DuckDB: x << y needs BIGINT operands; instr/substr/regexp_replace
    # match Spark's semantics for these ASCII-hex inputs.
    return f"""
WITH h AS (
  SELECT {g}, md5(CAST({key_expr} AS VARCHAR)) AS hh FROM {table}
  WHERE {key_expr} IS NOT NULL
), t0 AS (
  SELECT {g}, hh, regexp_replace(substr(hh, 3, 30), '^0+', '') AS t FROM h
), br AS (
  SELECT {g},
    (instr('{_HEX}', substr(hh, 1, 1)) - 1) * 16
      + (instr('{_HEX}', substr(hh, 2, 1)) - 1) AS hll_bucket,
    CASE WHEN t = '' THEN {_RHO_CAP} ELSE LEAST(
      4 * (30 - length(t))
      + CASE WHEN substr(t,1,1) IN ('8','9','a','b','c','d','e','f') THEN 0
             WHEN substr(t,1,1) IN ('4','5','6','7') THEN 1
             WHEN substr(t,1,1) IN ('2','3') THEN 2
             ELSE 3 END + 1, {_RHO_CAP}) END AS rho
  FROM t0
), regs AS (
  SELECT {g}, hll_bucket, MAX(rho) AS m_j FROM br GROUP BY {g}, hll_bucket
), agg AS (
  SELECT {g}, COUNT(*) AS nonzero_buckets,
         CAST(SUM(CAST(1 AS BIGINT) << ({_RHO_CAP} - m_j)) AS BIGINT) AS present_sum
  FROM regs GROUP BY {g}
)
SELECT {g}, nonzero_buckets, {reg} AS register_sum, {est} AS {out}
FROM agg
"""


# ---------------------------------------------------------------------------
# Fixed-width histogram quantiles
# ---------------------------------------------------------------------------

def approx_quantiles_hist(
    df: DataFrame,
    value: Column,
    *,
    width: float,
    quantiles: list[float],
    group_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Histogram-sketch quantiles of ``value`` (error ≤ bin ``width``).

    Plan shape (the whole point at scale):
      1. ``groupBy(floor(value/width))`` count — ONE partial+final
         aggregation over a bounded bin space; the only pass over data.
      2. cumulative counts over *bins* (a window over at most
         range/width rows — thousands, not billions).
      3. per requested quantile, the first bin whose cumulative count
         reaches ``ceil(q * n)``.

    Contrast with exact ``percentile`` (full sort / full shuffle of
    values — see queries.percentile_summary for the exact twin).
    Output: ``group_cols…``, ``q`` double, ``bin`` long,
    ``approx_value`` double (= bin midpoint, deterministic since bins
    are integers). With ``group_cols`` the cumulative walk is
    partitioned per group (grouped quantiles in the same single pass —
    the per-group window runs over that group's bins only).
    """
    from pyspark.sql import Window

    g = list(group_cols)
    bins = (
        # null values carry no quantile information (exact percentile
        # ignores them); unfiltered they'd form a null bin inflating n.
        df.where(value.isNotNull())
        .select(*g, F.floor(value / F.lit(width)).cast("long").alias("bin"))
        .groupBy(*g, "bin")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    w_cum = (
        Window.partitionBy(*g)
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_all = Window.partitionBy(*g).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = bins.select(
        *g,
        "bin",
        F.sum("c").over(w_cum).alias("cum"),
        F.sum("c").over(w_all).alias("n"),
    )
    qdf = cum.sparkSession.createDataFrame(
        [(float(q),) for q in quantiles], "q double"
    )
    return (
        cum.crossJoin(F.broadcast(qdf))
        .where(F.col("cum") >= F.ceil(F.col("q") * F.col("n")))
        .groupBy(*g, "q")
        .agg(F.min("bin").alias("bin"))
        .select(
            *g,
            "q",
            "bin",
            (F.col("bin") * F.lit(width) + F.lit(width) / F.lit(2.0)).alias(
                "approx_value"
            ),
        )
    )


def hist_quantiles_oracle_sql(
    table: str,
    value_expr: str,
    *,
    width: float,
    quantiles: list[float],
    group_cols: tuple[str, ...] = (),
) -> str:
    """DuckDB oracle: identical binning, thresholds and midpoints."""
    qvals = ", ".join(f"({float(q)})" for q in quantiles)
    g = ", ".join(group_cols)
    gsel = f"{g}, " if g else ""
    part = f"PARTITION BY {g} " if g else ""
    return f"""
WITH bins AS (
  SELECT {gsel}CAST(floor({value_expr} / {width}) AS BIGINT) AS bin, COUNT(*) AS c
  FROM {table} WHERE {value_expr} IS NOT NULL GROUP BY {gsel}bin
), cum AS (
  SELECT {gsel}bin,
         CAST(SUM(c) OVER ({part}ORDER BY bin ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
         CAST(SUM(c) OVER ({part.strip()}) AS BIGINT) AS n
  FROM bins
), qs(q) AS (VALUES {qvals})
SELECT {gsel}q, MIN(bin) AS bin,
       MIN(bin) * {width} + {width} / 2.0 AS approx_value
FROM cum, qs
WHERE cum >= CEIL(q * n)
GROUP BY {gsel}q
"""


# ---------------------------------------------------------------------------
# Count-min sketch — frequency estimation in fixed space
# ---------------------------------------------------------------------------

CMS_D = 4  # hash rows
CMS_W_BITS = 12  # 4096 buckets per row


def _cms_bucket(key: Column, row: int, w_bits: int = CMS_W_BITS) -> Column:
    """Bucket of ``key`` in hash row ``row``: first ``w_bits`` bits of
    ``md5('<row>:' || key)`` — independent salted hashes per row."""
    h = F.md5(F.concat(F.lit(f"{row}:"), key.cast("string")))
    return _hex_prefix_int(h, w_bits // 4)


def _cms_bucket_sql(key_expr: str, row: int, w_bits: int = CMS_W_BITS) -> str:
    return _hex_prefix_sql(f"md5('{row}:' || CAST({key_expr} AS VARCHAR))", w_bits // 4)


def cms_build(
    df: DataFrame, key: Column, *, d: int = CMS_D, w_bits: int = CMS_W_BITS
) -> DataFrame:
    """Count-min sketch of ``key`` frequencies (Cormode & Muthukrishnan,
    J. Algorithms 2005): ``d`` salted hash rows × ``2^w_bits`` counters.

    The build is ONE pass: the ``d`` (row, bucket) coordinates are a
    per-row array expression exploded inline (NOT a d-way union, which
    would scan the table d times), feeding a single partial+final count
    aggregation over the bounded ``(r, b)`` space — the shuffle carries
    ≤ d·2^w_bits counter rows total, never the keys. Error:
    overestimate-only, ≤ 2n/w with prob 1 - (1/2)^d. The counter table
    is mergeable (counters add) across partitions, days, or a
    batch+streaming split, same as the HLL registers.
    """
    coords = F.array(
        *[
            F.struct(
                F.lit(i).alias("r"),
                _cms_bucket(key, i, w_bits).cast("int").alias("b"),
            )
            for i in range(d)
        ]
    )
    return (
        df.where(key.isNotNull())
        .select(F.explode(coords).alias("rb"))
        .select("rb.r", "rb.b")
        .groupBy("r", "b")
        .agg(F.count(F.lit(1)).alias("c"))
    )


def cms_estimate(
    sketch: DataFrame, keys: DataFrame, key_col: str, *,
    d: int = CMS_D, w_bits: int = CMS_W_BITS, out: str = "est_n",
) -> DataFrame:
    """Point-estimate frequencies for ``keys`` from a built sketch:
    min over the ``d`` counters each key hashes to. The sketch is tiny
    (≤ d·2^w_bits rows) → broadcast join; absent counters are 0."""
    key = F.col(key_col)
    coords = F.array(
        *[
            F.struct(
                F.lit(i).alias("r"),
                _cms_bucket(key, i, w_bits).cast("int").alias("b"),
            )
            for i in range(d)
        ]
    )
    u = keys.select(key, F.explode(coords).alias("rb")).select(
        key_col, "rb.r", "rb.b"
    )  # one pass over keys (its lineage may be an aggregation itself)
    return (
        u.join(F.broadcast(sketch), ["r", "b"], "left")
        .groupBy(key_col)
        .agg(F.min(F.coalesce(F.col("c"), F.lit(0).cast("long"))).alias(out))
    )


def cms_oracle_sql(
    table: str, key_expr: str, *, d: int = CMS_D, w_bits: int = CMS_W_BITS,
    out: str = "est_n",
) -> str:
    """DuckDB oracle: identical salted hashing, counters and min-walk,
    estimating every distinct key of the input against the sketch built
    from the same input (plus the exact count for comparison)."""
    build = "\nUNION ALL\n".join(
        f"  SELECT {i} AS r, {_cms_bucket_sql(key_expr, i, w_bits)} AS b FROM {table} WHERE {key_expr} IS NOT NULL"
        for i in range(d)
    )
    probe = "\nUNION ALL\n".join(
        f"  SELECT k, {i} AS r, {_cms_bucket_sql('k', i, w_bits)} AS b FROM keys"
        for i in range(d)
    )
    return f"""
WITH hashes AS (
{build}
), sketch AS (
  SELECT r, b, COUNT(*) AS c FROM hashes GROUP BY r, b
), keys AS (
  SELECT DISTINCT {key_expr} AS k FROM {table} WHERE {key_expr} IS NOT NULL
), probes AS (
{probe}
), est AS (
  SELECT k, CAST(MIN(COALESCE(c, 0)) AS BIGINT) AS {out}
  FROM probes LEFT JOIN sketch USING (r, b) GROUP BY k
), exact AS (
  SELECT {key_expr} AS k, COUNT(*) AS exact_n FROM {table} GROUP BY 1
)
SELECT est.k AS {key_expr}, est.{out}, exact.exact_n
FROM est JOIN exact USING (k)
"""
