"""DECIMAL and DST-boundary edge-type operators (SURVEY §1.2 gotcha 3,
VERDICT r14 next-round #8): the corpus carries doubles everywhere and
one timezone, so exact-decimal arithmetic and daylight-saving
transitions were a documented caveat rather than a tested boundary.
These operators synthesize both edges DETERMINISTICALLY from the
corpus (so the DuckDB oracle can recompute them from the registered
views — no side tables the oracle can't see) and pin the semantics:

- DECIMAL: money amounts rebuilt from exact integer cents into
  DECIMAL(18,2), round-tripped through a parquet side-fixture (real
  FIXED_LEN_BYTE_ARRAY/INT64-decimal physical encoding), then summed
  and multiplied EXACTLY — the arithmetic doubles cannot do reliably
  past 2^53 of accumulated cents.
- DST: UTC instants spanning both 2024 America/New_York transitions,
  bucketed by CIVIL local hour via ``from_utc_timestamp`` against the
  real tz database; the oracle encodes the offset rule arithmetically
  (EST -5h / EDT -4h around the exact transition instants), so
  agreement proves the engine's tz data matches the written law: the
  spring-forward hour is EMPTY, the fall-back hour DOUBLES.
"""

from __future__ import annotations

import os
import tempfile

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from hadoop_based_distributed_batch_processing_system_spark.registry import (
    interpolate_docstrings,
    register,
)
from hadoop_based_distributed_batch_processing_system_spark.sources.io import (
    build_once,
    corpus_tag,
    load_table,
)

# exact integer cents — the one float op (the house ROUND idiom) both
# engines already agree on everywhere else in the registry
_CENTS = "CAST(ROUND(o_totalprice * 100) AS BIGINT)"

# 2024 America/New_York transitions as UTC instants (the written law
# the oracle encodes; the Spark side must derive the same buckets from
# the real tz database)
_DST_SPRING_UTC = "2024-03-10 07:00:00"  # 02:00 EST -> 03:00 EDT
_DST_FALL_UTC = "2024-11-03 06:00:00"  # 02:00 EDT -> 01:00 EST


def _decimal_fixture_dir(sf_dir: str) -> str:
    return os.path.join(
        tempfile.gettempdir(), f"hbdbps_decfix_{corpus_tag(sf_dir)}"
    )


def _decimal_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact DECIMAL(18,2) prices from integer cents: cents *
    0.01::DECIMAL(4,2) is an integer-by-decimal multiply — exact by
    the SQL decimal contract in both engines — so not one bit is left
    to double rounding."""
    return load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        (
            F.expr(_CENTS).cast("decimal(18,0)")
            * F.lit("0.01").cast("decimal(4,2)")
        )
        .cast("decimal(18,2)")
        .alias("price_dec"),
        (F.col("o_orderkey") % 7 + 1).cast("decimal(3,0)").alias("qty_dec"),
    )


def _decimal_fixture(spark: SparkSession, sf_dir: str) -> str:
    """Write the decimal frame ONCE per corpus as a parquet
    side-fixture so the read path exercises parquet's real decimal
    physical encoding — logical type DECIMAL(18,2), not a double in
    disguise."""
    root = _decimal_fixture_dir(sf_dir)
    return build_once(
        root, "_BUILT", "decfix-v1",
        lambda: _decimal_frame(spark, sf_dir).write.mode("overwrite").parquet(
            os.path.join(root, "decimals")
        ),
    )


@register(
    "agg_decimal_exact",
    # Hash oracle: the same exact-decimal pipeline in DuckDB — cents
    # -> DECIMAL(18,2) -> grouped SUM -> cents. Integer-exact at every
    # step; any double sneaking into either side would eventually
    # drift a cent.
    oracle=f"""
        WITH d AS (
          SELECT o_orderkey,
                 CAST(CAST({_CENTS} AS DECIMAL(18,0))
                      * CAST(0.01 AS DECIMAL(4,2)) AS DECIMAL(18,2))
                   AS price_dec
          FROM orders
        )
        SELECT CAST(o_orderkey % 4 AS INTEGER) AS bucket,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(price_dec) * 100 AS BIGINT) AS sum_cents,
               CAST(MAX(price_dec) * 100 AS BIGINT) AS max_cents
        FROM d GROUP BY 1
    """,
    tags=("F7", "decimal", "types", "exactness"),
)
def agg_decimal_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F7 — EXACT DECIMAL AGGREGATION over a parquet DECIMAL(18,2)
    side-fixture: money amounts rebuilt from integer cents into
    decimals, written to parquet (real decimal logical type — schema
    pytest-pinned), read back, and SUM/MAX'd per bucket with the
    result returned as exact integer cents. DECIMAL sums are exact by
    contract at any row count; a double accumulator drifts once
    partial sums cross 2^53 ulps of the addends — at 100 TB of
    line items that is not hypothetical, it is every quarterly
    revenue roll-up.

    Scale: Spark executes decimal(18,2) arithmetic on compact
    unscaled longs (whole-stage codegen, sum promoted to
    decimal(28,2) — overflow-checked, not wrapped); the parquet
    encoding is the interoperable INT64/FLBA decimal every engine
    reads. The oracle runs the identical integer-exact pipeline in
    DuckDB — agreement is bit-for-bit, no tolerance."""
    d = spark.read.parquet(os.path.join(_decimal_fixture(spark, sf_dir), "decimals"))
    return (
        d.groupBy((F.col("o_orderkey") % 4).cast("int").alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            (F.sum("price_dec") * 100).cast("long").alias("sum_cents"),
            (F.max("price_dec") * 100).cast("long").alias("max_cents"),
        )
        .select("bucket", "n_rows", "sum_cents", "max_cents")
    )


@register(
    "agg_decimal_revenue_mul",
    # Hash oracle: DECIMAL x DECIMAL line revenue (price * qty) summed
    # exactly — multiplication widens precision/scale per the SQL
    # rules in both engines; the cents projection is integer-exact.
    oracle=f"""
        WITH d AS (
          SELECT o_orderkey,
                 CAST(CAST({_CENTS} AS DECIMAL(18,0))
                      * CAST(0.01 AS DECIMAL(4,2)) AS DECIMAL(18,2))
                   AS price_dec,
                 CAST(o_orderkey % 7 + 1 AS DECIMAL(3,0)) AS qty_dec
          FROM orders
        )
        SELECT CAST(o_orderkey % 4 AS INTEGER) AS bucket,
               CAST(SUM(price_dec * qty_dec) * 100 AS BIGINT)
                 AS revenue_cents
        FROM d GROUP BY 1
    """,
    tags=("F7'", "decimal", "types", "multiplication"),
)
def agg_decimal_revenue_mul(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F7' — DECIMAL x DECIMAL revenue: price_dec(18,2) * qty_dec(3,0)
    widens to decimal(22,2) per the SQL precision/scale rules — every
    product exact, every partial sum exact, the grouped total
    projected to integer cents with zero tolerance. The
    double-arithmetic version of this query is where financial
    pipelines silently lose cents (0.1 * 3 != 0.3 in binary); the
    decimal version is the reason the type exists.

    Scale: the multiply stays on unscaled longs until precision
    forces Decimal128 — still vectorized, still codegen; the shuffle
    carries one decimal per group, not per row (partial aggregation
    map-side)."""
    d = spark.read.parquet(os.path.join(_decimal_fixture(spark, sf_dir), "decimals"))
    return (
        d.groupBy((F.col("o_orderkey") % 4).cast("int").alias("bucket"))
        .agg(
            (F.sum(F.col("price_dec") * F.col("qty_dec")) * 100)
            .cast("long")
            .alias("revenue_cents")
        )
        .select("bucket", "revenue_cents")
    )


@register(
    "window_dst_boundary",
    # Hash oracle: civil-time bucketing recomputed ARITHMETICALLY —
    # the offset law (EST -5h before the spring instant and after the
    # fall instant, EDT -4h between) applied to the same UTC stream.
    # Agreement proves the engine's tz database matches the written
    # law across both 2024 transitions.
    oracle=f"""
        WITH u AS (
          SELECT o_orderkey,
                 TIMESTAMP '{_DST_SPRING_UTC}'
                   - INTERVAL 90 MINUTE
                   + INTERVAL (CAST(o_orderkey % 180 AS INTEGER)) MINUTE
                   AS ts
          FROM orders
          UNION ALL
          SELECT o_orderkey,
                 TIMESTAMP '{_DST_FALL_UTC}'
                   - INTERVAL 90 MINUTE
                   + INTERVAL (CAST(o_orderkey % 180 AS INTEGER)) MINUTE
          FROM orders
        ),
        loc AS (
          SELECT o_orderkey,
                 ts + CASE
                   WHEN ts >= TIMESTAMP '{_DST_SPRING_UTC}'
                    AND ts <  TIMESTAMP '{_DST_FALL_UTC}'
                   THEN - INTERVAL 4 HOUR ELSE - INTERVAL 5 HOUR
                 END AS lts
          FROM u
        )
        SELECT CAST(strftime(lts, '%m-%d') AS VARCHAR) AS local_day,
               CAST(EXTRACT(hour FROM lts) AS INTEGER) AS local_hour,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM({_CENTS}) AS BIGINT) AS sum_cents
        FROM loc JOIN orders USING (o_orderkey)
        GROUP BY 1, 2
    """,
    tags=("T6", "timezone", "dst", "window", "types"),
)
def window_dst_boundary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T6 — DST-BOUNDARY CIVIL-TIME BUCKETING: UTC instants straddling
    BOTH 2024 America/New_York transitions (90 minutes either side of
    each), converted with ``from_utc_timestamp`` against the real tz
    database and bucketed by LOCAL day+hour. The two pathological
    buckets are pinned by the oracle's arithmetic offset law: the
    spring-forward hour (02:xx on 03-10) receives ZERO rows — that
    civil hour does not exist — and the fall-back hour (01:xx on
    11-03) receives DOUBLE weight, because two UTC hours map onto it.
    Any engine bucketing by a fixed offset, or a tz database
    disagreeing with the law, hash-mismatches immediately.

    Scale: civil-time grouping is the correctness trap of every
    "daily revenue by local market" rollup; the conversion is a
    per-row codegen expression (no shuffle added), and the grouping
    key stays (day, hour) — small. TIMESTAMP_NTZ end to end: instants
    built from literal fields, converted with an explicit
    ``convert_timezone('UTC', ...)``, formatted naively — the session
    timezone is consulted nowhere, so results are
    deployment-independent."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.expr(_CENTS).alias("cents")
    )
    mins = (F.col("o_orderkey") % 180).cast("int") - F.lit(90)
    streams = []
    # TIMESTAMP_NTZ end to end: the UTC instants are BUILT from
    # literal fields (never parsed in the session zone) and the civil
    # result formats naively — the session timezone is consulted
    # nowhere, so the answer is deployment-independent
    for y, mo, d, h in ((2024, 3, 10, 7), (2024, 11, 3, 6)):
        base = F.make_timestamp_ntz(
            F.lit(y), F.lit(mo), F.lit(d), F.lit(h), F.lit(0), F.lit(0)
        )
        streams.append(
            orders.select(
                "o_orderkey",
                "cents",
                F.timestamp_add("MINUTE", mins, base).alias("ts"),
            )
        )
    u = streams[0].unionByName(streams[1])
    lts = F.convert_timezone(
        F.lit("UTC"), F.lit("America/New_York"), F.col("ts")
    )
    return (
        u.select(
            F.date_format(lts, "MM-dd").alias("local_day"),
            F.hour(lts).alias("local_hour"),
            "cents",
        )
        .groupBy("local_day", "local_hour")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("cents").alias("sum_cents"),
        )
        .select("local_day", "local_hour", "n_rows", "sum_cents")
    )


interpolate_docstrings(globals())
