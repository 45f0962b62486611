"""Driver contract for the spark-graft builder (PySpark target).

Each ``queries()`` entry pairs a timeperiods_spark operator invocation
with an independent ANSI-SQL formulation of the same semantics in
``oracle_sql()`` (DuckDB). Inputs are constructed deterministically
from the driver's parquet tables with identical window/arithmetic
expressions on both sides; every float output is rounded to 6 dp on
both sides so summation order cannot flip the value hash.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from timeperiods_spark import (  # noqa: E402
    cascade,
    compress_series,
    decompress_series,
    gap_fill_locf,
    grouped_cartesian,
    interval_weighted_avg,
    remove_overlaps,
    rollup_regular,
    finalize_rollup,
)
from timeperiods_spark.sources.tokens import (  # noqa: E402
    token_table,
    token_table_oracle_sql,
)

N_TOKEN_DOCS = 2000  # fixed so the token queries are sf-independent

_R = 6  # rounding digits for double outputs (both engines)


def _orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))


def _read(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


# --------------------------------------------------------------------
# shared deterministic input constructions (Spark side)
# --------------------------------------------------------------------


def _x_orders(spark, sf_dir):
    """Non-overlapping weekly intervals per group from orders:
    row_number within g = o_custkey % 20 -> [7rn-6, 7rn]."""
    o = _orders(spark, sf_dir)
    w = Window.partitionBy("g").orderBy("o_orderkey")
    return (
        o.select(
            (F.col("o_custkey") % 20).cast("int").alias("g"),
            "o_orderkey",
            "o_totalprice",
        )
        .withColumn("rn", F.row_number().over(w))
        .select(
            "g",
            (7 * F.col("rn") - 6).cast("long").alias("s"),
            (7 * F.col("rn")).cast("long").alias("e"),
            F.col("o_totalprice").alias("v"),
        )
    )


def _y_regular(spark, groups_df, n_periods: int, width: int):
    per = spark.range(n_periods).select(
        (F.col("id") * width).cast("long").alias("s"),
        (F.col("id") * width + width - 1).cast("long").alias("e"),
    )
    return groups_df.crossJoin(per)


def _finish(df, value_cols, int_cols=("xduration",), ivl_cols=("s", "e")):
    """Round doubles, normalize integer widths for stable hashing."""
    out = df
    for c in value_cols:
        out = out.withColumn(c, F.round(F.col(c).cast("double"), _R))
    for c in ivl_cols:
        out = out.withColumn(c, F.col(c).cast("long"))
    return out


# --------------------------------------------------------------------
# queries
# --------------------------------------------------------------------


def q_iwa_grouped(spark, sf_dir):
    x = _x_orders(spark, sf_dir)
    y = _y_regular(spark, x.select("g").distinct(), 200, 30)
    out = interval_weighted_avg(
        x, y, ("s", "e"), ("v",), ("g",), required_percentage=50.0, validate=False
    )
    return _finish(out, ["v", "yduration"]).select(
        "g",
        "s",
        "e",
        "v",
        "yduration",
        F.col("xduration").cast("long").alias("xduration"),
        F.col("nobs_v").cast("long").alias("nobs_v"),
        F.col("xminstart").cast("long").alias("xminstart"),
        F.col("xmaxend").cast("long").alias("xmaxend"),
    )


SQL_IWA_CORE = """
WITH x AS (
  SELECT CAST(o_custkey % 20 AS INT) AS g,
         CAST(7*ROW_NUMBER() OVER (PARTITION BY o_custkey % 20 ORDER BY o_orderkey) - 6 AS BIGINT) AS s,
         CAST(7*ROW_NUMBER() OVER (PARTITION BY o_custkey % 20 ORDER BY o_orderkey) AS BIGINT) AS e,
         o_totalprice AS v
  FROM orders
),
y AS (
  SELECT g, CAST(30*p AS BIGINT) AS s, CAST(30*p + 29 AS BIGINT) AS e
  FROM (SELECT DISTINCT CAST(o_custkey % 20 AS INT) AS g FROM orders)
  CROSS JOIN (SELECT range AS p FROM range(200))
),
j AS (
  SELECT y.g, y.s AS ys, y.e AS ye,
         CASE WHEN x.s IS NULL THEN NULL ELSE GREATEST(x.s, y.s) END AS cs,
         CASE WHEN x.e IS NULL THEN NULL ELSE LEAST(x.e, y.e) END AS ce, x.v
  FROM y LEFT JOIN x ON x.g = y.g AND x.s <= y.e AND x.e >= y.s
),
a AS (
  SELECT g, ys, ye,
         COALESCE(SUM(ce - cs + 1), 0) AS xdur,
         COALESCE(SUM(CASE WHEN v IS NOT NULL THEN ce - cs + 1 END), 0) AS nobs,
         SUM(v * (ce - cs + 1)) AS sumprod,
         MIN(cs) AS mn, MAX(ce) AS mx
  FROM j GROUP BY g, ys, ye
)
SELECT g, ys AS s, ye AS e,
       ROUND(CASE WHEN 100.0*nobs/(ye - ys + 1) < 50 OR nobs = 0 THEN NULL
                  ELSE sumprod/nobs END, 6) AS v,
       ROUND(CAST(ye - ys + 1 AS DOUBLE), 6) AS yduration,
       CAST(xdur AS BIGINT) AS xduration,
       CAST(nobs AS BIGINT) AS nobs_v,
       CAST(mn AS BIGINT) AS xminstart,
       CAST(mx AS BIGINT) AS xmaxend
FROM a
"""


def q_iwa_dates(spark, sf_dir):
    o = _orders(spark, sf_dir)
    w = Window.partitionBy("g").orderBy("o_orderkey")
    base = F.lit("1994-01-01").cast("date")
    x = (
        o.select(
            (F.col("o_custkey") % 10).cast("int").alias("g"),
            "o_orderkey",
            "o_totalprice",
        )
        .withColumn("rn", F.row_number().over(w))
        .select(
            "g",
            F.date_add(base, (7 * (F.col("rn") - 1)).cast("int")).alias("s"),
            F.date_add(base, (7 * F.col("rn") - 1).cast("int")).alias("e"),
            F.col("o_totalprice").alias("v"),
        )
    )
    per = spark.range(60).select(
        F.date_add(base, (F.col("id") * 91).cast("int")).alias("s"),
        F.date_add(base, (F.col("id") * 91 + 90).cast("int")).alias("e"),
    )
    y = x.select("g").distinct().crossJoin(per)
    out = interval_weighted_avg(
        x, y, ("s", "e"), ("v",), ("g",), required_percentage=100.0, validate=False
    )
    return out.select(
        "g",
        "s",
        "e",
        F.round(F.col("v").cast("double"), _R).alias("v"),
        F.round(F.col("yduration").cast("double"), _R).alias("yduration"),
        F.col("xduration").cast("long").alias("xduration"),
        F.col("nobs_v").cast("long").alias("nobs_v"),
        "xminstart",
        "xmaxend",
    )


SQL_IWA_DATES = """
WITH x AS (
  SELECT CAST(o_custkey % 10 AS INT) AS g,
         DATE '1994-01-01' + CAST(7*(ROW_NUMBER() OVER (PARTITION BY o_custkey % 10 ORDER BY o_orderkey) - 1) AS INT) AS s,
         DATE '1994-01-01' + CAST(7*ROW_NUMBER() OVER (PARTITION BY o_custkey % 10 ORDER BY o_orderkey) - 1 AS INT) AS e,
         o_totalprice AS v
  FROM orders
),
y AS (
  SELECT g, DATE '1994-01-01' + CAST(91*p AS INT) AS s,
            DATE '1994-01-01' + CAST(91*p + 90 AS INT) AS e
  FROM (SELECT DISTINCT CAST(o_custkey % 10 AS INT) AS g FROM orders)
  CROSS JOIN (SELECT range AS p FROM range(60))
),
j AS (
  SELECT y.g, y.s AS ys, y.e AS ye,
         CASE WHEN x.s IS NULL THEN NULL ELSE GREATEST(x.s, y.s) END AS cs,
         CASE WHEN x.e IS NULL THEN NULL ELSE LEAST(x.e, y.e) END AS ce, x.v
  FROM y LEFT JOIN x ON x.g = y.g AND x.s <= y.e AND x.e >= y.s
),
a AS (
  SELECT g, ys, ye,
         COALESCE(SUM(ce - cs + 1), 0) AS xdur,
         COALESCE(SUM(CASE WHEN v IS NOT NULL THEN ce - cs + 1 END), 0) AS nobs,
         SUM(v * (ce - cs + 1)) AS sumprod,
         MIN(cs) AS mn, MAX(ce) AS mx
  FROM j GROUP BY g, ys, ye
)
SELECT g, ys AS s, ye AS e,
       ROUND(CASE WHEN 100.0*nobs/(ye - ys + 1) < 100 OR nobs = 0 THEN NULL
                  ELSE sumprod/nobs END, 6) AS v,
       ROUND(CAST(ye - ys + 1 AS DOUBLE), 6) AS yduration,
       CAST(xdur AS BIGINT) AS xduration,
       CAST(nobs AS BIGINT) AS nobs_v,
       mn AS xminstart, mx AS xmaxend
FROM a
"""


def q_iwa_multivalue_nulls(spark, sf_dir):
    li = _read(spark, sf_dir, "lineitem")
    w = Window.partitionBy("g").orderBy("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
    x = (
        li.select(
            (F.col("l_suppkey") % 10).cast("int").alias("g"),
            "l_orderkey",
            "l_linenumber",
            "l_quantity",
            "l_extendedprice",
            F.when(F.col("l_orderkey") % 10 < 3, F.lit(None))
            .otherwise(F.col("l_extendedprice"))
            .alias("v1"),
            F.col("l_quantity").alias("v2"),
        )
        .withColumn("rn", F.row_number().over(w))
        .select(
            "g",
            (3 * F.col("rn") - 2).cast("long").alias("s"),
            (3 * F.col("rn")).cast("long").alias("e"),
            "v1",
            "v2",
        )
    )
    y = _y_regular(spark, x.select("g").distinct(), 220, 100)
    out = interval_weighted_avg(
        x, y, ("s", "e"), ("v1", "v2"), ("g",), required_percentage=50.0, validate=False
    )
    return _finish(out, ["v1", "v2", "yduration"]).select(
        "g",
        "s",
        "e",
        "v1",
        "v2",
        "yduration",
        F.col("xduration").cast("long").alias("xduration"),
        F.col("nobs_v1").cast("long").alias("nobs_v1"),
        F.col("nobs_v2").cast("long").alias("nobs_v2"),
        F.col("xminstart").cast("long").alias("xminstart"),
        F.col("xmaxend").cast("long").alias("xmaxend"),
    )


SQL_IWA_MULTIVALUE = """
WITH x AS (
  SELECT CAST(l_suppkey % 10 AS INT) AS g,
         CAST(3*ROW_NUMBER() OVER (PARTITION BY l_suppkey % 10 ORDER BY l_orderkey, l_linenumber, l_quantity, l_extendedprice) - 2 AS BIGINT) AS s,
         CAST(3*ROW_NUMBER() OVER (PARTITION BY l_suppkey % 10 ORDER BY l_orderkey, l_linenumber, l_quantity, l_extendedprice) AS BIGINT) AS e,
         CASE WHEN l_orderkey % 10 < 3 THEN NULL ELSE l_extendedprice END AS v1,
         l_quantity AS v2
  FROM lineitem
),
y AS (
  SELECT g, CAST(100*p AS BIGINT) AS s, CAST(100*p + 99 AS BIGINT) AS e
  FROM (SELECT DISTINCT CAST(l_suppkey % 10 AS INT) AS g FROM lineitem)
  CROSS JOIN (SELECT range AS p FROM range(220))
),
j AS (
  SELECT y.g, y.s AS ys, y.e AS ye,
         CASE WHEN x.s IS NULL THEN NULL ELSE GREATEST(x.s, y.s) END AS cs,
         CASE WHEN x.e IS NULL THEN NULL ELSE LEAST(x.e, y.e) END AS ce, x.v1, x.v2
  FROM y LEFT JOIN x ON x.g = y.g AND x.s <= y.e AND x.e >= y.s
),
a AS (
  SELECT g, ys, ye,
         COALESCE(SUM(ce - cs + 1), 0) AS xdur,
         COALESCE(SUM(CASE WHEN v1 IS NOT NULL THEN ce - cs + 1 END), 0) AS nobs1,
         COALESCE(SUM(CASE WHEN v2 IS NOT NULL THEN ce - cs + 1 END), 0) AS nobs2,
         SUM(v1 * (ce - cs + 1)) AS sp1,
         SUM(v2 * (ce - cs + 1)) AS sp2,
         MIN(cs) AS mn, MAX(ce) AS mx
  FROM j GROUP BY g, ys, ye
)
SELECT g, ys AS s, ye AS e,
       ROUND(CASE WHEN 100.0*nobs1/(ye - ys + 1) < 50 OR nobs1 = 0 THEN NULL ELSE sp1/nobs1 END, 6) AS v1,
       ROUND(CASE WHEN 100.0*nobs2/(ye - ys + 1) < 50 OR nobs2 = 0 THEN NULL ELSE sp2/nobs2 END, 6) AS v2,
       ROUND(CAST(ye - ys + 1 AS DOUBLE), 6) AS yduration,
       CAST(xdur AS BIGINT) AS xduration,
       CAST(nobs1 AS BIGINT) AS nobs_v1,
       CAST(nobs2 AS BIGINT) AS nobs_v2,
       CAST(mn AS BIGINT) AS xminstart,
       CAST(mx AS BIGINT) AS xmaxend
FROM a
"""


def q_iwa_ungrouped_bin(spark, sf_dir):
    ev = _read(spark, sf_dir, "events")
    w = Window.partitionBy(F.lit(1)).orderBy("event_id")
    x = ev.select("event_id", "value").withColumn("rn", F.row_number().over(w)).select(
        (5 * F.col("rn") - 4).cast("long").alias("s"),
        (5 * F.col("rn")).cast("long").alias("e"),
        F.col("value").alias("v"),
    )
    y = spark.range(120).select(
        (F.col("id") * 500).cast("long").alias("s"),
        (F.col("id") * 500 + 499).cast("long").alias("e"),
    )
    out = interval_weighted_avg(
        x,
        y,
        ("s", "e"),
        ("v",),
        None,
        required_percentage=50.0,
        validate=False,
        join_strategy="bin",
        bin_width=64,
        skew_salt=4,
    )
    return _finish(out, ["v", "yduration"]).select(
        "s",
        "e",
        "v",
        "yduration",
        F.col("xduration").cast("long").alias("xduration"),
        F.col("nobs_v").cast("long").alias("nobs_v"),
        F.col("xminstart").cast("long").alias("xminstart"),
        F.col("xmaxend").cast("long").alias("xmaxend"),
    )


SQL_IWA_UNGROUPED = """
WITH x AS (
  SELECT CAST(5*ROW_NUMBER() OVER (ORDER BY event_id) - 4 AS BIGINT) AS s,
         CAST(5*ROW_NUMBER() OVER (ORDER BY event_id) AS BIGINT) AS e,
         value AS v
  FROM events
),
y AS (
  SELECT CAST(500*p AS BIGINT) AS s, CAST(500*p + 499 AS BIGINT) AS e
  FROM (SELECT range AS p FROM range(120))
),
j AS (
  SELECT y.s AS ys, y.e AS ye,
         CASE WHEN x.s IS NULL THEN NULL ELSE GREATEST(x.s, y.s) END AS cs,
         CASE WHEN x.e IS NULL THEN NULL ELSE LEAST(x.e, y.e) END AS ce, x.v
  FROM y LEFT JOIN x ON x.s <= y.e AND x.e >= y.s
),
a AS (
  SELECT ys, ye,
         COALESCE(SUM(ce - cs + 1), 0) AS xdur,
         COALESCE(SUM(CASE WHEN v IS NOT NULL THEN ce - cs + 1 END), 0) AS nobs,
         SUM(v * (ce - cs + 1)) AS sumprod,
         MIN(cs) AS mn, MAX(ce) AS mx
  FROM j GROUP BY ys, ye
)
SELECT ys AS s, ye AS e,
       ROUND(CASE WHEN 100.0*nobs/(ye - ys + 1) < 50 OR nobs = 0 THEN NULL ELSE sumprod/nobs END, 6) AS v,
       ROUND(CAST(ye - ys + 1 AS DOUBLE), 6) AS yduration,
       CAST(xdur AS BIGINT) AS xduration,
       CAST(nobs AS BIGINT) AS nobs_v,
       CAST(mn AS BIGINT) AS xminstart,
       CAST(mx AS BIGINT) AS xmaxend
FROM a
"""


def q_iwa_null_groups(spark, sf_dir):
    c = _read(spark, sf_dir, "customer")
    g = F.when(F.col("c_nationkey") % 5 == 0, F.lit(None)).otherwise(
        (F.col("c_nationkey") % 5).cast("int")
    )
    w = Window.partitionBy("g").orderBy("c_custkey")
    x = (
        c.select(g.alias("g"), "c_custkey", "c_acctbal")
        .withColumn("rn", F.row_number().over(w))
        .select(
            "g",
            (4 * F.col("rn") - 3).cast("long").alias("s"),
            (4 * F.col("rn")).cast("long").alias("e"),
            F.col("c_acctbal").alias("v"),
        )
    )
    y = _y_regular(spark, x.select("g").distinct(), 60, 25)
    out = interval_weighted_avg(
        x, y, ("s", "e"), ("v",), ("g",), required_percentage=0.0, validate=False
    )
    return _finish(out, ["v", "yduration"]).select(
        "g",
        "s",
        "e",
        "v",
        "yduration",
        F.col("xduration").cast("long").alias("xduration"),
        F.col("nobs_v").cast("long").alias("nobs_v"),
        F.col("xminstart").cast("long").alias("xminstart"),
        F.col("xmaxend").cast("long").alias("xmaxend"),
    )


SQL_IWA_NULL_GROUPS = """
WITH x AS (
  SELECT CASE WHEN c_nationkey % 5 = 0 THEN NULL ELSE CAST(c_nationkey % 5 AS INT) END AS g,
         CAST(4*ROW_NUMBER() OVER (
             PARTITION BY CASE WHEN c_nationkey % 5 = 0 THEN NULL ELSE CAST(c_nationkey % 5 AS INT) END
             ORDER BY c_custkey) - 3 AS BIGINT) AS s,
         CAST(4*ROW_NUMBER() OVER (
             PARTITION BY CASE WHEN c_nationkey % 5 = 0 THEN NULL ELSE CAST(c_nationkey % 5 AS INT) END
             ORDER BY c_custkey) AS BIGINT) AS e,
         c_acctbal AS v
  FROM customer
),
y AS (
  SELECT g, CAST(25*p AS BIGINT) AS s, CAST(25*p + 24 AS BIGINT) AS e
  FROM (SELECT DISTINCT g FROM x)
  CROSS JOIN (SELECT range AS p FROM range(60))
),
j AS (
  SELECT y.g, y.s AS ys, y.e AS ye,
         CASE WHEN x.s IS NULL THEN NULL ELSE GREATEST(x.s, y.s) END AS cs,
         CASE WHEN x.e IS NULL THEN NULL ELSE LEAST(x.e, y.e) END AS ce, x.v
  FROM y LEFT JOIN x ON x.g IS NOT DISTINCT FROM y.g AND x.s <= y.e AND x.e >= y.s
),
a AS (
  SELECT g, ys, ye,
         COALESCE(SUM(ce - cs + 1), 0) AS xdur,
         COALESCE(SUM(CASE WHEN v IS NOT NULL THEN ce - cs + 1 END), 0) AS nobs,
         SUM(v * (ce - cs + 1)) AS sumprod,
         MIN(cs) AS mn, MAX(ce) AS mx
  FROM j GROUP BY g, ys, ye
)
SELECT g, ys AS s, ye AS e,
       ROUND(CASE WHEN nobs = 0 THEN NULL ELSE sumprod/nobs END, 6) AS v,
       ROUND(CAST(ye - ys + 1 AS DOUBLE), 6) AS yduration,
       CAST(xdur AS BIGINT) AS xduration,
       CAST(nobs AS BIGINT) AS nobs_v,
       CAST(mn AS BIGINT) AS xminstart,
       CAST(mx AS BIGINT) AS xmaxend
FROM a
"""


def q_remove_overlaps(spark, sf_dir):
    li = _read(spark, sf_dir, "lineitem")
    w = Window.partitionBy("g").orderBy("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
    x = (
        li.select(
            (F.col("l_suppkey") % 5).cast("int").alias("g"),
            "l_orderkey",
            "l_linenumber",
            "l_quantity",
            "l_extendedprice",
        )
        .withColumn("rn", F.row_number().over(w))
        .select(
            "g",
            F.col("rn").cast("long").alias("s"),
            (F.col("rn") + (F.col("l_quantity").cast("long") % 5) + 1).alias("e"),
        )
    )
    out = remove_overlaps(x, ("s", "e"), ("g",))
    return out.select(
        "g",
        F.col("s").cast("long").alias("s"),
        F.col("e").cast("long").alias("e"),
        F.col("o_s").cast("long").alias("o_s"),
        F.col("o_e").cast("long").alias("o_e"),
    )


SQL_REMOVE_OVERLAPS = """
WITH x AS (
  SELECT CAST(l_suppkey % 5 AS INT) AS g,
         CAST(ROW_NUMBER() OVER (PARTITION BY l_suppkey % 5 ORDER BY l_orderkey, l_linenumber, l_quantity, l_extendedprice) AS BIGINT) AS s,
         CAST(ROW_NUMBER() OVER (PARTITION BY l_suppkey % 5 ORDER BY l_orderkey, l_linenumber, l_quantity, l_extendedprice)
              + CAST(l_quantity AS BIGINT) % 5 + 1 AS BIGINT) AS e
  FROM lineitem
),
m AS (
  SELECT g, s AS val, FALSE AS is_end FROM x
  UNION ALL
  SELECT g, e AS val, TRUE AS is_end FROM x
),
sw AS (
  SELECT g, val, is_end,
         LEAD(is_end) OVER w AS next_end,
         LEAD(val) OVER w AS next_val
  FROM m WINDOW w AS (PARTITION BY g ORDER BY val, is_end)
),
atomic AS (
  SELECT g,
         CASE WHEN NOT is_end THEN val ELSE val + 1 END AS a_s,
         CASE WHEN NOT next_end THEN next_val - 1 ELSE next_val END AS a_e
  FROM sw WHERE next_end IS NOT NULL
)
SELECT x.g, a.a_s AS s, a.a_e AS e, x.s AS o_s, x.e AS o_e
FROM atomic a JOIN x ON a.g = x.g AND a.a_s <= x.e AND a.a_e >= x.s
WHERE a.a_e >= a.a_s
"""


def q_grouped_cartesian(spark, sf_dir):
    part = _read(spark, sf_dir, "part").select(
        (F.col("p_size") % 3).cast("int").alias("g"),
        F.col("p_partkey").alias("pk"),
        F.col("p_retailprice").alias("pprice"),
    )
    sup = _read(spark, sf_dir, "supplier").select(
        (F.col("s_suppkey") % 3).cast("int").alias("g"),
        F.col("s_suppkey").alias("sk"),
        F.col("s_acctbal").alias("sbal"),
    )
    return grouped_cartesian([part, sup], ["g"]).select(
        "g", "pk", F.round("pprice", _R).alias("pprice"), "sk",
        F.round("sbal", _R).alias("sbal"),
    )


SQL_GROUPED_CARTESIAN = """
SELECT CAST(p_size % 3 AS INT) AS g, p_partkey AS pk,
       ROUND(p_retailprice, 6) AS pprice,
       s_suppkey AS sk, ROUND(s_acctbal, 6) AS sbal
FROM part JOIN supplier ON p_size % 3 = s_suppkey % 3
"""


def q_token_table(spark, sf_dir):
    t = token_table(spark, N_TOKEN_DOCS)
    return t.select(
        "doc_id",
        F.aggregate("tokens", F.lit(0).cast("long"), lambda a, x: a + x).alias(
            "tokens_sum"
        ),
        F.size("tokens").alias("tokens_len"),
        F.col("n_tok").cast("long").alias("n_tok"),
        "source",
        F.col("start_hour").cast("long").alias("start_hour"),
        F.col("end_hour").cast("long").alias("end_hour"),
    )


SQL_TOKEN_TABLE = f"""
SELECT doc_id,
       CAST(list_aggregate(tokens, 'sum') AS BIGINT) AS tokens_sum,
       CAST(len(tokens) AS INT) AS tokens_len,
       CAST(n_tok AS BIGINT) AS n_tok,
       source,
       CAST(start_hour AS BIGINT) AS start_hour,
       CAST(end_hour AS BIGINT) AS end_hour
FROM ({token_table_oracle_sql(N_TOKEN_DOCS)})
"""


def _token_rollup_sql(width: int) -> str:
    return f"""
WITH tok AS ({token_table_oracle_sql(N_TOKEN_DOCS)}),
p AS (
  SELECT range AS period,
         CAST({width}*range AS BIGINT) AS ps,
         CAST({width}*range + {width} - 1 AS BIGINT) AS pe
  FROM range(CAST(CEIL(8784.0 / {width}) AS BIGINT))
),
j AS (
  SELECT t.source, p.period, p.ps, p.pe,
         GREATEST(t.start_hour, p.ps) AS cs,
         LEAST(t.end_hour, p.pe) AS ce,
         CAST(t.n_tok AS DOUBLE) AS v
  FROM tok t JOIN p ON t.start_hour <= p.pe AND t.end_hour >= p.ps
)
SELECT source, CAST(period AS BIGINT) AS period,
       ROUND(SUM(v * (ce - cs + 1)) / SUM(ce - cs + 1), 6) AS n_tok,
       CAST(SUM(ce - cs + 1) AS BIGINT) AS xduration,
       CAST(SUM(ce - cs + 1) AS BIGINT) AS nobs_n_tok,
       CAST(MIN(cs) AS BIGINT) AS xminstart,
       CAST(MAX(ce) AS BIGINT) AS xmaxend
FROM j GROUP BY source, period
"""


def _q_token_rollup(spark, width: int):
    t = token_table(spark, N_TOKEN_DOCS)
    out = rollup_regular(
        t,
        ("start_hour", "end_hour"),
        ("n_tok",),
        ("source",),
        width=width,
        required_percentage=0.0,
    )
    return out.select(
        "source",
        F.col("period").cast("long").alias("period"),
        F.round(F.col("n_tok"), _R).alias("n_tok"),
        F.col("xduration").cast("long").alias("xduration"),
        F.col("nobs_n_tok").cast("long").alias("nobs_n_tok"),
        F.col("xminstart").cast("long").alias("xminstart"),
        F.col("xmaxend").cast("long").alias("xmaxend"),
    )


def q_rollup_daily(spark, sf_dir):
    return _q_token_rollup(spark, 24)


def q_rollup_weekly_cascade(spark, sf_dir):
    """Weekly tier derived by cascading hourly partials — the oracle
    computes weekly DIRECTLY in SQL, so this cross-checks cascade
    exactness through an independent engine."""
    t = token_table(spark, N_TOKEN_DOCS)
    hourly = rollup_regular(
        t, ("start_hour", "end_hour"), ("n_tok",), ("source",), width=1, partial=True
    )
    weekly = cascade(hourly, ("n_tok",), ("source",), fine_width=1, coarse_width=168)
    out = finalize_rollup(
        weekly, ("n_tok",), ("source",), width=168, required_percentage=0.0
    )
    return out.select(
        "source",
        F.col("period").cast("long").alias("period"),
        F.round(F.col("n_tok"), _R).alias("n_tok"),
        F.col("xduration").cast("long").alias("xduration"),
        F.col("nobs_n_tok").cast("long").alias("nobs_n_tok"),
        F.col("xminstart").cast("long").alias("xminstart"),
        F.col("xmaxend").cast("long").alias("xmaxend"),
    )


def q_gap_fill_locf(spark, sf_dir):
    t = token_table(spark, N_TOKEN_DOCS)
    daily = rollup_regular(
        t,
        ("start_hour", "end_hour"),
        ("n_tok",),
        ("source",),
        width=24,
        required_percentage=0.0,
    )
    filled = gap_fill_locf(
        daily, ("n_tok",), ("source",), width=24, span=(0, 24 * 366 - 1)
    )
    return filled.select(
        "source",
        F.col("period").cast("long").alias("period"),
        F.round(F.col("n_tok_filled"), _R).alias("n_tok_filled"),
        F.col("gap_filled"),
        F.col("xduration").cast("long").alias("xduration"),
    )


SQL_GAP_FILL = f"""
WITH daily AS ({_token_rollup_sql(24)}),
scaffold AS (
  SELECT s.source, CAST(p.range AS BIGINT) AS period
  FROM (SELECT DISTINCT source FROM daily) s
  CROSS JOIN range(366) p
),
joined AS (
  SELECT sc.source, sc.period, d.n_tok, d.xduration
  FROM scaffold sc LEFT JOIN daily d
    ON sc.source = d.source AND sc.period = d.period
)
SELECT source, period,
       ROUND(last_value(n_tok IGNORE NULLS) OVER (
           PARTITION BY source ORDER BY period
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS n_tok_filled,
       (xduration IS NULL OR xduration = 0) AS gap_filled,
       CAST(COALESCE(xduration, 0) AS BIGINT) AS xduration
FROM joined
"""


def q_gap_fill_interp(spark, sf_dir):
    """Linear interpolation between neighboring observations (the
    gap-fill family's second mode; TimescaleDB `interpolate` analog) —
    NULL outside the observed range, exact value at observed periods."""
    from timeperiods_spark.operators.rollup import gap_fill_interpolate

    t = token_table(spark, N_TOKEN_DOCS)
    daily = rollup_regular(
        t,
        ("start_hour", "end_hour"),
        ("n_tok",),
        ("source",),
        width=24,
        required_percentage=0.0,
    )
    # anchor parity with the oracle: the SQL twin's daily n_tok is
    # ROUND(.., 6); interpolating from unrounded anchors differs in the
    # 6th decimal, so round the Spark anchors identically first
    daily = daily.withColumn("n_tok", F.round("n_tok", 6))
    filled = gap_fill_interpolate(
        daily, ("n_tok",), ("source",), width=24, span=(0, 24 * 366 - 1)
    )
    return filled.select(
        "source",
        F.col("period").cast("long").alias("period"),
        F.round(F.col("n_tok_interp"), _R).alias("n_tok_interp"),
        F.col("gap_filled"),
    )


SQL_GAP_FILL_INTERP = f"""
WITH daily AS ({_token_rollup_sql(24)}),
scaffold AS (
  SELECT s.source, CAST(p.range AS BIGINT) AS period
  FROM (SELECT DISTINCT source FROM daily) s
  CROSS JOIN range(366) p
),
joined AS (
  SELECT sc.source, sc.period, d.n_tok, d.xduration
  FROM scaffold sc LEFT JOIN daily d
    ON sc.source = d.source AND sc.period = d.period
),
anchored AS (
  SELECT source, period, n_tok, xduration,
         MAX(CASE WHEN n_tok IS NOT NULL THEN period END) OVER (
             PARTITION BY source ORDER BY period
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_p,
         last_value(n_tok IGNORE NULLS) OVER (
             PARTITION BY source ORDER BY period
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_v,
         MIN(CASE WHEN n_tok IS NOT NULL THEN period END) OVER (
             PARTITION BY source ORDER BY period
             ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_p,
         first_value(n_tok IGNORE NULLS) OVER (
             PARTITION BY source ORDER BY period
             ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_v
  FROM joined
)
SELECT source, period,
       ROUND(CASE
         WHEN n_tok IS NOT NULL THEN n_tok
         WHEN prev_v IS NULL OR next_v IS NULL THEN NULL
         ELSE prev_v + (next_v - prev_v) * (period - prev_p)
              / CAST(next_p - prev_p AS DOUBLE)
       END, 6) AS n_tok_interp,
       (xduration IS NULL OR xduration = 0) AS gap_filled
FROM anchored
"""


def q_sessionize(spark, sf_dir):
    """Gap-based sessionization of the events stream: per-user session
    ordinal with a 30-minute inactivity gap. The carry-bucketed
    prefix-sum must reproduce the plain windowed formulation the DuckDB
    twin uses."""
    from timeperiods_spark import sessionize

    ev = _read(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.unix_timestamp("ts").cast("long").alias("tsec"),
    )
    out = sessionize(
        ev, "tsec", 1800, ["user_id"], tiebreak=["event_id"]
    )
    return out.select(
        F.col("user_id").cast("long").alias("user_id"),
        F.col("event_id").cast("long").alias("event_id"),
        F.col("session_id").cast("long").alias("session_id"),
    )


SQL_SESSIONIZE = """
WITH e AS (
  SELECT user_id, event_id, CAST(epoch(ts) AS BIGINT) AS tsec FROM events
),
flagged AS (
  SELECT user_id, event_id, tsec,
         CASE WHEN lag(tsec) OVER w IS NULL
                   OR tsec - lag(tsec) OVER w > 1800
              THEN 1 ELSE 0 END AS f
  FROM e
  WINDOW w AS (PARTITION BY user_id ORDER BY tsec, event_id)
)
SELECT user_id, event_id,
       CAST(SUM(f) OVER (PARTITION BY user_id ORDER BY tsec, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS session_id
FROM flagged
"""


#: non-leap calendar months as day offsets/lengths — the irregular
#: schedule the regular-grid tiers cannot express
_MONTH_CUM = [0, 31, 59, 90, 120, 151, 181, 212, 243, 273, 304, 334]
_MONTH_LEN = [31, 28, 31, 30, 31, 30, 31, 31, 30, 31, 30, 31]


def q_iwa_monthly(spark, sf_dir):
    """Calendar-month tier over the token table via the GENERAL
    interval_weighted_avg path: months are irregular (28-31 days), so
    rollup_regular can't express them — this is the pattern for
    arbitrary calendars at scale (tiny broadcast-able y schedule
    against the huge measurement table)."""
    t = token_table(spark, N_TOKEN_DOCS)
    x = t.select(
        "source",
        F.col("start_hour").alias("s"),
        F.col("end_hour").alias("e"),
        F.col("n_tok").cast("double").alias("v"),
    )
    months = spark.createDataFrame(
        [
            (c * 24, (c + l) * 24 - 1)
            for c, l in zip(_MONTH_CUM, _MONTH_LEN)
        ],
        "s int, e int",
    )
    y = spark.range(11).selectExpr("concat('src_', id) AS source").crossJoin(months)
    # doc intervals within a source overlap freely — the reference's
    # skip_overlap_check escape hatch (timeperiod_functions.R:213-220)
    # is exactly for duration-weighted means over overlapping inputs;
    # validate=False additionally skips the x-duplicate scan (docs can
    # legitimately share an interval here)
    out = interval_weighted_avg(
        x, y, ("s", "e"), ("v",), ("source",), 0.0,
        skip_overlap_check=True, validate=False,
        join_strategy="broadcast_y", assume_y_distinct=True,
    )
    return out.select(
        "source",
        F.col("s").cast("long").alias("s"),
        F.col("e").cast("long").alias("e"),
        F.round("v", _R).alias("v"),
        F.col("xduration").cast("long").alias("xduration"),
        F.col("nobs_v").cast("long").alias("nobs_v"),
    )


_MONTHS_SQL = ", ".join(
    f"({c * 24}, {(c + l) * 24 - 1})" for c, l in zip(_MONTH_CUM, _MONTH_LEN)
)

SQL_IWA_MONTHLY = f"""
WITH tok AS ({{tok}}),
months(ms, me) AS (VALUES {_MONTHS_SQL}),
y AS (
  SELECT concat('src_', r.range) AS source, ms, me
  FROM range(11) r CROSS JOIN months
),
j AS (
  SELECT y.source, y.ms, y.me,
         CASE WHEN t.start_hour IS NULL THEN NULL
              ELSE GREATEST(t.start_hour, y.ms) END AS cs,
         CASE WHEN t.end_hour IS NULL THEN NULL
              ELSE LEAST(t.end_hour, y.me) END AS ce,
         CAST(t.n_tok AS DOUBLE) AS v
  FROM y LEFT JOIN tok t
    ON t.source = y.source AND t.start_hour <= y.me AND t.end_hour >= y.ms
),
a AS (
  SELECT source, ms, me,
         COALESCE(SUM(ce - cs + 1), 0) AS xdur,
         COALESCE(SUM(CASE WHEN v IS NOT NULL THEN ce - cs + 1 END), 0) AS nobs,
         SUM(v * (ce - cs + 1)) AS sumprod
  FROM j GROUP BY source, ms, me
)
SELECT source, CAST(ms AS BIGINT) AS s, CAST(me AS BIGINT) AS e,
       ROUND(CASE WHEN nobs = 0 THEN NULL ELSE sumprod/nobs END, 6) AS v,
       CAST(xdur AS BIGINT) AS xduration,
       CAST(nobs AS BIGINT) AS nobs_v
FROM a
"""
SQL_IWA_MONTHLY = SQL_IWA_MONTHLY.format(tok=token_table_oracle_sql(N_TOKEN_DOCS))


def q_downsample_m4(spark, sf_dir):
    """M4 min/max downsampling (Jugel et al., VLDB 2014): first/last/
    min/max per 32-day bucket of the daily token series — at most 4
    original points per bucket, one hash aggregate, no window."""
    from timeperiods_spark.operators.downsample import downsample_m4

    t = token_table(spark, N_TOKEN_DOCS)
    daily = rollup_regular(
        t, ("start_hour", "end_hour"), ("n_tok",), ("source",),
        width=24, required_percentage=0.0,
    # round the anchors exactly as the oracle's daily CTE does — the
    # min/max PICKS compare values, so both engines must compare the
    # same rounded numbers
    ).withColumn("n_tok", F.round("n_tok", 6))
    out = downsample_m4(daily, "period", "n_tok", ["source"], bucket_width=32)
    return out.select(
        "source",
        F.col("bucket").cast("long").alias("bucket"),
        F.col("period").cast("long").alias("period"),
        F.round("value", _R).alias("value"),
    )


SQL_DOWNSAMPLE_M4 = f"""
WITH daily AS ({{daily}}),
b AS (
  SELECT source, CAST(FLOOR(period / 32) AS BIGINT) AS bucket,
         period, n_tok AS value
  FROM daily WHERE n_tok IS NOT NULL
),
stats AS (
  SELECT source, bucket, MIN(period) AS p_first, MAX(period) AS p_last,
         MIN(value) AS v_min, MAX(value) AS v_max
  FROM b GROUP BY source, bucket
),
picks AS (
  SELECT s.source, s.bucket, s.p_first, s.p_last,
         MIN(CASE WHEN b.value = s.v_min THEN b.period END) AS p_vmin,
         MIN(CASE WHEN b.value = s.v_max THEN b.period END) AS p_vmax
  FROM stats s JOIN b ON b.source = s.source AND b.bucket = s.bucket
  GROUP BY s.source, s.bucket, s.p_first, s.p_last
),
pts AS (
  SELECT source, bucket, p_first AS period FROM picks
  UNION SELECT source, bucket, p_last FROM picks
  UNION SELECT source, bucket, p_vmin FROM picks
  UNION SELECT source, bucket, p_vmax FROM picks
)
SELECT p.source, p.bucket, CAST(p.period AS BIGINT) AS period,
       ROUND(b.value, 6) AS value
FROM pts p JOIN b ON b.source = p.source AND b.bucket = p.bucket
                 AND b.period = p.period
"""
SQL_DOWNSAMPLE_M4 = SQL_DOWNSAMPLE_M4.format(daily=_token_rollup_sql(24))


def q_gorilla_roundtrip(spark, sf_dir):
    """Compression round-trip audit (non-SQL-expressible: bit-packed
    binary codec → rows-only driver check). n_mismatch must be 0."""
    t = token_table(spark, N_TOKEN_DOCS)
    daily = rollup_regular(
        t,
        ("start_hour", "end_hour"),
        ("n_tok",),
        ("source",),
        width=24,
        required_percentage=0.0,
    ).select("source", "period", F.col("n_tok").alias("value"))
    comp = compress_series(daily, ["source"])
    back = decompress_series(comp, ["source"]).withColumnRenamed("value", "value_rt")
    joined = daily.join(back, ["source", "period"], "full")
    return (
        joined.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            F.sum(
                F.when(
                    ~(
                        F.col("value").eqNullSafe(F.col("value_rt"))
                        | (F.isnan(F.coalesce("value_rt", F.lit(0.0))) & F.col("value").isNull())
                    ),
                    1,
                ).otherwise(0)
            ).alias("n_mismatch"),
        )
        .orderBy("source")
    )


def q_running_max(spark, sf_dir):
    """O26 (reference cummax.Date, timeperiod_functions.R:52)
    generalized: grouped running max over an explicit order."""
    from timeperiods_spark.operators.overlaps import running_max

    ev = _read(spark, sf_dir, "events")
    df = ev.select(
        (F.col("user_id") % 7).cast("int").alias("g"),
        "event_id",
        F.col("value").alias("v"),
    )
    out = running_max(df, "v", ["event_id"], ["g"], out_col="v_cummax")
    return out.select(
        "g",
        "event_id",
        F.round("v", _R).alias("v"),
        F.round("v_cummax", _R).alias("v_cummax"),
    )


SQL_RUNNING_MAX = """
SELECT CAST(user_id % 7 AS INT) AS g, event_id,
       ROUND(value, 6) AS v,
       ROUND(MAX(value) OVER (PARTITION BY user_id % 7 ORDER BY event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS v_cummax
FROM events
"""


def q_iwa_sorted_validated(spark, sf_dir):
    """O14 (sorted output, reference setkeyv) + the eager validation
    path (O2/O11/O15): x is clean by construction, so validate=True
    runs the duplicate/overlap window scans and passes. The driver's
    hash is order-insensitive; this query's value is that the sorted,
    validated plan executes and matches the same oracle."""
    x = _x_orders(spark, sf_dir)
    y = _y_regular(spark, x.select("g").distinct(), 200, 30)
    out = interval_weighted_avg(
        x, y, ("s", "e"), ("v",), ("g",),
        required_percentage=80.0,
        validate=True,
        skip_overlap_check=False,
        sort_output=True,
    )
    return _finish(out, ["v", "yduration"]).select(
        "g", "s", "e", "v", "yduration",
        F.col("xduration").cast("long").alias("xduration"),
        F.col("nobs_v").cast("long").alias("nobs_v"),
        F.col("xminstart").cast("long").alias("xminstart"),
        F.col("xmaxend").cast("long").alias("xmaxend"),
    )


SQL_IWA_SORTED = SQL_IWA_CORE.replace(
    "100.0*nobs/(ye - ys + 1) < 50", "100.0*nobs/(ye - ys + 1) < 80"
)


def q_asof_events(spark, sf_dir):
    """As-of join: for each regular query time per group, the latest
    event value at or before it. The oracle is DuckDB's NATIVE
    ASOF LEFT JOIN — a fully independent implementation of the
    semantics (the Spark side is a union + carry-forward window,
    not a join at all)."""
    from timeperiods_spark.operators.asof import asof_join

    ev = _read(spark, sf_dir, "events")
    obs = ev.select(
        (F.col("user_id") % 7).cast("int").alias("g"),
        F.col("event_id").alias("t"),
        F.col("value").alias("v"),
    )
    q = obs.select("g").distinct().crossJoin(
        spark.range(200).select((F.col("id") * 37).cast("long").alias("t"))
    )
    out = asof_join(q, obs, "t", ["v"], ["g"])
    return out.select(
        "g",
        F.col("t").cast("long").alias("t"),
        F.round("v", _R).alias("v"),
        F.col("asof_t").cast("long").alias("asof_t"),
    )


SQL_ASOF_EVENTS = """
WITH obs AS (
  SELECT CAST(user_id % 7 AS INT) AS og, event_id AS ot, value AS v FROM events
),
q AS (
  SELECT g, CAST(37*p AS BIGINT) AS t
  FROM (SELECT DISTINCT CAST(user_id % 7 AS INT) AS g FROM events)
  CROSS JOIN (SELECT range AS p FROM range(200))
)
SELECT q.g, q.t, ROUND(o.v, 6) AS v, o.ot AS asof_t
FROM q ASOF LEFT JOIN obs o ON q.g = o.og AND q.t >= o.ot
"""


def q_asof_tolerance(spark, sf_dir):
    """Backward as-of with a max-staleness window (tolerance=50):
    matches older than t-50 are masked to NULL. Oracle = bounded
    GROUP BY arg-max (obs times are unique event ids, so no ties)."""
    from timeperiods_spark.operators.asof import asof_join

    ev = _read(spark, sf_dir, "events")
    obs = ev.select(
        (F.col("user_id") % 7).cast("int").alias("g"),
        F.col("event_id").alias("t"),
        F.col("value").alias("v"),
    )
    q = obs.select("g").distinct().crossJoin(
        spark.range(200).select((F.col("id") * 37).cast("long").alias("t"))
    )
    out = asof_join(q, obs, "t", ["v"], ["g"], tolerance=50)
    return out.select(
        "g",
        F.col("t").cast("long").alias("t"),
        F.round("v", _R).alias("v"),
        F.col("asof_t").cast("long").alias("asof_t"),
    )


SQL_ASOF_TOLERANCE = """
WITH obs AS (
  SELECT CAST(user_id % 7 AS INT) AS og, event_id AS ot, value AS v FROM events
),
q AS (
  SELECT g, CAST(37*p AS BIGINT) AS t
  FROM (SELECT DISTINCT CAST(user_id % 7 AS INT) AS g FROM events)
  CROSS JOIN (SELECT range AS p FROM range(200))
)
SELECT q.g, q.t, ROUND(MAX_BY(o.v, o.ot), 6) AS v, MAX(o.ot) AS asof_t
FROM q LEFT JOIN obs o
  ON q.g IS NOT DISTINCT FROM o.og
 AND o.ot <= q.t AND o.ot >= q.t - 50
GROUP BY q.g, q.t
"""


def q_asof_forward(spark, sf_dir):
    """Forward as-of join (earliest observation at or after each query
    time) — DuckDB ASOF only supports the backward inequality, so the
    twin negates both time axes, which is also exactly how the Spark
    side reduces forward to its backward carry (one pass)."""
    from timeperiods_spark.operators.asof import asof_join

    ev = _read(spark, sf_dir, "events")
    obs = ev.select(
        (F.col("user_id") % 7).cast("int").alias("g"),
        F.col("event_id").alias("t"),
        F.col("value").alias("v"),
    )
    q = obs.select("g").distinct().crossJoin(
        spark.range(200).select((F.col("id") * 37).cast("long").alias("t"))
    )
    out = asof_join(q, obs, "t", ["v"], ["g"], direction="forward")
    return out.select(
        "g",
        F.col("t").cast("long").alias("t"),
        F.round("v", _R).alias("v"),
        F.col("asof_t").cast("long").alias("asof_t"),
    )


SQL_ASOF_FORWARD = """
WITH obs AS (
  SELECT CAST(user_id % 7 AS INT) AS og, -event_id AS ot, value AS v FROM events
),
q AS (
  SELECT g, CAST(37*p AS BIGINT) AS t
  FROM (SELECT DISTINCT CAST(user_id % 7 AS INT) AS g FROM events)
  CROSS JOIN (SELECT range AS p FROM range(200))
)
SELECT q.g, q.t, ROUND(o.v, 6) AS v, -o.ot AS asof_t
FROM q ASOF LEFT JOIN obs o ON q.g = o.og AND -q.t >= o.ot
"""


def q_rolling_7d(spark, sf_dir):
    """Trailing 7-day rolling statistics over the daily token series —
    the fan-out + hash-agg formulation (no RANGE window, no per-group
    task ceiling) must equal the oracle's RANGE window exactly."""
    from timeperiods_spark.operators.rolling import rolling_window_agg

    t = token_table(spark, N_TOKEN_DOCS)
    daily = rollup_regular(
        t, ("start_hour", "end_hour"), ("n_tok",), ("source",),
        width=24, required_percentage=0.0,
    ).select(
        "source", "period",
        # same anchor-rounding parity as the other derived queries
        F.round("n_tok", 6).alias("value"),
    )
    out = rolling_window_agg(daily, "period", "value", ["source"], k=7)
    return out.select(
        "source",
        F.col("period").cast("long").alias("period"),
        F.round("value", _R).alias("value"),
        F.round("roll_sum", _R).alias("roll_sum"),
        F.col("roll_count").cast("long").alias("roll_count"),
        # mean re-derived from the 6dp-rounded sum on BOTH engines: the
        # raw sums differ in low bits by summation order, and a
        # division of near-.5-boundary floats flips the 6th decimal
        F.round(F.round("roll_sum", _R) / F.col("roll_count"), _R).alias(
            "roll_mean"
        ),
        F.round("roll_min", _R).alias("roll_min"),
        F.round("roll_max", _R).alias("roll_max"),
    )


SQL_ROLLING_7D = f"""
WITH daily AS ({_token_rollup_sql(24)}),
s AS (SELECT source, period, n_tok AS value FROM daily)
SELECT source, CAST(period AS BIGINT) AS period,
       ROUND(value, 6) AS value,
       ROUND(SUM(value) OVER w, 6) AS roll_sum,
       CAST(COUNT(value) OVER w AS BIGINT) AS roll_count,
       ROUND(ROUND(SUM(value) OVER w, 6) / COUNT(value) OVER w, 6)
         AS roll_mean,
       ROUND(MIN(value) OVER w, 6) AS roll_min,
       ROUND(MAX(value) OVER w, 6) AS roll_max
FROM s
WINDOW w AS (PARTITION BY source ORDER BY period
             RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
"""


def q_tier_variance(spark, sf_dir):
    """Exact time-weighted variance at the daily tier from ADDITIVE
    second-moment partials (sumsq) — cascade-exact like every other
    partial, so variance is available at any tier without rescanning
    raw data. Values rounded to 4dp: var = E[x^2]-E[x]^2 cancels ~10
    digits at these magnitudes, and the two engines' summation orders
    differ in the low bits."""
    t = token_table(spark, N_TOKEN_DOCS)
    daily = rollup_regular(
        t, ("start_hour", "end_hour"), ("n_tok",), ("source",),
        width=24, required_percentage=0.0, partial=True, extra_stats=True,
    )
    from timeperiods_spark.operators.rollup import finalize_rollup

    out = finalize_rollup(
        daily, ("n_tok",), ("source",), width=24, required_percentage=0.0
    )
    return out.select(
        "source",
        F.col("period").cast("long").alias("period"),
        F.round("n_tok", 4).alias("n_tok"),
        F.round("n_tok_var", 4).alias("n_tok_var"),
        F.col("xduration").cast("long").alias("xduration"),
    )


SQL_TIER_VARIANCE = f"""
WITH tok AS ({{tok}}),
p AS (
  SELECT range AS period, CAST(24*range AS BIGINT) AS ps,
         CAST(24*range + 23 AS BIGINT) AS pe
  FROM range(CAST(CEIL(8784.0 / 24) AS BIGINT))
),
j AS (
  SELECT t.source, p.period,
         GREATEST(t.start_hour, p.ps) AS cs, LEAST(t.end_hour, p.pe) AS ce,
         CAST(t.n_tok AS DOUBLE) AS v
  FROM tok t JOIN p ON t.start_hour <= p.pe AND t.end_hour >= p.ps
),
a AS (
  SELECT source, CAST(period AS BIGINT) AS period,
         SUM(ce - cs + 1) AS nobs,
         SUM(v * (ce - cs + 1)) AS sumprod,
         SUM(v * v * (ce - cs + 1)) AS sumsq,
         SUM(ce - cs + 1) AS xdur
  FROM j GROUP BY source, period
)
SELECT source, period,
       ROUND(sumprod / nobs, 4) AS n_tok,
       ROUND(sumsq / nobs - (sumprod / nobs) * (sumprod / nobs), 4)
         AS n_tok_var,
       CAST(xdur AS BIGINT) AS xduration
FROM a
"""
SQL_TIER_VARIANCE = SQL_TIER_VARIANCE.format(tok=token_table_oracle_sql(N_TOKEN_DOCS))


def q_merge_intervals(spark, sf_dir):
    """Interval union (gaps-and-islands coverage): merge overlapping or
    closed-grid-adjacent measurement intervals per group. The Spark
    side is a boundary sweep with carried prefix sums; the twin is the
    classic running-max island SQL."""
    from timeperiods_spark import merge_intervals

    ev = _read(spark, sf_dir, "events")
    iv = ev.select(
        (F.col("user_id") % 7).cast("int").alias("g"),
        ((F.col("event_id") * 7) % 10007).cast("int").alias("s"),
        (
            (F.col("event_id") * 7) % 10007
            + (F.col("event_id") % 13) * 3
            + 2
        ).cast("int").alias("e"),
    )
    out = merge_intervals(iv, ("s", "e"), ["g"])
    return out.select(
        "g",
        F.col("s").cast("long").alias("s"),
        F.col("e").cast("long").alias("e"),
        F.col("n_source_intervals").cast("long").alias("n_source_intervals"),
    )


SQL_MERGE_INTERVALS = """
WITH iv AS (
  SELECT CAST(user_id % 7 AS INT) AS g,
         CAST((event_id * 7) % 10007 AS BIGINT) AS s,
         CAST((event_id * 7) % 10007 + (event_id % 13) * 3 + 2 AS BIGINT) AS e
  FROM events
),
ord AS (
  SELECT g, s, e,
         MAX(e) OVER (PARTITION BY g ORDER BY s, e
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS prev_max
  FROM iv
),
flg AS (
  SELECT g, s, e,
         CASE WHEN prev_max IS NULL OR s > prev_max + 1 THEN 1 ELSE 0 END AS brk
  FROM ord
),
isl AS (
  SELECT g, s, e,
         SUM(brk) OVER (PARTITION BY g ORDER BY s, e
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS island
  FROM flg
)
SELECT g, MIN(s) AS s, MAX(e) AS e,
       CAST(COUNT(*) AS BIGINT) AS n_source_intervals
FROM isl GROUP BY g, island
"""


def q_interval_difference(spark, sf_dir):
    """Coverage subtraction (x minus y): event activity minus regular
    maintenance windows. The twin materializes both cell sets, EXCEPTs
    them, and re-forms islands with the c - row_number() trick."""
    from timeperiods_spark import interval_difference

    ev = _read(spark, sf_dir, "events")
    base = (F.col("event_id") * 7) % 10007
    x = ev.select(
        (F.col("user_id") % 7).cast("int").alias("g"),
        base.cast("int").alias("s"),
        (base + (F.col("event_id") % 13) * 3 + 2).cast("int").alias("e"),
    )
    y = x.select("g").distinct().crossJoin(
        spark.range(21).select(
            (F.col("id") * 500).cast("int").alias("s"),
            (F.col("id") * 500 + 99).cast("int").alias("e"),
        )
    )
    out = interval_difference(x, y, ("s", "e"), ["g"])
    return out.select(
        "g",
        F.col("s").cast("long").alias("s"),
        F.col("e").cast("long").alias("e"),
    )


SQL_INTERVAL_DIFFERENCE = """
WITH x AS (
  SELECT CAST(user_id % 7 AS INT) AS g,
         CAST((event_id * 7) % 10007 AS BIGINT) AS s,
         CAST((event_id * 7) % 10007 + (event_id % 13) * 3 + 2 AS BIGINT) AS e
  FROM events
),
y AS (
  SELECT g, CAST(500 * k AS BIGINT) AS s, CAST(500 * k + 99 AS BIGINT) AS e
  FROM (SELECT DISTINCT CAST(user_id % 7 AS INT) AS g FROM events)
  CROSS JOIN (SELECT range AS k FROM range(21))
),
cx AS (SELECT DISTINCT g, unnest(generate_series(s, e)) AS c FROM x),
cy AS (SELECT DISTINCT g, unnest(generate_series(s, e)) AS c FROM y),
cells AS (SELECT g, c FROM cx EXCEPT SELECT g, c FROM cy),
isl AS (
  SELECT g, c, c - ROW_NUMBER() OVER (PARTITION BY g ORDER BY c) AS grp
  FROM cells
)
SELECT g, CAST(MIN(c) AS BIGINT) AS s, CAST(MAX(c) AS BIGINT) AS e
FROM isl GROUP BY g, grp
"""


def q_tier_covariance(spark, sf_dir):
    """Exact time-weighted covariance between two value columns at the
    daily tier from the additive sumxy partial (cross_stats=) — the
    cross-moment member of the mergeable-statistics family. 4dp
    rounding for the same E[xy]-E[x]E[y] cancellation reason as the
    variance query."""
    from timeperiods_spark.operators.rollup import finalize_rollup

    t = token_table(spark, N_TOKEN_DOCS).withColumn(
        "m", (F.col("n_tok") % 97).cast("double")
    )
    daily = rollup_regular(
        t, ("start_hour", "end_hour"), ("n_tok", "m"), ("source",),
        width=24, required_percentage=0.0, partial=True,
        cross_stats=[("n_tok", "m")],
    )
    out = finalize_rollup(
        daily, ("n_tok", "m"), ("source",), width=24, required_percentage=0.0
    )
    return out.select(
        "source",
        F.col("period").cast("long").alias("period"),
        F.round("cov_n_tok_m", 4).alias("cov_n_tok_m"),
        F.col("xduration").cast("long").alias("xduration"),
    )


SQL_TIER_COVARIANCE = f"""
WITH tok AS ({{tok}}),
p AS (
  SELECT range AS period, CAST(24*range AS BIGINT) AS ps,
         CAST(24*range + 23 AS BIGINT) AS pe
  FROM range(CAST(CEIL(8784.0 / 24) AS BIGINT))
),
j AS (
  SELECT t.source, p.period,
         LEAST(t.end_hour, p.pe) - GREATEST(t.start_hour, p.ps) + 1 AS dur,
         CAST(t.n_tok AS DOUBLE) AS x,
         CAST(t.n_tok % 97 AS DOUBLE) AS y
  FROM tok t JOIN p ON t.start_hour <= p.pe AND t.end_hour >= p.ps
),
a AS (
  SELECT source, CAST(period AS BIGINT) AS period,
         SUM(dur) AS n,
         SUM(x * dur) AS sx, SUM(y * dur) AS sy,
         SUM(x * y * dur) AS sxy
  FROM j GROUP BY source, period
)
SELECT source, period,
       ROUND(sxy / n - (sx / n) * (sy / n), 4) AS cov_n_tok_m,
       CAST(n AS BIGINT) AS xduration
FROM a
"""
SQL_TIER_COVARIANCE = SQL_TIER_COVARIANCE.format(
    tok=token_table_oracle_sql(N_TOKEN_DOCS)
)


# --------------------------------------------------------------------
# event-series queries (events table, daily means)
# --------------------------------------------------------------------


def _daily_means(spark, sf_dir):
    """Shared scaffold for the overlap-join queries: one row per
    (event_type, day) with the 6dp-rounded daily mean — rounded first
    so both engines feed bit-identical inputs."""
    ev = _read(spark, sf_dir, "events")
    return (
        ev.filter(F.col("ts").isNotNull() & F.col("value").isNotNull())
        .groupBy("event_type", F.col("ts").cast("date").alias("day"))
        .agg(F.round(F.avg("value"), _R).alias("v"))
    )


_SQL_DAILY_MEANS = """
  SELECT event_type, CAST(ts AS DATE) AS day, ROUND(AVG(value), 6) AS v
  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
  GROUP BY 1, 2
"""


def _events_days(spark, sf_dir):
    ev = _read(spark, sf_dir, "events")
    return (
        ev.filter(F.col("ts").isNotNull() & F.col("user_id").isNotNull())
        .select(
            "event_type",
            F.unix_date(F.col("ts").cast("date")).cast("long").alias("day"),
            "user_id",
        )
    )


_SQL_EVENTS_DAYS = """
  SELECT event_type,
         CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT) AS day,
         user_id
  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
"""


def q_distinct_daily(spark, sf_dir):
    """Daily distinct users per event type through the HLL tier path.
    The sketch itself has no cross-engine twin, so the query is
    self-auditing: it emits the EXACT count (oracle-comparable) plus
    ``est_ok`` = |HLL estimate − exact| / exact <= 5% computed in-band
    (the oracle emits literal TRUE — a drifting sketch flips the flag
    and fails the hash compare)."""
    from timeperiods_spark import distinct_rollup, finalize_distinct

    ev = _events_days(spark, sf_dir)
    daily = distinct_rollup(ev, "day", "user_id", ["event_type"],
                            width=1, exact=True)
    fin = finalize_distinct(daily, "user_id", ["event_type"], width=1)
    return fin.select(
        "event_type",
        F.col("period").alias("day"),
        F.col("n_distinct").cast("long").alias("n_users"),
        (
            F.abs(F.col("n_distinct_est") - F.col("n_distinct"))
            <= 0.05 * F.col("n_distinct")
        ).alias("est_ok"),
    )


SQL_DISTINCT_DAILY = f"""
WITH ev AS ({_SQL_EVENTS_DAYS})
SELECT event_type, day,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
       TRUE AS est_ok
FROM ev GROUP BY event_type, day
"""


def q_distinct_weekly(spark, sf_dir):
    """Weekly distinct users derived by CASCADING the daily HLL
    partials (hll_union_agg — no raw rescan), audited in-band against
    the exact weekly distinct count."""
    from timeperiods_spark import (
        distinct_cascade,
        distinct_rollup,
        finalize_distinct,
    )

    ev = _events_days(spark, sf_dir)
    daily = distinct_rollup(ev, "day", "user_id", ["event_type"], width=1)
    weekly = finalize_distinct(
        distinct_cascade(daily, "user_id", ["event_type"],
                         fine_width=1, coarse_width=7),
        "user_id", ["event_type"], width=7,
    )
    exact = (
        ev.withColumn("period", F.floor(F.col("day") / 7).cast("long"))
        .groupBy("event_type", "period")
        .agg(F.count_distinct("user_id").cast("long").alias("n_users"))
    )
    j = weekly.join(exact, ["event_type", "period"], "inner")
    return j.select(
        "event_type",
        F.col("period").alias("week"),
        "n_users",
        (
            F.abs(F.col("n_distinct_est") - F.col("n_users"))
            <= 0.05 * F.col("n_users")
        ).alias("est_ok"),
    )


SQL_DISTINCT_WEEKLY = f"""
WITH ev AS ({_SQL_EVENTS_DAYS})
SELECT event_type,
       CAST(FLOOR(day / 7) AS BIGINT) AS week,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
       TRUE AS est_ok
FROM ev GROUP BY event_type, FLOOR(day / 7)
"""


def q_overlap_join(spark, sf_dir):
    """Public foverlaps surface: 3-day measurement intervals joined to
    even-week target periods per event type, left-outer (unmatched
    measurements keep NULL y columns — data.table nomatch=NA)."""
    from timeperiods_spark import overlap_join

    d = _daily_means(spark, sf_dir).select(
        "event_type", F.unix_date("day").cast("long").alias("dl"), "v"
    )
    x = d.select("event_type", F.col("dl").alias("s"),
                 (F.col("dl") + 2).alias("e"), "v")
    y = d.select(
        "event_type",
        (F.floor(F.col("dl") / 7) * 7).cast("long").alias("s"),
        (F.floor(F.col("dl") / 7) * 7 + 6).cast("long").alias("e"),
    ).filter(F.pmod(F.floor(F.col("s") / 7), F.lit(2)) == 0).distinct()
    out = overlap_join(x, y, ("s", "e"), ["event_type"], how="left")
    return out.select(
        "event_type", "s_x", "e_x", "s_y", "e_y", "v",
        "overlap_start", "overlap_end", "overlap_duration",
    )


SQL_OVERLAP_JOIN = f"""
WITH daily AS ({_SQL_DAILY_MEANS}),
d2 AS (
  SELECT event_type,
         CAST(date_diff('day', DATE '1970-01-01', day) AS BIGINT) AS dl, v
  FROM daily
),
x AS (SELECT event_type, dl AS s, dl + 2 AS e, v FROM d2),
y AS (
  SELECT DISTINCT event_type,
         CAST(FLOOR(dl / 7) * 7 AS BIGINT) AS ys,
         CAST(FLOOR(dl / 7) * 7 + 6 AS BIGINT) AS ye
  FROM d2
  WHERE CAST(FLOOR(dl / 7) AS BIGINT) % 2 = 0
)
SELECT x.event_type,
       x.s AS s_x, x.e AS e_x, y.ys AS s_y, y.ye AS e_y, x.v,
       CASE WHEN y.ys IS NULL THEN NULL
            ELSE GREATEST(x.s, y.ys) END AS overlap_start,
       CASE WHEN y.ys IS NULL THEN NULL
            ELSE LEAST(x.e, y.ye) END AS overlap_end,
       CASE WHEN y.ys IS NULL THEN NULL
            ELSE CAST(LEAST(x.e, y.ye) - GREATEST(x.s, y.ys) + 1 AS BIGINT)
       END AS overlap_duration
FROM x LEFT JOIN y
  ON x.event_type IS NOT DISTINCT FROM y.event_type
 AND x.s <= y.ye AND x.e >= y.ys
"""


def q_overlap_join_bin_left(spark, sf_dir):
    """Left-how twin on the BUCKETIZED strategy: the bin join preserves
    x inside the join (first-bin NULL candidate + one max(matched)
    window over the x identity) instead of the old dropDuplicates +
    left_anti rescan — pinned in tests/test_plans.py as <= inner
    exchanges + 1 and anti-join-free. Odd weeks only, so a third of the
    measurements come back unmatched with NULL y columns."""
    from timeperiods_spark import overlap_join

    d = _daily_means(spark, sf_dir).select(
        "event_type", F.unix_date("day").cast("long").alias("dl"), "v"
    )
    x = d.select("event_type", F.col("dl").alias("s"),
                 (F.col("dl") + 2).alias("e"), "v")
    y = d.select(
        "event_type",
        (F.floor(F.col("dl") / 7) * 7).cast("long").alias("s"),
        (F.floor(F.col("dl") / 7) * 7 + 6).cast("long").alias("e"),
    ).filter(F.pmod(F.floor(F.col("s") / 7), F.lit(2)) == 1).distinct()
    out = overlap_join(
        x, y, ("s", "e"), ["event_type"], how="left",
        join_strategy="bin", bin_width=7,
    )
    return out.select(
        "event_type", "s_x", "e_x", "s_y", "e_y", "v",
        "overlap_start", "overlap_end", "overlap_duration",
    )


SQL_OVERLAP_JOIN_BIN_LEFT = f"""
WITH daily AS ({_SQL_DAILY_MEANS}),
d2 AS (
  SELECT event_type,
         CAST(date_diff('day', DATE '1970-01-01', day) AS BIGINT) AS dl, v
  FROM daily
),
x AS (SELECT event_type, dl AS s, dl + 2 AS e, v FROM d2),
y AS (
  SELECT DISTINCT event_type,
         CAST(FLOOR(dl / 7) * 7 AS BIGINT) AS ys,
         CAST(FLOOR(dl / 7) * 7 + 6 AS BIGINT) AS ye
  FROM d2
  WHERE CAST(FLOOR(dl / 7) AS BIGINT) % 2 = 1
)
SELECT x.event_type,
       x.s AS s_x, x.e AS e_x, y.ys AS s_y, y.ye AS e_y, x.v,
       CASE WHEN y.ys IS NULL THEN NULL
            ELSE GREATEST(x.s, y.ys) END AS overlap_start,
       CASE WHEN y.ys IS NULL THEN NULL
            ELSE LEAST(x.e, y.ye) END AS overlap_end,
       CASE WHEN y.ys IS NULL THEN NULL
            ELSE CAST(LEAST(x.e, y.ye) - GREATEST(x.s, y.ys) + 1 AS BIGINT)
       END AS overlap_duration
FROM x LEFT JOIN y
  ON x.event_type IS NOT DISTINCT FROM y.event_type
 AND x.s <= y.ye AND x.e >= y.ys
"""


def q_ohlc_weekly(spark, sf_dir):
    """OHLC bars per (event_type, 7-day bucket of epoch seconds): one
    hash aggregate, struct orderings encode the deterministic open
    (earliest second, value tie -> min) / close (latest second, tie ->
    max) picks — the oracle mirrors both rules with two row_number
    windows. Values round to 6dp BEFORE aggregation so both engines
    feed identical inputs; the order-sensitive sum reports at 4dp."""
    from timeperiods_spark import rollup_ohlc

    ev = _read(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull() & F.col("value").isNotNull()
    )
    base = ev.select(
        "event_type",
        F.unix_timestamp("ts").cast("long").alias("sec"),
        F.round(F.col("value"), _R).alias("v"),
    )
    out = rollup_ohlc(base, "sec", "v", ["event_type"], bucket_width=604800)
    return out.select(
        "event_type",
        "bucket",
        F.round("open", _R).alias("open"),
        F.round("high", _R).alias("high"),
        F.round("low", _R).alias("low"),
        F.round("close", _R).alias("close"),
        "n_obs",
        F.round("sum_value", 4).alias("sum_value"),
    )


SQL_OHLC_WEEKLY = """
WITH base AS (
  SELECT event_type,
         CAST(epoch(ts) AS BIGINT) AS sec,
         ROUND(value, 6) AS v
  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
),
b AS (
  SELECT event_type, CAST(FLOOR(sec / 604800.0) AS BIGINT) AS bucket, sec, v
  FROM base
),
r AS (
  SELECT event_type, bucket, v,
         ROW_NUMBER() OVER (PARTITION BY event_type, bucket
                            ORDER BY sec ASC, v ASC) AS rn_open,
         ROW_NUMBER() OVER (PARTITION BY event_type, bucket
                            ORDER BY sec DESC, v DESC) AS rn_close
  FROM b
)
SELECT event_type, bucket,
       ROUND(MAX(CASE WHEN rn_open = 1 THEN v END), 6) AS open,
       ROUND(MAX(v), 6) AS high,
       ROUND(MIN(v), 6) AS low,
       ROUND(MAX(CASE WHEN rn_close = 1 THEN v END), 6) AS close,
       COUNT(*) AS n_obs,
       ROUND(SUM(v), 4) AS sum_value
FROM r GROUP BY 1, 2
"""


# --------------------------------------------------------------------
# driver contract
# --------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return q_iwa_grouped(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "iwa_grouped_req50": q_iwa_grouped,
        "iwa_dates_req100": q_iwa_dates,
        "iwa_multivalue_nulls_req50": q_iwa_multivalue_nulls,
        "iwa_ungrouped_bin_salted": q_iwa_ungrouped_bin,
        "iwa_null_groups_req0": q_iwa_null_groups,
        "remove_overlaps_sweep": q_remove_overlaps,
        "grouped_cartesian": q_grouped_cartesian,
        "token_table_deterministic": q_token_table,
        "rollup_daily_tokens": q_rollup_daily,
        "rollup_weekly_cascade": q_rollup_weekly_cascade,
        "gap_fill_locf_daily": q_gap_fill_locf,
        "gap_fill_interp_daily": q_gap_fill_interp,
        "iwa_monthly_schedule": q_iwa_monthly,
        "downsample_m4_daily": q_downsample_m4,
        "sessionize_events": q_sessionize,
        "gorilla_roundtrip": q_gorilla_roundtrip,
        "running_max_events": q_running_max,
        "asof_events": q_asof_events,
        "asof_events_forward": q_asof_forward,
        "rolling_7d_stats": q_rolling_7d,
        "tier_variance_daily": q_tier_variance,
        "tier_covariance_daily": q_tier_covariance,
        "merge_intervals_events": q_merge_intervals,
        "interval_difference_events": q_interval_difference,
        "iwa_sorted_validated": q_iwa_sorted_validated,
        "distinct_users_daily": q_distinct_daily,
        "distinct_users_weekly_cascade": q_distinct_weekly,
        "overlap_join_weeks": q_overlap_join,
        "overlap_join_bin_left": q_overlap_join_bin_left,
        "asof_events_tolerance": q_asof_tolerance,
        "rollup_ohlc_weekly": q_ohlc_weekly,
        **_PIPELINE_QUERIES,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "iwa_grouped_req50": SQL_IWA_CORE,
        "iwa_dates_req100": SQL_IWA_DATES,
        "iwa_multivalue_nulls_req50": SQL_IWA_MULTIVALUE,
        "iwa_ungrouped_bin_salted": SQL_IWA_UNGROUPED,
        "iwa_null_groups_req0": SQL_IWA_NULL_GROUPS,
        "remove_overlaps_sweep": SQL_REMOVE_OVERLAPS,
        "grouped_cartesian": SQL_GROUPED_CARTESIAN,
        "token_table_deterministic": SQL_TOKEN_TABLE,
        "rollup_daily_tokens": _token_rollup_sql(24),
        "rollup_weekly_cascade": _token_rollup_sql(168),
        "gap_fill_locf_daily": SQL_GAP_FILL,
        "gap_fill_interp_daily": SQL_GAP_FILL_INTERP,
        "iwa_monthly_schedule": SQL_IWA_MONTHLY,
        "downsample_m4_daily": SQL_DOWNSAMPLE_M4,
        "sessionize_events": SQL_SESSIONIZE,
        # gorilla_roundtrip: bit-packed binary codec, not SQL-expressible
        "running_max_events": SQL_RUNNING_MAX,
        "asof_events": SQL_ASOF_EVENTS,
        "asof_events_forward": SQL_ASOF_FORWARD,
        "rolling_7d_stats": SQL_ROLLING_7D,
        "tier_variance_daily": SQL_TIER_VARIANCE,
        "tier_covariance_daily": SQL_TIER_COVARIANCE,
        "merge_intervals_events": SQL_MERGE_INTERVALS,
        "interval_difference_events": SQL_INTERVAL_DIFFERENCE,
        "iwa_sorted_validated": SQL_IWA_SORTED,
        "distinct_users_daily": SQL_DISTINCT_DAILY,
        "distinct_users_weekly_cascade": SQL_DISTINCT_WEEKLY,
        "overlap_join_weeks": SQL_OVERLAP_JOIN,
        "overlap_join_bin_left": SQL_OVERLAP_JOIN_BIN_LEFT,
        "asof_events_tolerance": SQL_ASOF_TOLERANCE,
        "rollup_ohlc_weekly": SQL_OHLC_WEEKLY,
        **_PIPELINE_ORACLES,
    }


# --------------------------------------------------------------------
# training-data pipeline queries (documents / token tables)
# --------------------------------------------------------------------


def q_hash_sample(spark, sf_dir):
    """Deterministic partition-independent Bernoulli sample: the
    membership predicate is a pure row expression both engines compute
    bit-identically (portable MINSTD rounds, seed enters as a
    multiplier)."""
    from timeperiods_spark.operators.sampling import hash_sample

    docs = _read(spark, sf_dir, "documents")
    return hash_sample(docs, "doc_id", 0.3, seed=1).select(
        F.col("doc_id").cast("long").alias("doc_id"), "source"
    )


def _sampling_sql_parts():
    from timeperiods_spark.operators.sampling import hash_unit_sql

    return hash_unit_sql("doc_id", 1), hash_unit_sql("doc_id", 2)


_HU1, _HU2 = _sampling_sql_parts()

SQL_HASH_SAMPLE = f"""
SELECT CAST(doc_id AS BIGINT) AS doc_id, source
FROM documents
WHERE {_HU1} < 0.3
"""


def q_hash_sample_n(spark, sf_dir):
    """Exact-count stratified sample: the 10 smallest-hash docs per
    source (two-phase rank in Spark; the oracle is the plain
    ROW_NUMBER formulation over the identical portable hash)."""
    from timeperiods_spark import hash_sample_n

    docs = _read(spark, sf_dir, "documents")
    return hash_sample_n(docs, "doc_id", 10, ["source"], seed=3).select(
        F.col("doc_id").cast("long").alias("doc_id"), "source"
    )


def _hu_sql(seed):
    from timeperiods_spark.operators.sampling import hash_unit_sql

    return hash_unit_sql("doc_id", seed)


SQL_HASH_SAMPLE_N = f"""
WITH u AS (SELECT doc_id, source, {_hu_sql(3)} AS uu FROM documents),
r AS (
  SELECT doc_id, source,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY uu, doc_id) AS rn
  FROM u
)
SELECT CAST(doc_id AS BIGINT) AS doc_id, source FROM r WHERE rn <= 10
"""


def q_source_mix(spark, sf_dir):
    """Token-budget data mixing: per-source rates = min(1,
    share*target/total) from one totals aggregate, then the row-pure
    hash predicate. src_9 (the dominant source) gets 2/3 of the
    budget, src_8 one third; every other source rate 0 — both rates
    land strictly inside (0, 1) so real Bernoulli selection runs."""
    from timeperiods_spark.operators.sampling import source_mix

    t = token_table(spark, N_TOKEN_DOCS, with_interval=False)
    out, _rates = source_mix(
        t, "doc_id", "n_tok", "source",
        target_total=100_000,
        mix_weights={"src_9": 2.0, "src_8": 1.0},
        seed=2,
    )
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "source",
        F.col("n_tok").cast("long").alias("n_tok"),
    )


SQL_SOURCE_MIX = f"""
WITH tok AS ({token_table_oracle_sql(N_TOKEN_DOCS)}),
tot AS (
  SELECT source, CAST(SUM(n_tok) AS DOUBLE) AS total
  FROM tok GROUP BY source
),
rates AS (
  SELECT source,
         LEAST(1.0,
           (CASE source WHEN 'src_9' THEN 2.0/3.0
                        WHEN 'src_8' THEN 1.0/3.0
                        ELSE 0.0 END) * 100000 / total) AS rate
  FROM tot
)
SELECT CAST(t.doc_id AS BIGINT) AS doc_id, t.source,
       CAST(t.n_tok AS BIGINT) AS n_tok
FROM tok t JOIN rates r ON t.source = r.source
WHERE {_HU2} < r.rate
"""


def q_quality_sample(spark, sf_dir):
    """Per-row-rate deterministic sampling (curriculum / quality
    weighting): each document keeps with probability LEAST(1,
    n_chars/500) — longer docs survive more often — decided by the
    same portable row-pure hash as the fraction path."""
    from timeperiods_spark.operators.sampling import hash_sample

    docs = _read(spark, sf_dir, "documents").withColumn(
        "__rate", F.least(F.lit(1.0), F.col("n_chars") / F.lit(500.0))
    )
    return (
        hash_sample(docs, "doc_id", rate_col="__rate", seed=1)
        .select(
            F.col("doc_id").cast("long").alias("doc_id"),
            "source",
            F.col("n_chars").cast("long").alias("n_chars"),
        )
    )


SQL_QUALITY_SAMPLE = f"""
SELECT CAST(doc_id AS BIGINT) AS doc_id, source,
       CAST(n_chars AS BIGINT) AS n_chars
FROM documents
WHERE {_HU1} < LEAST(1.0, n_chars / 500.0)
"""


def q_duplicate_spans(spark, sf_dir):
    """Substring-level dedup (Lee et al. ACL'22 style, windowed-hash
    formulation): maximal duplicated >=k-token runs per document.
    Spark side = window explode + map-side-combined count + join-back
    + the merge_intervals carried sweep; twin = the same pipeline with
    the running-max island SQL. Exact window-text keys both sides
    (hash_windows=True is the at-scale variant; same results modulo
    2^-64 collisions)."""
    from timeperiods_spark import duplicate_spans

    docs = _read(spark, sf_dir, "documents")
    out = duplicate_spans(docs, "doc_id", "text", k=12, min_count=2)
    return out.select(
        "doc_id",
        F.col("span_start").cast("long").alias("span_start"),
        F.col("span_end").cast("long").alias("span_end"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("n_windows").cast("long").alias("n_windows"),
    )


SQL_DUPLICATE_SPANS = """
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS tok FROM documents
),
pos AS (
  SELECT doc_id, CAST(t.i - 1 AS BIGINT) AS pos,
         array_to_string(list_slice(tok, t.i, t.i + 11), chr(31)) AS win
  FROM toks, unnest(generate_series(1, len(tok) - 11)) AS t(i)
  WHERE len(tok) >= 12
),
dup AS (
  SELECT win FROM pos GROUP BY win HAVING COUNT(*) >= 2
),
dp AS (
  SELECT p.doc_id, p.pos AS s, p.pos + 11 AS e
  FROM pos p JOIN dup USING (win)
),
ord AS (
  SELECT doc_id, s, e,
         MAX(e) OVER (PARTITION BY doc_id ORDER BY s
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS prev_max
  FROM dp
),
isl AS (
  SELECT doc_id, s, e,
         SUM(CASE WHEN prev_max IS NULL OR s > prev_max + 1
                  THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY s
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM ord
)
SELECT doc_id, MIN(s) AS span_start, MAX(e) AS span_end,
       CAST(MAX(e) - MIN(s) + 1 AS BIGINT) AS n_tokens,
       CAST(COUNT(*) AS BIGINT) AS n_windows
FROM isl GROUP BY doc_id, island
"""


def q_duplicate_span_stats(spark, sf_dir):
    """Per-document duplication dashboard over the span output:
    every doc emits a row, clean docs zero-filled."""
    from timeperiods_spark import duplicate_span_stats

    docs = _read(spark, sf_dir, "documents")
    out = duplicate_span_stats(docs, "doc_id", "text", k=12)
    return out.select(
        "doc_id",
        F.col("n_tok").cast("long").alias("n_tok"),
        F.col("dup_tokens").cast("long").alias("dup_tokens"),
        F.round("dup_frac", 6).alias("dup_frac"),
    )


SQL_DUPLICATE_SPAN_STATS = f"""
WITH spans AS ({SQL_DUPLICATE_SPANS}),
per_doc AS (
  SELECT doc_id, SUM(n_tokens) AS dup_tokens FROM spans GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tok,
       CAST(COALESCE(p.dup_tokens, 0) AS BIGINT) AS dup_tokens,
       ROUND(COALESCE(p.dup_tokens, 0)
             / GREATEST(len(string_split(d.text, ' ')), 1), 6) AS dup_frac
FROM documents d LEFT JOIN per_doc p USING (doc_id)
"""


_PIPELINE_QUERIES = {
    "hash_sample_docs": q_hash_sample,
    "source_mix_tokens": q_source_mix,
    "duplicate_spans_docs": q_duplicate_spans,
    "duplicate_span_stats_docs": q_duplicate_span_stats,
    "quality_weighted_sample": q_quality_sample,
    "hash_sample_n_per_source": q_hash_sample_n,
}

_PIPELINE_ORACLES = {
    "hash_sample_docs": SQL_HASH_SAMPLE,
    "source_mix_tokens": SQL_SOURCE_MIX,
    "duplicate_spans_docs": SQL_DUPLICATE_SPANS,
    "duplicate_span_stats_docs": SQL_DUPLICATE_SPAN_STATS,
    "quality_weighted_sample": SQL_QUALITY_SAMPLE,
    "hash_sample_n_per_source": SQL_HASH_SAMPLE_N,
}
