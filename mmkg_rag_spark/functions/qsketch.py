"""Mergeable fixed-bin quantile sketch (histogram digest).

The sketch of a value column is its fixed-width bin-count table — a few
hundred BIGINT registers that merge by plain addition, which makes it
valid per-shard, per-day, per-stream-micro-batch, or cross-cluster: any
partial registers sum into the registers of the union. Quantiles read
off the cumulative registers with exact integer rank targets
(ceil(q·n) computed as ``(qn·n + qd − 1) div qd``) and a deterministic
in-bin linear interpolation whose expression tree is mirrored verbatim
by the DuckDB oracle (``__spark_entry__.SQL_EVENTS_QUANTILE_SKETCH``),
so the batch query hash-matches cross-engine.

Used by the batch query class (``q_events_value_quantile_sketch``). A
streaming fold of the same registers would be a native streaming
aggregation whose state IS the registers, bounded by the value range,
never by stream length.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

BIN_WIDTH = 0.25
_BIN_INV = 4  # 1 / BIN_WIDTH; kept integral so floor(value·4) is one IEEE op

QUANTILES = [("p50", 1, 2), ("p90", 9, 10), ("p99", 99, 100)]


def bin_col(value: Column) -> Column:
    """Register index of a value: one IEEE multiply + floor."""
    return F.floor(value * _BIN_INV).cast("long")


def histogram(
    df: DataFrame, value_col: str = "value", group_col: str = "event_type"
) -> DataFrame:
    """(group, b, cnt) registers — the sketch. One shuffle, map-side
    combinable; output size = |groups| × |occupied bins|."""
    return df.groupBy(
        group_col, bin_col(F.col(value_col)).alias("b")
    ).agg(F.count(F.lit(1)).alias("cnt"))


def merge_registers(hist: DataFrame, label: str = "__all__") -> DataFrame:
    """Merge all groups' registers by addition — the mergeability
    property, register-for-register."""
    group_col = hist.columns[0]
    return hist.groupBy("b").agg(F.sum("cnt").alias("cnt")).select(
        F.lit(label).alias(group_col), "b", "cnt"
    )


def quantiles_from_registers(hist: DataFrame) -> DataFrame:
    """Per-group n_events + p50/p90/p99 from (group, b, cnt) registers.

    Rank targets are exact integer ceilings; the in-bin interpolation
    ``0.25·b + 0.25·(t − cum_prev)/cnt`` is the identical expression
    tree on Spark and DuckDB. Windows partition by the group column —
    register tables are tiny, but the shape stays parallel anyway.
    """
    group_col = hist.columns[0]
    w = Window.partitionBy(group_col).orderBy("b")
    cum = (
        hist.withColumn("cum", F.sum("cnt").over(w))
        .withColumn("cp", F.col("cum") - F.col("cnt"))
        .withColumn("n", F.sum("cnt").over(Window.partitionBy(group_col)))
    )
    qs = F.explode(
        F.array(*[
            F.struct(
                F.lit(nm).alias("qname"),
                F.lit(num).cast("long").alias("qn"),
                F.lit(den).cast("long").alias("qd"),
            )
            for nm, num, den in QUANTILES
        ])
    )
    t = F.expr("(qn * n + qd - 1) div qd")
    est = (
        F.lit(BIN_WIDTH) * F.col("b")
        + F.lit(BIN_WIDTH) * (F.col("t") - F.col("cp")) / F.col("cnt")
    )
    picked = (
        cum.withColumn("q", qs)
        .select(group_col, "b", "cnt", "cum", "cp", "n", "q.*")
        .withColumn("t", t)
        .filter((F.col("cum") >= F.col("t")) & (F.col("cp") < F.col("t")))
        .withColumn("est", F.round(est, 6))
    )
    return picked.groupBy(group_col).agg(
        F.max("n").alias("n_events"),
        F.max(F.when(F.col("qname") == "p50", F.col("est"))).alias("p50"),
        F.max(F.when(F.col("qname") == "p90", F.col("est"))).alias("p90"),
        F.max(F.when(F.col("qname") == "p99", F.col("est"))).alias("p99"),
    )
