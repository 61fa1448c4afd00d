"""Physical distribution operators (SURVEY.md §2.4).

The reference exposes Flink's low-level repartitioning surface; in
Spark most of it is either automatic (keyBy's hash shuffle is planned
by Catalyst under every groupBy/join) or a one-liner. These wrappers
exist to make the mapping explicit and give each reference operator a
named, documented home — plus the two knobs that actually matter at
100 TB: co-partitioned joins and skew salting.

| reference                       | here                         |
|---------------------------------|------------------------------|
| keyBy(sel)                      | implicit in groupBy/join     |
| shuffle() / rebalance()         | rebalance(df, n)             |
| rescale()                       | rescale(df, n) (coalesce)    |
| broadcast()                     | F.broadcast (join hint)      |
| partitionCustom(partitioner)    | repartition(n, col) — custom |
|                                 | routing is a documented      |
|                                 | non-goal (DF API has none)   |
| startNewChain/disableChaining/  | N/A — WholeStageCodegen      |
| slotSharingGroup                | fuses narrow ops automatically|
| setParallelism(n)               | shuffle.partitions / n args  |
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def rebalance(df: DataFrame, n: int) -> DataFrame:
    """shuffle()/rebalance() — RandomPartitioning.java:34,
    RebalancingPartitioning.java:33: round-robin redistribution (full
    shuffle) to fix skewed partition sizes."""
    return df.repartition(n)


def rescale(df: DataFrame, n: int) -> DataFrame:
    """rescale() — RescalingPartitioning.java:34: local redistribution
    without a full shuffle == coalesce (narrow dependency)."""
    return df.coalesce(n)


def salt_key(df: DataFrame, key_col: str, buckets: int, salted_col: str = "salted_key") -> DataFrame:
    """Two-stage skew salting — PageView.scala:48-59 hand-rolls a random
    key prefix then re-aggregates. Deterministic variant: salt by a hash
    of the full row's natural ordering column; aggregate on
    (key, salt), then re-aggregate on key. Prefer AQE skew handling
    (on by default here); use this for extreme single-key skew."""
    return df.withColumn(
        salted_col,
        F.concat_ws("#", F.col(key_col), (F.spark_partition_id() % buckets).cast("string")),
    )


def two_stage_count(df: DataFrame, key_col: str, buckets: int = 16) -> DataFrame:
    """The full salted two-stage aggregation from PageView.scala:48-59,
    106-109: count on (key, salt) then sum per key. Spark's partial
    aggregation already does this map-side; kept as the explicit pattern
    for extreme skew where even partial agg hotspots on one reducer."""
    salted = salt_key(df, key_col, buckets)
    stage1 = salted.groupBy(key_col, "salted_key").agg(F.count("*").alias("c"))
    return stage1.groupBy(key_col).agg(F.sum("c").alias("cnt"))
