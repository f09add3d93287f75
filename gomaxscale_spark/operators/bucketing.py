"""Bucketed-table utilities: pre-shuffle once at write time, join free
forever after.

The single biggest shuffle eliminator at 100 TB: a fact table bucketed
on its join key co-locates equal keys in equal bucket files, so a join
between two tables bucketed on the same key with the same bucket count
needs NO exchange at read time — the sort-merge join runs directly over
matching buckets. This is the batch analogue of the CDC snapshot sink's
hash-bucketed layout (streaming/sinks.py).

Spark bucketing rides the session catalog (`saveAsTable`), so these
helpers manage warehouse tables, not bare paths.

The same module holds the one in-bucket pair expansion
(``bucket_pairs``) and the one count-first bucket cap
(``split_hot_keys``) that every LSH family and both streaming dedup
lakes share: group rows by a bucket key, optionally split the
over-cap keys off by a count, expand each remaining bucket into id
pairs — the count-first, partition-bounded candidate generation of
REPOSE (ICDE 2021).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession, functions as F


def parallelize_narrow_input(df: DataFrame) -> DataFrame:
    """Repartition iff the input has fewer partitions than cores.

    Single-row-group parquet files (this repo's test data) scan as ONE
    task, serializing heavy map work (shingling, 64 hash functions,
    per-pair scoring after a broadcast join) on one core. The guard
    makes this a no-op on properly-partitioned lake inputs, so no
    gratuitous shuffle at scale; when it fires, the shuffle moves only
    the narrow input rows — never post-join expanded pairs — and buys
    full map-side parallelism.
    """
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def write_bucketed(
    df: DataFrame, table: str, bucket_col: str, n_buckets: int = 8, sort: bool = True
) -> None:
    """Persist `df` bucketed (and sorted) by `bucket_col`.

    Scale: one shuffle now; every future equi-join/aggregation on
    `bucket_col` between same-bucketed tables skips its exchange (and
    with sorted buckets, its sort).
    """
    writer = df.write.mode("overwrite").bucketBy(n_buckets, bucket_col)
    if sort:
        writer = writer.sortBy(bucket_col)
    writer.saveAsTable(table)


def bucketed_join(spark: SparkSession, left_table: str, right_table: str, on: str, how: str = "inner") -> DataFrame:
    """Join two same-bucketed catalog tables on their bucket key —
    plan shows SortMergeJoin with no Exchange on either side."""
    return spark.table(left_table).join(spark.table(right_table), on, how)


def bucket_pairs(
    rows: DataFrame,
    key_cols: Sequence[str],
    id_col: str,
    carry: Sequence[str] = (),
) -> DataFrame:
    """Distinct ``(id_a, id_b, <c>_a, <c>_b for c in carry)`` pairs,
    ``id_a < id_b``, of rows that share a bucket key.

    Pairs are generated INSIDE each bucket — ``collect_list`` of the
    members, sorted, then every ``(members[i], members[j > i])``
    combination — instead of by a bucket-keyed self-join: the two
    sides of such a join carry different projections, so no exchange
    reuse fires and the whole upstream signature pipeline runs once
    per side. One exchange on the bucket key, one pass upstream.
    ``carry`` columns ride along in the member struct, so per-row
    values needed by a pair predicate (SimHash's signature) need no
    re-join; they must be functions of ``id_col``, or the distinct
    keeps one row per differing value.

    Bucket size is NOT bounded here: a bucket of n members builds one
    n-element array and n(n-1)/2 pairs in one task. Callers whose keys
    can concentrate (boilerplate band hashes, a growing lake) put
    ``split_hot_keys`` in front.
    """
    keys = list(key_cols)
    if carry:
        member = F.struct(F.col(id_col).alias("id"), *carry)

        def pair(x, y):
            sides = [x["id"].alias("id_a"), y["id"].alias("id_b")]
            for c in carry:
                sides += [x[c].alias(f"{c}_a"), y[c].alias(f"{c}_b")]
            return F.struct(*sides)

    else:
        member = F.col(id_col)

        def pair(x, y):
            return F.struct(x.alias("id_a"), y.alias("id_b"))

    ids = F.col("ids")
    combos = F.flatten(
        F.transform(
            ids,
            lambda x, i: F.transform(
                F.slice(ids, i + 2, F.size(ids)), lambda y: pair(x, y)
            ),
        )
    )
    out = ["id_a", "id_b"] + [f"{c}_{s}" for c in carry for s in ("a", "b")]
    return (
        rows.groupBy(*keys)
        .agg(F.array_sort(F.collect_list(member)).alias("ids"))
        .filter(F.size("ids") >= 2)
        .select(F.explode(combos).alias("p"))
        .select(*[f"p.{c}" for c in out])
        .distinct()
    )


def split_hot_keys(
    rows: DataFrame, key_cols: Sequence[str], max_bucket_size: int
) -> tuple[DataFrame, DataFrame]:
    """``(rows_within_cap, hot_keys)``: the count-first bucket cap.

    Sizes come from a pure ``count`` aggregation — map-side partial
    combine collapses even a 10⁸-member boilerplate key to one row per
    input partition, so the pre-pass is skew-immune. Only keys with
    ``n_members ≤ max_bucket_size`` join back to ``rows``: over-cap
    rows are dropped during the join probe (streamed, never buffered),
    so no membership array is ever built for a hot key. ``hot_keys``
    is ``(*key_cols, n_members)`` for the keys over the cap — the
    review queue, built from the counts alone.

    ``rows_within_cap`` keeps one-member keys (a lake-side singleton
    can still match a batch row) and carries each row's ``n_members``:
    a pair expansion filters ``n_members >= 2`` on it, which the
    optimizer pushes onto the counts, so singleton rows never reach
    the join output or the collect.
    """
    keys = list(key_cols)
    counts = rows.groupBy(*keys).agg(F.count(F.lit(1)).alias("n_members"))
    within = rows.join(counts.filter(F.col("n_members") <= max_bucket_size), keys)
    return within, counts.filter(F.col("n_members") > max_bucket_size)
