"""Exact (brute-force) top-k vector search — the engine's M0 slice and
the permanent correctness oracle for the ANN path.

Mirrors the reference search semantics end-to-end (SURVEY.md §3.1):
  - optional user partition pruning (multi_spann/index.rs:100-137)
  - tombstone masking BEFORE top-k (ivf/block_based/index.rs:198-200,
    done here as an anti-join — no k-inflation hack needed)
  - optional attribute pre-filter applied before scoring (planner.rs:45-61)
  - ordering contract: score ASC with NaN last, ties broken by doc id
    ascending (rs/index/src/utils.rs:95-113)

The plan compiles to Scan → Filter (pushed to parquet) → Project(score)
→ TakeOrderedAndProject, i.e. Spark's native distributed partial top-k:
each partition keeps k rows, the driver merges heads. No shuffle of the
full table, no Python in the loop. At 100 TB this is a single map-side
pass — the scalable alternative is the IVF two-phase plan in
muopdb_spark.index.ivf, which prunes partitions by centroid first.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from muopdb_spark.functions.distance import score_expr
from muopdb_spark.sql import distance_sql, sql_array, sql_in


def _nan_last(score: Column) -> Column:
    # Spark sorts NaN AFTER +Inf by default in ascending order, which
    # already matches the reference (utils.rs:101-106 sorts NaN last),
    # but nulls need explicit placement.
    return score.asc_nulls_last()


def knn(
    df: DataFrame,
    query_vector: Sequence[float],
    k: int,
    *,
    vector_col: str = "embedding",
    id_col: str = "vec_id",
    metric: str = "l2",
    user_ids: Sequence[int] | None = None,
    user_col: str = "user_id",
    pre_filter: Column | None = None,
    tombstones: DataFrame | None = None,
    extra_cols: Sequence[str] = (),
    score_decimals: int | None = None,
) -> DataFrame:
    """Exact top-k by distance. Returns (id_col, *extra_cols, score).

    The user list and the scored query are each one SQL text, so the
    number of driver->JVM calls that build the plan does not grow with
    the vector's dimension or the number of users."""
    if user_ids is not None:
        df = df.filter(sql_in(f"`{user_col}`", user_ids))
    if pre_filter is not None:
        df = df.filter(pre_filter)
    if tombstones is not None:
        join_keys = [id_col] + ([user_col] if user_col in tombstones.columns else [])
        df = df.join(tombstones.select(*join_keys).distinct(), on=join_keys, how="left_anti")

    score = F.expr(distance_sql(
        metric, f"CAST(`{vector_col}` AS ARRAY<DOUBLE>)", sql_array(query_vector)))
    if score_decimals is not None:
        score = F.round(score, score_decimals)
    scored = df.select(id_col, *extra_cols, score.alias("score"))
    return scored.orderBy(_nan_last(F.col("score")), F.col(id_col).asc()).limit(k)


def knn_batch(
    df: DataFrame,
    queries: DataFrame,
    k: int,
    *,
    vector_col: str = "embedding",
    id_col: str = "vec_id",
    query_vector_col: str = "query_vector",
    query_id_col: str = "query_id",
    metric: str = "l2",
) -> DataFrame:
    """Many queries at once: broadcast the (small) query table against the
    corpus, score, and take per-query top-k with a window — the segment
    top-k merge shape (snapshot.rs:69-109) expressed as partitionBy(query).

    At scale: the corpus never shuffles; only the per-partition top-k
    rows (#queries × k per partition) move. Queries must be small enough
    to broadcast, which matches the reference's one-request-at-a-time
    model.
    """
    scored = df.crossJoin(F.broadcast(queries)).select(
        query_id_col,
        id_col,
        score_expr(metric, F.col(vector_col), F.col(query_vector_col)).alias("score"),
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy(query_id_col).orderBy(
        _nan_last(F.col("score")), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .drop("rank")
    )
