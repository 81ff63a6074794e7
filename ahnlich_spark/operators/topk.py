"""Top-N similarity search as one declarative Catalyst plan.

GetSimN (reference: ahnlich/db/src/engine/store.rs:290-399) is
``predicate-filter -> score -> top-k by closeness``, with ties broken by
ascending id for a stable order (reference ahnlich/db/src/algorithm/
mod.rs:68-74). The reference's rayon fold/reduce into a BoundedMaxHeap
(algorithm/mod.rs:87-128) maps to Spark's TakeOrderedAndProject:
per-partition bounded top-k, merged once — no full sort, no full
shuffle, scale-safe at any partition count.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ahnlich_spark.functions import similarity as S
from ahnlich_spark.operators.predicates import Predicate, compile_predicate
from ahnlich_spark.types import vector_lit


def top_k_similar(
    df: DataFrame,
    query_vector: Sequence[float],
    metric: str = S.COSINE,
    k: int = 10,
    condition: Optional[Predicate] = None,
    key_col: str = "key",
    id_col: str = "id",
    precision: str = "float",
    score_col: str = "similarity",
) -> DataFrame:
    """Exact top-k rows most similar to ``query_vector``.

    Returns the input columns plus ``score_col``, ordered closest-first
    (the reference's sorted-heap output, heap.rs:56-60).
    """
    if condition is not None:
        df = df.filter(compile_predicate(condition))
    q = vector_lit(query_vector)
    score = S.score_expr(metric, F.col(key_col), q, precision)
    scored = df.withColumn(score_col, score)
    order = [
        S.closeness(metric, F.col(score_col)).desc(),
        F.col(id_col).asc(),
    ]
    # ORDER BY + LIMIT => TakeOrderedAndProject (bounded heap per
    # partition + single merge), NOT a global sort.
    return scored.orderBy(*order).limit(k)


def top_k_batch(
    df: DataFrame,
    queries: DataFrame,
    metric: str = S.COSINE,
    k: int = 10,
    key_col: str = "key",
    id_col: str = "id",
    query_key_col: str = "qkey",
    query_id_col: str = "qid",
    precision: str = "float",
    score_col: str = "similarity",
    rank_col: Optional[str] = None,
    on: Optional[Column] = None,
) -> DataFrame:
    """Top-k per query for a whole DataFrame of query vectors — the
    batch face of GetSimN (the reference answers one query per gRPC
    request; a retrieval/eval pipeline asks thousands at once, and ONE
    declarative plan serves them all).

    Broadcast the (small) query side over the (huge) store side, score
    JVM-side, then per-query window top-k (WindowGroupLimit rank-prunes
    to k rows per query before the sort materializes). At 100 TB the
    store never shuffles: the only wide exchange is the per-query
    partial top-k aggregation, whose size is O(#queries * k *
    partitions) after the window's partial ranking.

    ``rank_col`` keeps the per-query rank (1 = closest) in the output.
    ``on`` restricts each query to the store rows the join condition
    admits (the engine's pruned ANN paths join each probe to its own
    candidates); without it every query scores every row.
    """
    queries = F.broadcast(queries)
    joined = df.crossJoin(queries) if on is None else df.join(queries, on)
    score = S.score_expr(metric, F.col(key_col), F.col(query_key_col), precision)
    scored = joined.withColumn(score_col, score)
    from pyspark.sql import Window

    w = (
        Window.partitionBy(query_id_col)
        .orderBy(S.closeness(metric, F.col(score_col)).desc(), F.col(id_col).asc())
    )
    out_rank = rank_col or "__rank"
    out = (
        scored.withColumn(out_rank, F.row_number().over(w))
        .filter(F.col(out_rank) <= k)
    )
    return out if rank_col else out.drop("__rank")
