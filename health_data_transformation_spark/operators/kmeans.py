"""Deterministic integer k-means (Lloyd's) over quantized vectors.

Floating-point k-means is unreproducible on a cluster twice over:
fp addition does not commute across shuffle orders, and seeding is
usually random.  This form is bit-portable to any engine:

- vectors int8-quantize first (functions.vector.int8_quantize), so
  every distance is EXACT integer arithmetic;
- seeds are the first ``k`` vectors by id (explicit, not sampled);
- centroid updates are per-dimension FLOOR means — computed as
  ``(s - pmod(s, n)) div n``, i.e. the numerator is made exactly
  divisible first, so integral division is floor division in every
  dialect regardless of its negative-operand convention;
- ties in assignment break to the lowest cluster id.

A fixed round count is therefore fully checkable against a SQL oracle
(q158), not just "close".

Scale shape per round: assignment is a broadcast cross join of the
(k-row) centroid table against the vector scan — argmin via min_by,
no shuffle of the vectors; the update explodes assigned vectors to
(cluster, dim, value) and reduces with one map-side-combinable
aggregate of k x dim cells.  Nothing driver-side grows with the data;
the only driver object is the k x dim centroid table itself.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window


def _d2(v, c):
    diff = F.zip_with(v, c, lambda a, b: (a - b) * (a - b))
    return F.aggregate(diff, F.lit(0).cast("long"), lambda acc, x: acc + x)


def int_kmeans_assign(
    vectors: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 8,
    rounds: int = 2,
) -> DataFrame:
    """Run ``rounds`` Lloyd iterations; return (id, cluster) after the
    final assignment.  ``vec_col`` must be an integer array (quantize
    first); seeds are the ``k`` lowest-id vectors."""
    assign, _ = int_kmeans(vectors, id_col, vec_col, k=k, rounds=rounds)
    return assign


def int_kmeans(
    vectors: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 8,
    rounds: int = 2,
) -> tuple[DataFrame, DataFrame]:
    """``int_kmeans_assign`` that ALSO returns the centroid table the
    final assignment was made against — ``(assign(id, cluster),
    centroids(cluster, centroid))`` with integer-array centroids.

    The centroids are what an IVF build persists (VERDICT r10 task #7:
    ``build_ivf_store`` takes the n_cells lowest-id vectors as
    centroids — deterministic but arbitrary; Lloyd refinement tightens
    cell balance, see SCALE.md §8.13b) and what probe-time cell
    selection scores against with the SAME exact-integer d2 rule."""
    qv = vectors.select(F.col(id_col).alias("_vid"), F.col(vec_col).alias("_v"))
    # Each round's centroid table is k rows; localCheckpoint it so
    # round r+1's assignment plan reads k materialized rows instead of
    # RE-EXECUTING round r's full assignment+update subtree (which
    # nests another corpus scan per round — the q341 rescan finding).
    # This is the k-row scalar case, not the big-frame checkpoint the
    # §8.6 lesson warns about; the docstring's claim that "the only
    # driver object is the k x dim centroid table" is now literal.
    seeds = (
        qv.orderBy("_vid")
        .limit(k)
        .select(
            (F.row_number().over(Window.orderBy("_vid")) - 1).alias("_cid"),
            F.col("_v").alias("_c"),
        )
        .localCheckpoint()
    )
    cent = seeds
    assign = None
    for r in range(rounds):
        cand = qv.crossJoin(F.broadcast(cent))
        assign = (
            cand.select(
                "_vid",
                "_v",
                F.struct(_d2(F.col("_v"), F.col("_c")).alias("d2"), F.col("_cid")).alias("_sc"),
            )
            .groupBy("_vid")
            .agg(
                F.min_by(F.col("_sc._cid"), F.col("_sc")).alias("_cid"),
                F.first("_v").alias("_v"),
            )
        )
        if r == rounds - 1:
            break
        dims = assign.select(
            "_cid", F.posexplode("_v").alias("_pos", "_val")
        )
        cells = dims.groupBy("_cid", "_pos").agg(
            F.sum("_val").alias("_s"), F.count("*").alias("_n")
        )
        # floor mean: make the numerator exactly divisible, then `div`
        # (truncating) equals floor division in every dialect
        cmean = cells.select(
            "_cid",
            "_pos",
            F.expr("(_s - pmod(_s, _n)) div _n").alias("_m"),
        )
        cent = (
            cmean.groupBy("_cid")
            .agg(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("_pos", "_m"))
                    ),
                    lambda x: x["_m"],
                ).alias("_c")
            )
            .localCheckpoint()  # k rows — cuts the per-round recursion
        )
    return (
        assign.select(
            F.col("_vid").alias(id_col), F.col("_cid").alias("cluster")
        ),
        cent.select(
            F.col("_cid").alias("cluster"), F.col("_c").alias("centroid")
        ),
    )
