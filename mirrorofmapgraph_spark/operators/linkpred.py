"""Link prediction scores over vertex neighborhoods.

Classic local similarity indices for "which edges are likely to appear
next" on the repo-link graph — common neighbors, Jaccard, and
Adamic-Adar — computed for every NON-adjacent pair at distance 2 (pairs
with no common neighbor score 0 under all three indices, so distance-2
enumeration is lossless). Not in the reference engine (its scope is the
four traversal kernels, SURVEY.md §2.5), but the natural next consumer
of the same canonical undirected table the triangle operator builds
(operators/triangles.py), and fully SQL-expressible for the oracle gate.

Scale notes (100 TB): candidate pairs come from a wedge self-join pivoted
at the common neighbor — cost sum_w deg(w)^2, the same shape as triangle
wedge enumeration. On a power-law web graph the few super-hubs dominate
that sum while contributing near-zero signal (a hub is a common neighbor
of *everything*; Adamic-Adar down-weights it by 1/log deg toward 0), so
``max_pivot_degree`` drops hub pivots from wedge enumeration — the
standard "exclude stop-words" trade, documented rather than hidden:
pairs whose ONLY common neighbors are dropped hubs are not emitted.
With the cap the wedge count is bounded by m * max_pivot_degree. All
joins are single-key equi-joins (shuffle-hash/sort-merge, AQE-splittable);
the degree frame is vertex-sized and broadcast-eligible at dim scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .triangles import undirected_pairs


def link_prediction(
    edges: DataFrame,
    *,
    max_pivot_degree: int | None = None,
    min_common: int = 1,
) -> DataFrame:
    """Scores for non-adjacent distance-2 pairs: (u, v, cn, jaccard,
    adamic_adar) with u < v.

    - cn: number of common neighbors (through surviving pivots)
    - jaccard: cn / (deg(u) + deg(v) - cn)  — degrees over the FULL graph
    - adamic_adar: sum over common neighbors w of 1 / ln(deg(w))
      (a common neighbor has deg >= 2, so ln(deg) >= ln 2 > 0)

    ``max_pivot_degree``: exclude vertices with undirected degree above
    the cap from acting as the common-neighbor pivot (hub stop-words —
    see module docstring). ``min_common``: emit only pairs with at least
    this many (surviving) common neighbors.
    """
    und = undirected_pairs(edges)
    sym = und.select(F.col("a").alias("w"), F.col("b").alias("n")).unionByName(
        und.select(F.col("b").alias("w"), F.col("a").alias("n"))
    )
    deg = sym.groupBy("w").agg(F.count("*").alias("deg"))

    pivots = sym.join(deg, "w")
    if max_pivot_degree is not None:
        pivots = pivots.filter(F.col("deg") <= max_pivot_degree)

    # wedges at pivot w: every unordered pair (u < v) of w's neighbors;
    # the pivot's own degree rides along for the Adamic-Adar weight
    left = pivots.select("w", F.col("n").alias("u"), F.col("deg").alias("wdeg"))
    right = pivots.select("w", F.col("n").alias("v"))
    wedges = left.join(right, "w").filter(F.col("u") < F.col("v"))

    scored = wedges.groupBy("u", "v").agg(
        F.count("*").alias("cn"),
        F.sum(F.lit(1.0) / F.log(F.col("wdeg").cast("double"))).alias("adamic_adar"),
    )
    if min_common > 1:
        scored = scored.filter(F.col("cn") >= min_common)

    # drop pairs that are already edges (link prediction scores candidates)
    scored = scored.join(
        und.select(F.col("a").alias("u"), F.col("b").alias("v")),
        on=["u", "v"],
        how="left_anti",
    )
    return (
        scored.join(deg.select(F.col("w").alias("u"), F.col("deg").alias("du")), "u")
        .join(deg.select(F.col("w").alias("v"), F.col("deg").alias("dv")), "v")
        .select(
            "u",
            "v",
            "cn",
            (
                F.col("cn").cast("double")
                / (F.col("du") + F.col("dv") - F.col("cn")).cast("double")
            ).alias("jaccard"),
            "adamic_adar",
        )
    )
