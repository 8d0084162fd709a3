"""Similarity search over embedding columns (array<float>).

- brute-force cosine top-k: exact baseline. Dot products as JVM-side
  higher-order functions (zip_with + aggregate — stays in codegen, no
  Python); queries broadcast; top-k per query via window row_number.
- LSH-bucketed ANN (random hyperplane signs): candidates share >= 1 band
  bucket; exact cosine re-ranking on the candidate set only. At 100 TB
  the bucket join replaces the full scan: cost ~ bucket collision count.
- pairwise near-duplicate cosine over the whole table within LSH blocks.

Signatures are computed by an Arrow-batched pandas UDF (one numpy matmul
per batch) — for P hyperplanes that is one (batch x dim)@(dim x P) GEMM
instead of P chained Catalyst aggregate() expressions, which is both
faster and keeps the plan small at P >= 24. Hyperplanes are deterministic
(seeded LCG, portable arithmetic), so the DuckDB oracles reproduce the
exact same buckets with list_dot_product.

Honest LSH math (drives the default constants): for a pair at cosine s,
P(bit match) = 1 - acos(s)/pi; with r bits/band and L bands,
recall = 1 - (1 - p^r)^L while a random pair (s~0) collides with
probability ~1 - (1 - 0.5^r)^L. Sign-LSH therefore prunes only when the
target similarity is high (>= ~0.7); tuned for weak similarity it
degenerates to a full scan. Defaults target the near-duplicate regime
(s >= 0.8): r=8, L=16 gives recall ~0.94 at s=0.8 while touching ~6% of
random pairs; the ANN default r=6, L=4 gives recall ~0.995 within tight
clusters (s >= 0.9) at ~6% of the corpus per query.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.vectors import cosine, dot, norm  # noqa: F401 (cosine: API)
from ..plans.gas import release


def _lcg_floats(count: int, seed: int) -> list[float]:
    """Deterministic pseudo-gaussian-ish values in [-1, 1] (sum of 3
    uniforms, portable integer arithmetic)."""
    x = seed * 2654435761 % (1 << 31)
    out = []
    for _ in range(count):
        acc = 0.0
        for _ in range(3):
            x = (x * 1103515245 + 12345) % (1 << 31)
            acc += (x / float(1 << 31)) * 2.0 - 1.0
        out.append(acc / 3.0)
    return out


def random_hyperplanes(dim: int, num_planes: int, seed: int = 7) -> list[list[float]]:
    vals = _lcg_floats(dim * num_planes, seed)
    return [vals[i * dim : (i + 1) * dim] for i in range(num_planes)]


def simhash_buckets(
    emb: DataFrame,
    vec_col: str = "embedding",
    *,
    dim: int,
    num_planes: int = 16,
    bands: int = 4,
    seed: int = 7,
) -> DataFrame:
    """Add (band, bucket) rows per input row: sign-bit LSH banded buckets.
    Output: one row per (row, band).

    One Arrow batch -> one float64 GEMM against the (dim x num_planes)
    plane matrix -> per-band MSB-first bit packing. Bucket values are
    bit-identical to the DuckDB oracle's fold(expr*2 + sign_bit) over
    list_dot_product signs (same plane constants, same bit order).
    """
    rows_per_band = num_planes // bands
    assert rows_per_band * bands == num_planes
    planes_t = np.array(random_hyperplanes(dim, num_planes, seed), dtype=np.float64).T
    pows = (2 ** np.arange(rows_per_band - 1, -1, -1)).astype(np.int64)

    @F.pandas_udf("array<int>")
    def _buckets(v: pd.Series) -> pd.Series:
        x = np.stack(v.to_numpy()).astype(np.float64)
        bits = (x @ planes_t) >= 0.0
        packed = bits.reshape(len(x), bands, rows_per_band).astype(np.int64) @ pows
        return pd.Series(list(packed.astype(np.int32)))

    return (
        emb.withColumn("_bkts", _buckets(F.col(vec_col)))
        .select("*", F.posexplode("_bkts").alias("band", "bucket"))
        .drop("_bkts")
    )


#: most queries brute_force_topk collects: its closure matrix stays at
#: 1024 x dim float64 (0.5 MiB at dim 64, 6 MiB at dim 768) and a 10k-row
#: Arrow batch's score matrix at 80 MiB
MAX_TOPK_QUERIES = 1024


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact cosine top-k: (query_id, vec_id, score, rank).

    The query batch is the small side by definition (a kNN request; more
    than ``MAX_TOPK_QUERIES`` rows raise ``ValueError``); it is read once
    and shipped to every task as a numpy matrix — the same
    collect-to-closure shape as the LSH plane matrix in
    ``simhash_buckets``, and the guide's broadcast-the-plan pattern. The
    corpus then streams ONCE through an Arrow batch kernel that scores a
    whole batch against all queries with vectorized numpy, replacing the
    per-pair JVM higher-order-function folds (zip_with/aggregate are
    interpreted — no whole-stage codegen) that dominated the wall, and
    shipping only (query_id, vec_id, score) scalars back.

    Determinism: the accumulation runs dimension-by-dimension in float64 —
    the exact fold order of ``functions.vectors.cosine`` and of the SQL
    oracles' list_dot_product — so scores are bit-identical to the
    expression formulation (multiplication and addition sequences match
    IEEE op for IEEE op; no BLAS reassociation).
    """
    q_rows = queries.select(query_id_col, vec_col).limit(MAX_TOPK_QUERIES + 1).collect()
    if len(q_rows) > MAX_TOPK_QUERIES:
        raise ValueError(
            f"brute_force_topk takes at most MAX_TOPK_QUERIES={MAX_TOPK_QUERIES} "
            "queries; split the query set or use lsh_topk"
        )
    qids = np.array([r[0] for r in q_rows], dtype=np.int64)
    Q = np.array([list(r[1]) for r in q_rows], dtype=np.float64)
    nq = len(qids)
    d = Q.shape[1] if nq else 0
    qacc = np.zeros(nq)
    for j in range(d):
        qacc = qacc + Q[:, j] * Q[:, j]
    qnorm = np.sqrt(qacc)

    out_schema = f"{query_id_col} long, {id_col} long, score double"

    def _score(batches):
        for pdf in batches:
            b = len(pdf)
            if b == 0 or nq == 0:
                continue
            X = np.array(list(pdf[vec_col].to_numpy()), dtype=np.float64)
            xacc = np.zeros(b)
            dots = np.zeros((b, nq))
            for j in range(d):
                xj = X[:, j]
                xacc = xacc + xj * xj
                dots = dots + xj[:, None] * Q[None, :, j]
            score = dots / (np.sqrt(xacc)[:, None] * qnorm[None, :])
            yield pd.DataFrame(
                {
                    query_id_col: np.tile(qids, b),
                    id_col: np.repeat(
                        pdf[id_col].to_numpy().astype(np.int64), nq
                    ),
                    "score": score.ravel(),
                }
            )

    scored = corpus.select(F.col(id_col), F.col(vec_col)).mapInPandas(
        _score, out_schema
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.desc("score"), F.asc(id_col)
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, F.round("score", 6).alias("score"), "rank")
    )


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 10,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    num_planes: int = 24,
    bands: int = 4,
    seed: int = 7,
) -> DataFrame:
    """Approximate top-k: only candidates sharing >= 1 LSH band bucket with
    the query are scored. Same output schema as brute_force_topk.

    Default 24 planes / 4 bands = 6 bits/band: a random candidate survives
    with prob ~1-(1-2^-6)^4 ~= 6% (16x pruning), while a clustered true
    neighbor at cosine >= 0.9 is recalled with prob >= 0.99 (see module
    docstring math; recall asserted in tests on planted clusters).
    """
    # norms are per-VECTOR quantities: compute them once before the band
    # explode / candidate join instead of re-folding both arrays inside
    # every per-pair cosine (same fold, same doubles — just hoisted)
    cb = simhash_buckets(
        corpus.withColumn("_n", norm(F.col(vec_col))),
        vec_col, dim=dim, num_planes=num_planes, bands=bands, seed=seed,
    )
    qb = simhash_buckets(
        queries.withColumn("_qn", norm(F.col(vec_col))),
        vec_col, dim=dim, num_planes=num_planes, bands=bands, seed=seed,
    )
    cand = (
        cb.select(id_col, vec_col, "_n", "band", "bucket")
        .join(
            F.broadcast(
                qb.select(
                    query_id_col, F.col(vec_col).alias("_qvec"), "_qn",
                    "band", "bucket",
                )
            ),
            on=["band", "bucket"],
        )
        .dropDuplicates([query_id_col, id_col])
    )
    scored = cand.withColumn(
        "score",
        dot(F.col(vec_col), F.col("_qvec")) / (F.col("_n") * F.col("_qn")),
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("score"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, F.round("score", 6).alias("score"), "rank")
    )


IVF_SAMPLE_MULT = 2654435761  # Knuth multiplicative hash (portable in SQL)
IVF_SAMPLE_MOD = 1 << 31


def ivf_centroids(
    corpus: DataFrame,
    *,
    nlist: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    lloyd_iters: int = 0,
) -> DataFrame:
    """(cent_id, cvec): IVF coarse quantizer centroids.

    Seeds = a deterministic pseudo-random sample of ``nlist`` corpus
    vectors (rank of the portable multiplicative hash (id * 2654435761)
    mod 2^31, ties by id — reproducible in ANSI SQL, so the DuckDB oracle
    derives the exact same seed set). ``lloyd_iters`` > 0 refines them
    with spherical k-means steps (assign by max cosine, centroid =
    l2-normalized element-wise mean). Centroid state is nlist x dim —
    driver-sized by definition (like the LSH hyperplanes), so each Lloyd
    step is one distributed assignment pass + one (cent, dim-position)
    aggregation; the corpus is never collected.
    """
    from pyspark.storagelevel import StorageLevel

    key = F.pmod(F.col(id_col) * F.lit(IVF_SAMPLE_MULT), F.lit(IVF_SAMPLE_MOD))
    # Distributed partial top-nlist (TakeOrderedAndProject), persisted so
    # the corpus scan under it runs once despite the rank self-join below.
    seeds = (
        corpus.select(F.col(id_col), F.col(vec_col))
        .orderBy(key.asc(), F.col(id_col).asc())
        .limit(nlist)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # cent_id = 1..nlist in id order WITHOUT a global window (an
    # unpartitioned row_number moves all rows to one partition and fires
    # the WindowExec warning even on a tiny frame): rank by broadcast
    # self-join count over the nlist seed ids.
    sid = F.broadcast(seeds.select(F.col(id_col).alias("_id2")))
    ranks = (
        seeds.select(id_col)
        .join(sid, F.col(id_col) >= F.col("_id2"))
        .groupBy(id_col)
        .agg(F.count("*").cast("int").alias("cent_id"))
    )
    # centroids are nlist x dim (tiny); materialize each generation once so
    # the seed-selection corpus pass runs ONCE even though both the corpus
    # assignment and the query probe reference the frame
    try:
        cents = (
            seeds.join(F.broadcast(ranks), on=id_col)
            .select("cent_id", F.col(vec_col).cast("array<double>").alias("cvec"))
            .localCheckpoint(eager=True)
        )
    finally:
        seeds.unpersist()
    for _ in range(lloyd_iters):
        assigned = ivf_assign(corpus, cents, id_col=id_col, vec_col=vec_col)
        pos_means = (
            corpus.select(F.col(id_col), F.col(vec_col))
            .join(assigned, on=id_col)
            .select("cent_id", F.posexplode(F.col(vec_col).cast("array<double>")))
            .groupBy("cent_id", "pos")
            .agg(F.avg("col").alias("m"))
        )
        new_cents = (
            pos_means.groupBy("cent_id")
            .agg(
                F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm")
            )
            .select(
                "cent_id",
                F.transform(F.col("pm"), lambda s: s["m"]).alias("cvec"),
            )
        )
        from ..functions.vectors import l2_normalize

        refined = new_cents.select(
            "cent_id", l2_normalize(F.col("cvec")).alias("_cvec_new")
        )
        # A centroid whose cell went empty has no pos_means rows; keep its
        # previous vector instead of silently dropping it (nlist must stay
        # stable across Lloyd iterations — it can bound nprobe).
        nxt = (
            cents.withColumnRenamed("cvec", "_cvec_old")
            .join(refined, on="cent_id", how="left")
            .select(
                "cent_id",
                F.coalesce(F.col("_cvec_new"), F.col("_cvec_old")).alias("cvec"),
            )
            .localCheckpoint(eager=True)
        )
        release(cents)
        cents = nxt
    return cents


def ivf_assign(
    corpus: DataFrame,
    cents: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, cent_id): nearest centroid by cosine, ties to the smallest
    cent_id. One broadcast pass over the corpus; the argmax is a
    map-side-partial-friendly max(struct(score, -cent_id)) — no window
    shuffle of corpus-sized data."""
    scored = (
        corpus.select(F.col(id_col), F.col(vec_col))
        # per-vector norms hoisted out of the nlist-way cross join: one
        # fold per row instead of one per (row x centroid)
        .withColumn("_n", norm(F.col(vec_col)))
        .crossJoin(F.broadcast(cents.withColumn("_cn", norm(F.col("cvec")))))
    )
    s = dot(F.col(vec_col), F.col("cvec")) / (F.col("_n") * F.col("_cn"))
    return (
        scored.select(F.col(id_col), F.col("cent_id"), s.alias("_s"))
        .groupBy(id_col)
        .agg(F.max(F.struct(F.col("_s"), (-F.col("cent_id")).alias("neg"))).alias("t"))
        .select(F.col(id_col), (-F.col("t.neg")).alias("cent_id"))
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 10,
    nlist: int = 32,
    nprobe: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    lloyd_iters: int = 0,
) -> DataFrame:
    """IVF-Flat approximate top-k: score only corpus vectors whose
    inverted list is among the query's ``nprobe`` closest centroids.
    Output schema matches brute_force_topk (query_id, vec_id, score, rank).

    The 100 TB shape: the corpus is partitioned by its one-time centroid
    assignment (a broadcast pass — centroids are nlist x dim, tiny), and
    each query touches ~nprobe/nlist of it; exact cosine re-ranking runs
    on candidates only. A pathological hot list (all vectors in one cell)
    degrades toward a scan for queries probing it — pick nlist ~
    sqrt(corpus) and refine with ``lloyd_iters`` to balance cells.
    """
    cents = ivf_centroids(
        corpus, nlist=nlist, id_col=id_col, vec_col=vec_col, lloyd_iters=lloyd_iters
    )
    assigned = ivf_assign(corpus, cents, id_col=id_col, vec_col=vec_col)
    # per-vector norms hoisted: folded once per corpus/query row here, then
    # reused by every candidate pair below instead of re-folding per pair
    inv = (
        corpus.select(F.col(id_col), F.col(vec_col))
        .withColumn("_n", norm(F.col(vec_col)))
        .join(assigned, on=id_col)
    )
    # query-side probe list: queries are the small side — a per-query
    # window over nlist rows each
    qs = queries.select(
        F.col(query_id_col), F.col(vec_col).alias("_qvec")
    ).withColumn("_qn", norm(F.col("_qvec")))
    qscored = qs.crossJoin(
        F.broadcast(cents.withColumn("_cn", norm(F.col("cvec"))))
    ).select(
        query_id_col, "_qvec", "_qn", "cent_id",
        (dot(F.col("_qvec"), F.col("cvec")) / (F.col("_qn") * F.col("_cn"))).alias("_s"),
    )
    wq = Window.partitionBy(query_id_col).orderBy(F.desc("_s"), F.asc("cent_id"))
    probes = (
        qscored.withColumn("_rn", F.row_number().over(wq))
        .filter(F.col("_rn") <= nprobe)
        .select(query_id_col, "_qvec", "_qn", "cent_id")
    )
    cand = inv.join(F.broadcast(probes), on="cent_id")
    scored = cand.withColumn(
        "score",
        dot(F.col(vec_col), F.col("_qvec")) / (F.col("_n") * F.col("_qn")),
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("score"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, F.round("score", 6).alias("score"), "rank")
    )


def near_duplicates_cosine(
    emb: DataFrame,
    *,
    dim: int,
    threshold: float = 0.85,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_planes: int = 128,
    bands: int = 16,
    seed: int = 7,
    max_bucket: int = 1024,
) -> DataFrame:
    """Embedding near-dup pairs (id_a, id_b, score >= threshold) found via
    LSH blocking + exact cosine verification within buckets.

    Defaults: 128 planes / 16 bands = 8 bits/band -> recall ~0.94 for
    pairs at cosine 0.8 (~0.996 at 0.9) while a random pair collides in
    ~6% of cases. Buckets larger than ``max_bucket`` (e.g. a cluster of
    identical embeddings) fall back to a GROUPED min-id star (see
    dedup.blocked_candidate_pairs): identical embeddings — which collide
    in EVERY band, so no other band can recover them — are grouped by an
    exact vector hash and stay fully connected through their group rep
    (cosine 1.0 survives the threshold); only cross-group pairs through
    an oversized bucket collapse to a single rep-to-rep pair. Cost per
    bucket drops to linear."""
    from pyspark.storagelevel import StorageLevel

    from .dedup import blocked_candidate_pairs

    b = simhash_buckets(emb, vec_col, dim=dim, num_planes=num_planes, bands=bands, seed=seed)
    # the banded frame derives from the Arrow-batch GEMM pandas UDF and is
    # referenced from several branches of blocked_candidate_pairs (stats,
    # sized, big) — persist so the UDF pass runs once, not per branch
    keyed = b.select(
        F.col(id_col).alias("id"), "band", "bucket",
        F.xxhash64(F.col(vec_col)).alias("_g"),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    cand = blocked_candidate_pairs(keyed, max_bucket=max_bucket).dropDuplicates(
        ["id_a", "id_b"]
    )
    # per-vector norms folded once per vector here (linear), not once per
    # candidate pair (the candidate set is ~collision-rate x n^2)
    vecs = emb.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("v")
    ).withColumn("_vn", norm(F.col("v")))
    pairs = (
        cand.join(
            vecs.select(F.col("id").alias("id_a"), F.col("v").alias("va"),
                        F.col("_vn").alias("_na")),
            on="id_a",
        )
        .join(
            vecs.select(F.col("id").alias("id_b"), F.col("v").alias("vb"),
                        F.col("_vn").alias("_nb")),
            on="id_b",
        )
        .withColumn(
            "score",
            F.round(
                dot(F.col("va"), F.col("vb")) / (F.col("_na") * F.col("_nb")), 6
            ),
        )
        .filter(F.col("score") >= threshold)
    )
    return pairs.select("id_a", "id_b", "score")
