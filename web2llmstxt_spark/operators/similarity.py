"""Similarity search over embedding columns (engine extension).

Brute-force cosine top-k as the correctness baseline; LSH (random
hyperplanes, deterministic md5-seeded) bucketing as the scale path. All
vector math is native Column algebra (``zip_with``/``aggregate``) — stays in
the JVM; no Python per row.

Scale notes: brute-force is a broadcast of the query vector + one pass + a
distributed top-k (``orderBy().limit(k)`` = per-partition partial top-k
merged on the driver — k rows, not the data). The LSH path buckets vectors
by sign-pattern so candidate generation is a groupBy, and only candidates
pay the exact cosine.
"""

from __future__ import annotations

import hashlib
import math
import os

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..session import local_frame
from .dedup import tokens_col
from .textstats import whitespace_tokens_sql


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double"))
    )


def cosine_sim(a, b):
    return _dot(a, b) / (_norm(a) * _norm(b))


def cosine_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Brute-force cosine top-k against one query vector.

    Output: (id_col, sim) ordered sim desc, id asc.
    """
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    return (
        df.select(F.col(id_col), cosine_sim(F.col(vec_col), q).alias("sim"))
        .orderBy(F.desc("sim"), F.asc(id_col))
        .limit(k)
    )


def hyperplanes(dim: int, n_planes: int = 16) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes from md5 (engine-portable)."""
    planes = []
    for p in range(n_planes):
        vals = []
        for d in range(dim):
            h = hashlib.md5(f"plane:{p}:{d}".encode()).digest()
            u = int.from_bytes(h[:8], "big") / float(1 << 64)  # [0,1)
            # Box-Muller-ish light tail is unnecessary; uniform(-1,1) suffices
            vals.append(2.0 * u - 1.0)
        planes.append(vals)
    return planes


def bucket_col(vec, planes: list[list[float]]):
    """Sign-pattern LSH bucket id as a Column expression (no shuffle)."""
    bucket = F.lit(0).cast("long")
    for i, plane in enumerate(planes):
        p = F.array(*[F.lit(v) for v in plane])
        bit = F.when(_dot(vec, p) >= 0, F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        bucket = bucket + F.shiftleft(bit, i)
    return bucket


def lsh_bucket(df: DataFrame, dim: int, n_planes: int = 16,
               vec_col: str = "embedding", id_col: str = "vec_id") -> DataFrame:
    """Sign-pattern LSH bucket id per vector. Output: (id, bucket:long)."""
    planes = hyperplanes(dim, n_planes)
    return df.select(F.col(id_col), bucket_col(F.col(vec_col), planes).alias("bucket"))


#: default hot-bucket cap for neardup_pairs at the query layer (mirrored in
#: the DuckDB oracle twin); well above the expected bucket occupancy at test
#: scale (~n/2^n_planes) so it only bites on degenerate distributions
MAX_BUCKET_NEARDUP = 256


def neardup_pairs(
    df: DataFrame,
    dim: int,
    n_planes: int = 8,
    threshold: float = 0.9,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    max_bucket: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via sign-LSH bucketing.

    Buckets vectors by their ``n_planes``-bit sign pattern (one map pass, no
    shuffle beyond the bucket groupBy-join), self-joins within buckets only,
    then keeps pairs with exact cosine >= ``threshold``. The scale shape for
    embedding near-dup: candidate generation is a bucket equi-join (each
    vector meets ~n/2^planes others, not n), and only candidates pay the
    exact cosine. Recall is LSH-approximate: a true near-dup straddling a
    hyperplane (a plane-dot within the perturbation) can land in a sibling
    bucket — raise n_planes for precision, add multiprobe for recall.

    ``max_bucket`` caps hot-bucket blow-up exactly like
    dedup.lsh_candidate_pairs: with only 2^n_planes buckets, a clustered or
    degenerate embedding distribution (or simply n >> 2^n_planes) makes one
    bucket emit ~B^2/2 pairs and dominate the shuffle. Buckets larger than
    the cap keep only their ``max_bucket`` lowest-id members before the
    self-join. For exact recall without a cap, scale n_planes with log2(n).

    Output: (a, b, sim) with a < b, cosine >= threshold.
    """
    planes = hyperplanes(dim, n_planes)
    withb = df.select(
        F.col(id_col), F.col(vec_col).alias("__v"),
        bucket_col(F.col(vec_col), planes).alias("bucket"),
    )
    if max_bucket is not None:
        w = Window.partitionBy("bucket").orderBy(F.asc(id_col))
        withb = (
            withb.withColumn("__bn", F.row_number().over(w))
            .filter(F.col("__bn") <= max_bucket)
            .drop("__bn")
        )
    left = withb.select(F.col(id_col).alias("a"), F.col("__v").alias("va"), "bucket")
    right = withb.select(F.col(id_col).alias("b"), F.col("__v").alias("vb"), "bucket")
    return (
        left.join(right, "bucket")
        .filter(F.col("a") < F.col("b"))
        .select("a", "b", cosine_sim(F.col("va"), F.col("vb")).alias("sim"))
        .filter(F.col("sim") >= threshold)
    )


def lsh_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_planes: int = 8,
    probe_hamming: int = 1,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Approximate top-k: only score vectors whose LSH bucket is within
    ``probe_hamming`` bits of the query's bucket (multi-probe)."""
    dim = len(query_vec)
    planes = hyperplanes(dim, n_planes)
    qbits = 0
    for i, plane in enumerate(planes):
        dot = sum(a * b for a, b in zip(query_vec, plane))
        if dot >= 0:
            qbits |= 1 << i
    probes = {qbits}
    if probe_hamming >= 1:
        for i in range(n_planes):
            probes.add(qbits ^ (1 << i))
    if probe_hamming >= 2:
        for i in range(n_planes):
            for j in range(i + 1, n_planes):
                probes.add(qbits ^ (1 << i) ^ (1 << j))

    buckets = lsh_bucket(df, dim, n_planes, vec_col, id_col)
    cand = buckets.filter(F.col("bucket").isin([int(b) for b in probes])).select(id_col)
    sub = df.join(cand, id_col, "left_semi")
    return cosine_topk(sub, query_vec, k, vec_col, id_col)


def ivf_assign(df: DataFrame, centroids: list[tuple[int, list[float]]],
               vec_col: str = "embedding", id_col: str = "vec_id") -> DataFrame:
    """Assign each vector to its nearest centroid (IVF coarse quantizer).

    ``centroids`` is a small driver-side list [(cid, vec)] — broadcast as a
    literal array; assignment = argmax cosine via max_by, one pass, no
    shuffle. Output: (id, cid).
    """
    spark = df.sparkSession
    cent_df = local_frame(
        spark, [(cid, [float(x) for x in vec]) for cid, vec in centroids],
        "cid int, cvec array<double>",
    )
    # norms hoisted out of the N x nlist cross product: one array aggregate
    # per vector row + one per centroid row instead of two per PAIR; the
    # per-pair dot/(nv*nc) is float-identical to cosine_sim (same operand
    # values, same operation order)
    cent_df = cent_df.withColumn("__nc", _norm(F.col("cvec")))
    vecs = df.select(id_col, vec_col).withColumn("__nv", _norm(F.col(vec_col)))
    crossed = vecs.crossJoin(F.broadcast(cent_df))
    sims = crossed.select(
        id_col, "cid",
        (_dot(F.col(vec_col), F.col("cvec")) / (F.col("__nv") * F.col("__nc"))).alias("csim"),
    )
    return sims.groupBy(id_col).agg(F.max_by("cid", F.struct("csim", (-F.col("cid")).alias("t"))).alias("cid"))


def ivf_assign_multi(df: DataFrame, centroids: list[tuple[int, list[float]]],
                     nprobe: int = 2, vec_col: str = "embedding",
                     id_col: str = "vec_id") -> DataFrame:
    """Top-``nprobe`` coarse assignment: one (id, cid) row per probed list,
    rank 1 = the primary (argmax) cluster. Same broadcast cross + window
    shape as ivf_assign; the fan-out is exactly nprobe rows per vector.

    This is the standard IVF recall lever applied to DEDUP pairing: a
    near-dup pair split by a cluster boundary (the 19/20 sf0.01 semdedup
    miss) still co-occurs in some probed list when either member's nprobe
    sets overlap — the pair join sees them, at nprobe x pair-join cost,
    never all-pairs."""
    spark = df.sparkSession
    cent_df = local_frame(
        spark, [(cid, [float(x) for x in vec]) for cid, vec in centroids],
        "cid int, cvec array<double>",
    )
    # same norm hoist as ivf_assign (float-identical csim)
    cent_df = cent_df.withColumn("__nc", _norm(F.col("cvec")))
    vecs = df.select(id_col, vec_col).withColumn("__nv", _norm(F.col(vec_col)))
    crossed = vecs.crossJoin(F.broadcast(cent_df))
    sims = crossed.select(
        id_col, "cid",
        (_dot(F.col(vec_col), F.col("cvec")) / (F.col("__nv") * F.col("__nc"))).alias("csim"),
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("csim"), F.asc("cid"))
    return (
        sims.withColumn("__pr", F.row_number().over(w))
        .filter(F.col("__pr") <= nprobe)
        .select(id_col, "cid", F.col("__pr").alias("probe_rank"))
    )


def ivf_centroids(df: DataFrame, nlist: int = 16, vec_col: str = "embedding",
                  id_col: str = "vec_id") -> list[tuple[int, list[float]]]:
    """Deterministic centroid pick: the nlist lowest-id vectors (a fixed
    sample; production would run k-means refinement over these seeds)."""
    rows = df.orderBy(id_col).limit(nlist).collect()
    return [(i, list(r[vec_col])) for i, r in enumerate(rows)]


def kmeans_refine(
    df: DataFrame,
    centroids: list[tuple[int, list[float]]],
    iters: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> list[tuple[int, list[float]]]:
    """Lloyd refinement of the IVF coarse quantizer (round-1 verdict #9:
    the seed pick alone is a toy quantizer).

    Fully distributed per iteration: assignment is the broadcast-centroid
    max_by pass (ivf_assign), the centroid update is posexplode ->
    groupBy(cid, pos) -> avg — one shuffle of (cid, pos, val), and only
    nlist x dim aggregated rows ever reach the driver. Empty clusters keep
    their previous centroid.

    NOTE on oracles: avg() is FP-summation-order dependent, so refined
    centroids are not bit-reproducible across engines — the driver-checked
    ``ann_ivf`` query therefore pins the deterministic seed centroids, and
    refinement quality is gated by the recall tests instead
    (tests/test_oracle_queries.py::test_ann_ivf_kmeans_recall).
    """
    dim = len(centroids[0][1])
    for _ in range(iters):
        assigned = ivf_assign(df, centroids, vec_col, id_col)
        joined = assigned.join(df.select(id_col, vec_col), id_col)
        means = (
            joined.select("cid", F.posexplode(vec_col).alias("pos", "val"))
            .groupBy("cid", "pos")
            .agg(F.avg(F.col("val").cast("double")).alias("m"))
            .collect()
        )
        by_cid: dict[int, dict[int, float]] = {}
        for r in means:
            by_cid.setdefault(r["cid"], {})[r["pos"]] = r["m"]
        centroids = [
            (cid, [by_cid[cid][p] for p in range(dim)]) if cid in by_cid else (cid, vec)
            for cid, vec in centroids
        ]
    return centroids


def _cos_py(a, b) -> float:
    dot = sum(x * y for x, y in zip(a, b))
    na = math.sqrt(sum(x * x for x in a))
    nb = math.sqrt(sum(y * y for y in b))
    return dot / (na * nb) if na and nb else 0.0


class IvfIndex:
    """Materialized IVF index: the (vec_id, cid) coarse assignment computed
    ONCE (persisted + materialized at build), plus the driver-side centroid
    list. A ``topk`` query then touches only its nprobe lists — no per-query
    full-corpus assignment scan. This is the ANN serving shape at 100 TB:
    index build is the one full pass (amortized over every query; persist to
    parquet/Iceberg alongside the vectors for reuse across jobs via
    ``save``/``load``), queries are centroid argmax on the driver (nlist
    rows) + a semi-join against the assignment table.
    """

    def __init__(self, df: DataFrame, centroids: list[tuple[int, list[float]]],
                 assigned: DataFrame, vec_col: str = "embedding",
                 id_col: str = "vec_id"):
        self.df = df
        self.centroids = centroids
        self.assigned = assigned
        self.vec_col = vec_col
        self.id_col = id_col

    @classmethod
    def build(cls, df: DataFrame, nlist: int = 16, kmeans_iters: int = 0,
              vec_col: str = "embedding", id_col: str = "vec_id") -> "IvfIndex":
        centroids = ivf_centroids(df, nlist, vec_col, id_col)
        if kmeans_iters > 0:
            centroids = kmeans_refine(df, centroids, kmeans_iters, vec_col, id_col)
        assigned = ivf_assign(df, centroids, vec_col, id_col).persist()
        assigned.count()  # materialize: the ONE full-corpus assignment pass
        return cls(df, centroids, assigned, vec_col, id_col)

    def probe_cids(self, query_vec: list[float], nprobe: int) -> list[int]:
        return [
            cid
            for cid, _ in sorted(self.centroids, key=lambda c: -_cos_py(c[1], query_vec))[:nprobe]
        ]

    def topk(self, query_vec: list[float], k: int = 10, nprobe: int = 4) -> DataFrame:
        cids = self.probe_cids(query_vec, nprobe)
        cand_ids = self.assigned.filter(F.col("cid").isin(cids)).select(self.id_col)
        sub = self.df.join(cand_ids, self.id_col, "left_semi")
        return cosine_topk(sub, query_vec, k, self.vec_col, self.id_col)

    def unpersist(self):
        self.assigned.unpersist()

    def save(self, path: str) -> None:
        """Persist the index for cross-job reuse: the assignment table as
        parquet (the scale-bearing half — one row per vector, repartitioned
        by cid so a query's nprobe lists map to whole files) and the
        centroids as a tiny parquet alongside. The VECTORS are not copied —
        an index references the corpus table, it doesn't own it."""
        self.assigned.repartition("cid").write.mode("overwrite").parquet(
            os.path.join(path, "assigned")
        )
        spark = self.assigned.sparkSession
        local_frame(
            spark, [(cid, [float(x) for x in vec]) for cid, vec in self.centroids],
            "cid int, centroid array<double>",
        ).coalesce(1).write.mode("overwrite").parquet(os.path.join(path, "centroids"))

    @classmethod
    def load(cls, spark: SparkSession, path: str, df: DataFrame,
             vec_col: str = "embedding", id_col: str = "vec_id") -> "IvfIndex":
        """Reopen a saved index against the SAME corpus ``df`` it was built
        from (the index stores ids, not vectors — a changed corpus gives
        silently stale lists; version the path alongside the corpus
        snapshot). No full-corpus pass happens here: the assignment is read
        back as parquet and only materialized lazily by queries."""
        assigned = spark.read.parquet(os.path.join(path, "assigned")).persist()
        centroids = [
            (r["cid"], list(r["centroid"]))
            for r in spark.read.parquet(os.path.join(path, "centroids")).collect()
        ]
        centroids.sort(key=lambda c: c[0])
        return cls(df, centroids, assigned, vec_col, id_col)


def ivf_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    nlist: int = 16,
    nprobe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    centroids: list[tuple[int, list[float]]] | None = None,
    kmeans_iters: int = 0,
    index: IvfIndex | None = None,
) -> DataFrame:
    """IVF approximate top-k: probe the nprobe centroid lists nearest the
    query, exact cosine only within them.

    Pass ``index`` (IvfIndex.build once, reuse per query) for the serving
    path: the coarse assignment is materialized at build and a query touches
    only its ~nprobe/nlist of the data. WITHOUT an index this convenience
    form recomputes the full-corpus assignment for THIS call — fine for a
    one-shot query or the driver oracle, wrong in a query loop.

    ``kmeans_iters`` > 0 runs Lloyd refinement over the deterministic seed
    centroids (kmeans_refine) — the production quantizer; 0 keeps the seeds
    (bit-reproducible across engines, used by the driver oracle)."""
    if index is not None:
        return index.topk(query_vec, k, nprobe)
    if centroids is None:
        centroids = ivf_centroids(df, nlist, vec_col, id_col)
        if kmeans_iters > 0:
            centroids = kmeans_refine(df, centroids, kmeans_iters, vec_col, id_col)
    probe_cids = [
        cid for cid, _ in sorted(centroids, key=lambda c: -_cos_py(c[1], query_vec))[:nprobe]
    ]
    assigned = ivf_assign(df, centroids, vec_col, id_col)
    cand_ids = assigned.filter(F.col("cid").isin(probe_cids)).select(id_col)
    sub = df.join(cand_ids, id_col, "left_semi")
    return cosine_topk(sub, query_vec, k, vec_col, id_col)


#: hot-cluster cap for semdedup's within-cluster self-join — same rationale
#: as MAX_BUCKET_NEARDUP: a degenerate assignment (or n >> nlist) makes one
#: cluster emit ~B^2/2 pairs; members beyond the cap (by id order) are KEPT
#: unexamined rather than dropped, so the cap only loses recall, never
#: over-deletes. Mirrored in the DuckDB twin.
MAX_CLUSTER_SEMDEDUP = 512


def semdedup(
    df: DataFrame,
    dim: int,
    nlist: int = 16,
    threshold: float = 0.95,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    centroids: list[tuple[int, list[float]]] | None = None,
    max_cluster: int | None = MAX_CLUSTER_SEMDEDUP,
    nprobe: int = 1,
) -> DataFrame:
    """Semantic deduplication (SemDeDup, Abbas et al. 2023, arXiv:2303.09540):
    cluster embeddings with a coarse quantizer, then WITHIN each cluster drop
    every vector whose cosine to a lower-id cluster member is >= threshold —
    one representative (the lowest id, deterministic) survives per semantic
    near-dup group. Extension operator beyond the reference's surface: the
    reference has no embedding-level dedup (its dedup is URL-seen,
    web_crawler.py visited-set); this is the standard LLM-corpus curation
    step between exact/MinHash dedup and training.

    Scale shape (the paper's own recipe): pair generation is confined to
    clusters — a groupBy-key self-join over nlist lists, never all-pairs.
    Clustering reuses the IVF coarse quantizer (ivf_centroids seed pick +
    ivf_assign argmax, one broadcast pass, no shuffle); pass ``centroids``
    (e.g. kmeans_refine output) for production quality — the default seed
    pick keeps the whole operator bit-reproducible for the DuckDB twin.
    ``max_cluster`` caps hot clusters by id order; overflow members are kept
    unexamined (recall loss only, never a false drop).

    ``nprobe > 1`` (r5): pair generation runs over each vector's top-nprobe
    clusters (ivf_assign_multi) instead of only its argmax cluster — the
    assignment-boundary misses of a coarse quantizer (a copy landing one
    cluster over from its source) co-occur in a probed list and get caught,
    at nprobe x pair-join cost. The DROP rule and the reported ``cid``
    (primary assignment) are unchanged, so nprobe can only drop MORE true
    near-dups, never fewer and never a false drop — recall-gated in
    tests/test_oracle_queries.py (planted copies, sf0.01 + sf0.1).

    Output: kept rows (id_col, cid) — anti-join of the dropped set.
    """
    if centroids is None:
        centroids = ivf_centroids(df, nlist, vec_col, id_col)
    if nprobe > 1:
        # ONE broadcast-cross cosine pass serves both roles: the primary
        # assignment is exactly the probe_rank==1 slice (same argmax +
        # smallest-cid tie-break as ivf_assign) — running ivf_assign too
        # would pay the dominant N x nlist pass twice. Materialized once:
        # assigned + pairing + the self-join's two sides otherwise each
        # re-run the N x nlist cosine pass.
        multi = ivf_assign_multi(df, centroids, nprobe, vec_col, id_col)
        multi = multi.localCheckpoint(eager=True)
        assigned = multi.filter(F.col("probe_rank") == 1).select(id_col, "cid")
        pairing = multi.select(id_col, "cid")
    else:
        assigned = ivf_assign(df, centroids, vec_col, id_col)  # (id, cid)
        assigned = assigned.localCheckpoint(eager=True)
        pairing = assigned
    withc = df.select(id_col, vec_col).join(pairing, id_col)
    if max_cluster is not None:
        w = Window.partitionBy("cid").orderBy(F.asc(id_col))
        examined = (
            withc.withColumn("__cn", F.row_number().over(w))
            .filter(F.col("__cn") <= max_cluster)
            .drop("__cn")
        )
    else:
        examined = withc
    # the self-join reads this twice; one materialization, bounded by
    # nlist x max_cluster rows of (id, vec, cid). The vector NORM rides
    # along (one array aggregate per ROW instead of two per PAIR — the
    # pair stage is the operator's O(cap^2 x nlist) term); the per-pair
    # expression dot/(na*nb) is float-identical to cosine_sim's
    # dot/(norm(a)*norm(b)): same operand values, same operation order.
    examined = examined.withColumn("__nv", _norm(F.col(vec_col)))
    examined = examined.localCheckpoint(eager=True)
    left = examined.select(
        F.col(id_col).alias("a"), F.col(vec_col).alias("va"), "cid",
        F.col("__nv").alias("__na"),
    )
    right = examined.select(
        F.col(id_col).alias("b"), F.col(vec_col).alias("vb"), "cid",
        F.col("__nv").alias("__nb"),
    )
    dropped = (
        left.join(right, "cid")
        .filter(F.col("a") < F.col("b"))
        .filter(
            _dot(F.col("va"), F.col("vb")) / (F.col("__na") * F.col("__nb"))
            >= threshold
        )
        .select(F.col("b").alias(id_col))
        .distinct()
    )
    return assigned.join(dropped, id_col, "left_anti")


# ---------------------------------------------------------------------------
# Feature-hashing text embeddings (model-free embedding generation)
# ---------------------------------------------------------------------------

#: test-preset embedding width; the hashing trick degrades gracefully with
#: dim (collisions average out under the sign hash) — scale preset 2^10+.
HASH_EMBED_DIM = 16


def hash_embed(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    dim: int = HASH_EMBED_DIM,
) -> DataFrame:
    """Deterministic text -> vector via the hashing trick (Weinberger et
    al., ICML 2009): token t adds sign(t) at index h(t) mod dim; the count
    vector is L2-normalized. Closes the in-engine text -> embedding -> ANN
    loop (similarity.cosine_topk / IvfIndex / lsh_topk consume the output)
    with no model dependency — the unsupervised baseline a 100 TB corpus
    bootstrap actually uses before a learned embedder exists.

    h(t) = 60-bit md5 prefix (the minhash token hash, same cross-engine
    arithmetic); sign(t) = +1 when the 16th hex char of md5(t) is 0-7 else
    -1 (an independent bit of the same digest). Pure Column algebra: one
    O(dim) fold per token inside ``aggregate`` — no explode, no shuffle,
    embarrassingly parallel like minhash_signatures.

    Output: (id_col, e_0..e_{dim-1}) — flat DOUBLE columns rounded to 4
    decimals (engine-exact to compare; reassemble with F.array for ANN).
    Zero-token docs embed as the zero vector.
    """
    toks = tokens_col(F.col(text_col))
    # hash each token ONCE up front (the minhash lesson: Catalyst does not
    # CSE inside higher-order lambdas, so an md5 referenced in the per-
    # dimension fold would evaluate 2*dim times per token)
    pre = F.transform(
        F.transform(toks, lambda t: F.md5(t)),
        lambda h: F.struct(
            (F.conv(F.substring(h, 1, 15), 16, 10).cast("long") % dim).alias("i"),
            F.when(F.substring(h, 16, 1).isin(*"01234567"), F.lit(1.0))
            .otherwise(F.lit(-1.0))
            .alias("s"),
        ),
    )
    zero = F.array_repeat(F.lit(0.0), dim)
    # transform's TWO-arg lambda receives (element, index) — exactly the
    # per-dimension fold we need (cf. the one-arg warning in minhash: there
    # the index was unwanted, here it is the point)
    counts = F.aggregate(
        pre,
        zero,
        lambda acc, e: F.transform(
            acc,
            lambda a, d: a + F.when(e["i"] == d, e["s"]).otherwise(F.lit(0.0)),
        ),
    )
    vec = df.select(F.col(id_col), counts.alias("__c")).withColumn(
        "__n",
        F.sqrt(F.aggregate("__c", F.lit(0.0), lambda a, x: a + x * x)),
    )
    cols = [
        F.round(
            F.when(F.col("__n") > 0, F.element_at("__c", d + 1) / F.col("__n"))
            .otherwise(F.lit(0.0)),
            4,
        ).alias(f"e_{d}")
        for d in range(dim)
    ]
    return vec.select(F.col(id_col), *cols)


def hash_embed_sql(
    text_expr: str, id_expr: str, from_table: str, dim: int = HASH_EMBED_DIM
) -> str:
    """DuckDB twin of hash_embed — same md5-prefix index hash (the proven
    minhash arithmetic), same sign bit, same normalize-then-round."""
    toks = whitespace_tokens_sql(text_expr)
    hidx = f"(('0x' || substr(md5(t), 1, 15))::BIGINT % {dim})"
    sgn = "(CASE WHEN substr(md5(t), 16, 1) IN ('0','1','2','3','4','5','6','7') THEN 1.0 ELSE -1.0 END)"
    comp = lambda d: (
        f"coalesce(list_sum(list_transform(toks, "
        f"t -> CASE WHEN {hidx} = {d} THEN {sgn} ELSE 0.0 END)), 0.0)"
    )
    comps = ", ".join(f"{comp(d)} AS c_{d}" for d in range(dim))
    sq = " + ".join(f"c_{d} * c_{d}" for d in range(dim))
    outs = ", ".join(
        f"round(CASE WHEN __n > 0 THEN c_{d} / __n ELSE 0.0 END, 4) AS e_{d}"
        for d in range(dim)
    )
    return f"""
        WITH toks AS (SELECT {id_expr} AS doc_id, {toks} AS toks FROM {from_table}),
        counts AS (SELECT doc_id, {comps} FROM toks),
        normed AS (SELECT *, sqrt({sq}) AS __n FROM counts)
        SELECT doc_id, {outs} FROM normed
    """
