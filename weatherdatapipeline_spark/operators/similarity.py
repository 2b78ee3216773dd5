"""Vector similarity search over ``array<float>`` embedding columns
(SURVEY.md §2.11).

Paths
-----
- ``cosine_topk``          : brute-force exact top-k for one query vector.
  TakeOrdered top-k, no global sort.
- ``knn_join``             : exact top-k for a (small) batch of query
  vectors — broadcast the queries, one pass over the corpus.
- ``lsh_topk``             : random-hyperplane (sign) LSH bucketing; probes
  only the query's bucket (+ optional multi-probe neighbors). This is the
  100 TB path: the corpus is bucketed once (write-time partitioning in a
  real deployment), each query touches ~corpus/2^bits rows.
- ``cosine_near_duplicates``: embedding-space near-dup pairs via LSH
  bucket self-join, for the dedup suite.

Brute force at 100 TB is a full scan per query — fine for one-off
analytics, wrong for serving; LSH trades recall for a bounded probe set.

Cosine scoring is a vectorized Arrow-batched pandas UDF (numpy over whole
record batches, ~1.5-3x faster than per-element JVM lambdas at 64 dims,
SCALE.md "HOF vs Arrow"). It folds each dot product and norm sequentially
across dimensions, the same float64 order as ``cosine_similarity_hof``,
the built-in-function reference the tests and oracles compare against —
so the two agree bitwise, not merely closely.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, DoubleType

from .litfast import darray


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine_similarity_hof(a: Column, b: Column) -> Column:
    """Cosine via built-in higher-order functions. Map-only and UDF-free,
    but Spark evaluates HOF lambdas per-element in the interpreter (outside
    whole-stage codegen), which benchmarks ~1.5-3x slower than the Arrow
    path at sf0.1 — kept as the semantics reference the tests compare the
    Arrow path against.

    A zero-norm vector yields NULL (guarded explicitly: under ANSI mode —
    the Spark 4 default — a bare division would otherwise raise
    DIVIDE_BY_ZERO on the first all-zero embedding in the corpus). The
    Arrow path agrees: its NaN results convert to null on the
    pandas->Arrow hop."""
    den = _norm(a) * _norm(b)
    return F.when(den != F.lit(0.0), _dot(a, b) / den)


def _seq_fold(A: np.ndarray, B: np.ndarray) -> np.ndarray:
    # accumulate sequentially across dims (vectorized across rows) so
    # the float64 sum order matches the HOF fold exactly -> results are
    # bit-identical to cosine_similarity_hof, not merely close
    acc = np.zeros(A.shape[0])
    for i in range(A.shape[1]):
        acc = acc + A[:, i] * B[:, i]
    return acc


# return type as a DataType OBJECT, not a DDL string: a DDL string is
# parsed by the JVM at decoration time, which raises
# SESSION_OR_CONTEXT_NOT_EXISTS when this module is imported before the
# SparkSession exists (bench.py / check_oracle import order)
@pandas_udf(DoubleType())
def _cosine_arrow(a: pd.Series, b: pd.Series) -> pd.Series:
    A = np.stack(a.to_numpy()).astype(np.float64)
    B = np.stack(b.to_numpy()).astype(np.float64)
    num = _seq_fold(A, B)
    den = np.sqrt(_seq_fold(A, A)) * np.sqrt(_seq_fold(B, B))
    with np.errstate(divide="ignore", invalid="ignore"):
        out = num / den
    return pd.Series(out)


def cosine_to_anchors_udf(anchors: list[list[float]]):
    """Factory: pandas UDF scoring a vector column against EVERY row
    of a FIXED anchor matrix at once, returning array<double> of
    cosines in anchor order (r15, guide §4.2: the per-pair
    ``_cosine_arrow`` on an exploded (query x anchor) table ships
    both full vectors through the Python boundary once PER PAIR —
    ~129 doubles/pair; this ships each query vector once and returns
    |anchors| doubles, ~100x less Arrow traffic for a 450-anchor
    broadcast side — measured the difference on knn_label_prediction
    at the x5 tier).

    Float contract: per anchor, dot and both norms accumulate
    SEQUENTIALLY across dims exactly like ``_seq_fold``, and den
    multiplies sqrt(anchor)*... in the same operand order as
    ``_cosine_arrow`` with the anchor as the ``a`` argument — so
    every returned double is bit-identical to
    ``cosine_similarity(anchor_col, vec_col)`` on the pair row.

    A zero-norm query or anchor has no cosine: its entries are NULL,
    as in the scalar paths, never NaN (which Spark orders above every
    double, so it would rank first in a descending top-k). Non-finite
    results are nulled here rather than left to the pandas->Arrow
    hop."""
    A = [np.asarray(c, dtype=np.float64) for c in anchors]
    a_norms = []
    for c in A:
        acc = 0.0
        for i in range(c.shape[0]):
            acc = acc + c[i] * c[i]
        a_norms.append(np.sqrt(acc))

    @pandas_udf(ArrayType(DoubleType()))
    def dists(v: pd.Series) -> pd.Series:
        X = np.stack(v.to_numpy()).astype(np.float64)
        n, d = X.shape
        qn = np.sqrt(_seq_fold(X, X))
        out = np.empty((n, len(A)), dtype=np.float64)
        with np.errstate(divide="ignore", invalid="ignore"):
            for j, c in enumerate(A):
                acc = np.zeros(n)
                for i in range(d):
                    acc = acc + c[i] * X[:, i]
                out[:, j] = acc / (a_norms[j] * qn)
        rows = list(out)
        bad = ~np.isfinite(out)
        for r in np.flatnonzero(bad.any(axis=1)):
            row = out[r].astype(object)
            row[bad[r]] = None
            rows[r] = row
        return pd.Series(rows)

    return dists


def cosine_similarity(a: Column, b: Column) -> Column:
    """Cosine similarity of two array<float> columns in DOUBLE, scored by
    the Arrow UDF; bitwise equal to :func:`cosine_similarity_hof`. A
    zero-norm side yields NULL (the NaN converts on the pandas->Arrow
    hop)."""
    if isinstance(a, str):
        a = F.col(a)
    if isinstance(b, str):
        b = F.col(b)
    return _cosine_arrow(a, b)


def cosine_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k for one query vector (the correctness baseline).

    Returns (id, cosine) ordered desc with id tiebreak, ranked 1..k.
    """
    q = darray(query_vec)
    scored = embeddings.select(
        F.col(id_col),
        F.round(cosine_similarity(F.col(vec_col), q), 6).alias("cosine"),
    )
    ranked = scored.orderBy(F.desc("cosine"), F.col(id_col)).limit(k)
    return ranked


def knn_join(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Exact k-NN for each query row: broadcast-nested-loop the (small)
    query set against the corpus, then per-query top-k via window rank.

    One corpus scan total regardless of |queries| — the scan cost is
    amortized across all queries instead of one scan per query.
    """
    from pyspark.sql import Window

    joined = embeddings.crossJoin(F.broadcast(queries)).select(
        F.col(query_id_col),
        F.col(id_col),
        F.round(cosine_similarity(F.col(vec_col), F.col(query_vec_col)), 6).alias("cosine"),
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cosine"), F.col(id_col))
    return joined.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def hyperplanes(dim: int, bits: int, seed: int = 42) -> list[list[float]]:
    """Deterministic random hyperplanes for sign-LSH (numpy RandomState)."""
    rs = np.random.RandomState(seed)
    return rs.standard_normal((bits, dim)).astype(float).tolist()


def lsh_bucket(vec: Column, planes: list[list[float]]) -> Column:
    """Sign-LSH bucket id: bit i = sign(vec . plane_i), packed to a long."""
    bits = [
        F.when(_dot(vec, darray(plane)) >= 0, F.lit(1).cast("long"))
        .otherwise(F.lit(0).cast("long"))
        .alias(f"b{i}")
        for i, plane in enumerate(planes)
    ]
    packed = F.lit(0).cast("long")
    for i, b in enumerate(bits):
        packed = packed.bitwiseOR(F.shiftleft(b, i))
    return packed


def lsh_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    bits: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    multiprobe_hamming: int = 1,
) -> DataFrame:
    """Approximate cosine top-k: score only rows whose LSH bucket is within
    ``multiprobe_hamming`` bit-flips of the query's bucket.

    With 8 bits + 1-probe this touches ~(1+8)/256 ≈ 3.5% of the corpus. In
    a persistent deployment the bucket column is computed at write time and
    the table is partitioned by it → partition pruning makes the probe set
    an index lookup, not a scan+filter.
    """
    planes = hyperplanes(len(query_vec), bits, seed)
    bucketed = embeddings.withColumn("_bucket", lsh_bucket(F.col(vec_col), planes))
    qbits = 0
    for i, plane in enumerate(planes):
        dot = sum(float(a) * float(b) for a, b in zip(query_vec, plane))
        qbits |= (1 if dot >= 0 else 0) << i
    probes = {qbits}
    if multiprobe_hamming >= 1:
        for i in range(bits):
            probes.add(qbits ^ (1 << i))
    cand = bucketed.filter(F.col("_bucket").isin([int(p) for p in probes]))
    q = darray(query_vec)
    return (
        cand.select(
            F.col(id_col), F.round(cosine_similarity(F.col(vec_col), q), 6).alias("cosine")
        )
        .orderBy(F.desc("cosine"), F.col(id_col))
        .limit(k)
    )


def ivf_index(
    embeddings: DataFrame,
    n_clusters: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
):
    """IVF coarse quantizer: k-means centroids + per-row cluster
    assignment. Returns (assigned DataFrame with `_cluster`, centroids
    list). The at-scale analogue writes `_cluster` at ingest and
    partitions the table by it, making probes partition-pruned scans.

    Unlike sign-LSH, the quantizer adapts to the corpus distribution —
    the right choice when embeddings are clustered (real-world corpora),
    while LSH needs no training pass.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector, vector_to_array

    vecs = embeddings.withColumn("_v", array_to_vector(F.col(vec_col)))
    model = KMeans(k=n_clusters, seed=seed, featuresCol="_v", predictionCol="_cluster").fit(
        vecs
    )
    assigned = model.transform(vecs).drop("_v")
    centroids = [[float(x) for x in c] for c in model.clusterCenters()]
    return assigned, centroids


def ivf_topk(
    assigned: DataFrame,
    centroids: list[list[float]],
    query_vec: list[float],
    k: int = 10,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: score only the ``n_probe`` clusters whose
    centroids are closest to the query (driver-side centroid ranking —
    centroid count is tiny by construction)."""
    import math

    def dist(a, b):
        return math.sqrt(sum((x - y) ** 2 for x, y in zip(a, b)))

    probe = sorted(range(len(centroids)), key=lambda i: dist(centroids[i], query_vec))[
        :n_probe
    ]
    cand = assigned.filter(F.col("_cluster").isin(probe))
    q = darray(query_vec)
    return (
        cand.select(
            F.col(id_col), F.round(cosine_similarity(F.col(vec_col), q), 6).alias("cosine")
        )
        .orderBy(F.desc("cosine"), F.col(id_col))
        .limit(k)
    )


def assign_to_centroids(
    embeddings: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id_col: str = "centroid_id",
    centroid_vec_col: str = "centroid_vec",
) -> DataFrame:
    """Nearest-centroid (max-cosine) assignment: the IVF coarse-quantizer
    assignment step with an EXPLICIT centroid table instead of a trained
    KMeans model — deterministic, so it joins the oracle-checked surface
    (``ivf_index`` keeps the trained path).

    Broadcast the centroid table (tiny by construction), score every
    (vector, centroid) pair, keep the argmax per vector via row_number
    (ties -> lowest centroid id). One corpus pass, no corpus shuffle
    before the argmax window on the vector id. At 100 TB the centroid
    set stays driver-small (k <= ~2^16) and the scored stream is
    ``k x corpus`` rows map-side — the window is the only exchange.
    """
    from pyspark.sql import Window

    scored = embeddings.crossJoin(F.broadcast(centroids)).select(
        F.col(id_col),
        F.col(centroid_id_col),
        cosine_similarity(F.col(vec_col), F.col(centroid_vec_col)).alias("_cos"),
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("_cos"), F.col(centroid_id_col))
    return (
        scored.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .select(id_col, centroid_id_col, F.col("_cos").alias("cosine"))
    )


def cosine_near_duplicates(
    embeddings: DataFrame,
    threshold: float = 0.95,
    bits: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """Embedding-space near-dup pairs: LSH-bucket self-join (plus 1-bit
    neighbor buckets) then exact cosine verify — mirror of the MinHash
    candidates→verify pattern, in vector space."""
    sample = embeddings.select(vec_col).first()
    dim = len(sample[0])
    planes = hyperplanes(dim, bits, seed)
    bucketed = embeddings.select(
        F.col(id_col), F.col(vec_col), lsh_bucket(F.col(vec_col), planes).alias("_bucket")
    )
    # probe buckets: own bucket + each 1-bit flip → catches pairs straddling
    # one hyperplane (the common false-negative mode of sign-LSH)
    probed = bucketed.select(
        id_col,
        vec_col,
        F.explode(
            F.array(
                F.col("_bucket"),
                *[F.col("_bucket").bitwiseXOR(F.lit(1 << i)) for i in range(bits)],
            )
        ).alias("_probe"),
    )
    a = probed.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("vec_a"), "_probe"
    )
    b = bucketed.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("vec_b"),
        F.col("_bucket").alias("_probe"),
    )
    return (
        a.join(b, "_probe")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.round(cosine_similarity("vec_a", "vec_b"), 6).alias("cosine"))
        .distinct()
        .filter(F.col("cosine") >= threshold)
    )


def semdedup(
    embeddings: DataFrame,
    centroids: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id_col: str = "centroid_id",
    centroid_vec_col: str = "centroid_vec",
) -> DataFrame:
    """SemDeDup (Abbas et al., "SemDeDup: Data-efficient learning at
    web-scale through semantic deduplication", 2023): drop documents
    whose EMBEDDINGS nearly coincide — paraphrases and re-renders that
    string-level dedup cannot see.

    The published recipe verbatim: (1) k-means-style cluster assignment
    (here ``assign_to_centroids`` — broadcast centroid table, argmax
    cosine), (2) WITHIN each cluster, pairwise cosine >= ``threshold``
    marks semantic duplicates, (3) keep one representative (min id) per
    duplicate component plus every unpaired doc. Clustering is what
    makes the quadratic affordable: the pair space is sum of
    cluster_size^2, not corpus^2 — the cluster count is the knob that
    bounds per-cluster fan-in at scale.

    Known recall caveat (inherent to the published method): a duplicate
    pair straddling a cluster boundary is never compared — SemDeDup
    accepts this; the paper's mitigation is moderate cluster counts.

    Returns the surviving rows of ``embeddings`` (all original columns).
    """
    from .dedup import dedup_keep_canonical

    assigned = assign_to_centroids(
        embeddings, centroids, id_col, vec_col, centroid_id_col, centroid_vec_col
    ).select(id_col, centroid_id_col)
    tagged = embeddings.select(id_col, vec_col).join(assigned, id_col)
    # Salted within-cluster pair join (r15, guide §2.5): the join key is
    # the CENTROID id — a handful of distinct values, so the shuffle can
    # never use more tasks than clusters and the whole quadratic
    # verify ran in 1-2 tasks (measured 1.5 s single-task stage at
    # sf0.1). Salt deterministically on the member id: the b side keys
    # each row once by pmod(id, s), the a side replicates each row s
    # ways, and the join runs on (centroid, salt) — s * |cluster| keys
    # spread the per-pair cosine work across the session's cores while
    # every unordered pair still meets exactly once (b's salt is a
    # function of doc_b). s multiplies only the INPUT vector shuffle
    # (s * n rows), which is orders below the pair-verify output the
    # join must materialize anyway.
    _SALT = 16
    a = tagged.select(
        F.col(centroid_id_col),
        F.col(id_col).alias("doc_a"),
        F.col(vec_col).alias("_va"),
        F.explode(F.array(*[F.lit(i) for i in range(_SALT)])).alias("_salt"),
    )
    b = tagged.select(
        F.col(centroid_id_col),
        F.col(id_col).alias("doc_b"),
        F.col(vec_col).alias("_vb"),
        F.pmod(F.col(id_col), F.lit(_SALT)).cast("int").alias("_salt"),
    )
    pairs = (
        a.repartition(
            embeddings.sparkSession.sparkContext.defaultParallelism,
            centroid_id_col,
            "_salt",
        )
        .join(b, [centroid_id_col, "_salt"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .withColumn("_cos", cosine_similarity(F.col("_va"), F.col("_vb")))
        .filter(F.col("_cos") >= threshold)
        .select("doc_a", "doc_b")
    )
    return dedup_keep_canonical(embeddings, pairs, id_col=id_col)


def mmr_rerank(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 3,
    lam: float = 0.7,
    shortlist: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein,
    SIGIR'98): greedily pick items maximizing
    ``lam * rel(d) - (1 - lam) * max_{s in selected} cos(d, s)`` —
    relevant to the query but dissimilar to what's already picked, the
    standard diversity pass on retrieval results.

    Scale shape: the greedy is inherently sequential, so it runs on a
    SHORTLIST — stage 1 is the distributed exact cosine top-``shortlist``
    (TakeOrdered, corpus-scale), stage 2 reranks the shortlist *
    d floats driver-side (bounded by construction, like the PQ lookup
    tables and PCA eigendecomposition). Relevance uses the same
    6dp-rounded cosine as ``cosine_topk`` so the shortlist cut is
    engine-portable; ties at every greedy step break on the id.

    Returns (id, rank, relevance, mmr_score) with rank 1..k; rank 1's
    mmr_score is its relevance (nothing selected yet)."""
    short = cosine_topk(embeddings, query_vec, k=shortlist, id_col=id_col, vec_col=vec_col)
    rows = short.join(embeddings.select(id_col, vec_col), id_col).collect()
    rel = {r[id_col]: float(r["cosine"]) for r in rows}
    vecs = {r[id_col]: np.asarray(r[vec_col], dtype="float64") for r in rows}

    def _seq_dot(a, b) -> float:
        # SEQUENTIAL float64 accumulation, not BLAS: np.dot's pairwise/
        # vectorized order can differ from a SQL engine's left-to-right
        # list_dot_product in the last ulp, and the greedy argmax below
        # must agree with the unrolled oracle on the near-tie packs MMR
        # exists for
        acc = 0.0
        for x, y in zip(a, b):
            acc += x * y
        return float(acc)  # plain float: np.float64 breaks createDataFrame

    norms = {i: float(np.sqrt(_seq_dot(v, v))) for i, v in vecs.items()}

    def cos(a: int, b: int) -> float:
        den = norms[a] * norms[b]
        return _seq_dot(vecs[a], vecs[b]) / den if den else 0.0

    selected: list[int] = []
    out = []
    remaining = set(rel)
    for rank in range(1, min(k, len(rel)) + 1):
        best_id, best_score = None, None
        for i in sorted(remaining):  # ascending id = deterministic tiebreak
            if not selected:
                score = rel[i]
            else:
                score = lam * rel[i] - (1 - lam) * max(cos(i, s) for s in selected)
            # selection compares at 9dp (both engines round before the
            # argmax) so residual last-ulp noise can't flip a pick
            score = round(score, 9)
            if best_score is None or score > best_score:
                best_id, best_score = i, score
        selected.append(best_id)
        remaining.remove(best_id)
        out.append((best_id, rank, round(rel[best_id], 6), round(best_score, 6)))

    return embeddings.sparkSession.createDataFrame(
        out, f"{id_col} long, rank long, relevance double, mmr_score double"
    )


def rrf_fuse(
    rankings: list[DataFrame],
    id_col: str = "doc_id",
    k: int = 60,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al. 2009) of N retrieval
    shortlists: ``rrf(d) = sum_i 1 / (k + rank_i(d))``, items absent from
    a list contribute 0 from it.

    Each input DataFrame must carry (id_col, rank) where rank is 1-based
    within that shortlist. Shortlists are bounded (top-N retrieval
    results), so the full-outer merge is shortlist-sized — at scale this
    runs AFTER the per-modality top-k operators (TakeOrdered / ANN probe)
    have already cut each list to k rows; fusing full corpora through
    this would be a design error, not a capability.

    Returns (id_col, rank_0..rank_{n-1}, rrf); ranks stay NULL where the
    item missed that shortlist.
    """
    out = None
    for i, r in enumerate(rankings):
        r = r.select(
            F.col(id_col), F.col("rank").cast("bigint").alias(f"rank_{i}")
        )
        out = r if out is None else out.join(r, id_col, "full_outer")
    score = None
    for i in range(len(rankings)):
        c = F.coalesce(
            F.lit(1.0) / (F.lit(float(k)) + F.col(f"rank_{i}")), F.lit(0.0)
        )
        score = c if score is None else score + c
    return out.select(
        id_col,
        *[F.col(f"rank_{i}") for i in range(len(rankings))],
        score.alias("rrf"),
    )
