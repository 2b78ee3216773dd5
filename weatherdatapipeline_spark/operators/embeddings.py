"""Embedding-column utilities (SURVEY.md §2.11 adjuncts): L2
normalization, int8 quantization, PCA, product quantization and k-means
over ``array<float>`` columns.

Normalization and quantization are map-only (zero shuffles) JVM
``transform``/``aggregate`` expressions: an Arrow pandas UDF benchmarked
a tie with them at 64 dims (SCALE.md "HOF vs Arrow"; output-array
construction dominates both), so they stay UDF-free. Quantization is the
standard storage/serving trade for large embedding corpora — 4x smaller
vectors (int8 vs float32) at ~1% cosine error — and per-vector symmetric
scaling (``scale = max|x| / 127``) keeps dequantization a one-multiply map.

k-means assignment is the one Arrow UDF here (``_sq_dists_arrow_udf``):
all k centroid distances in one batch pass, folded in the same float64
order as the HOF reference ``_sq_dist_to_literal``, so the two agree
bitwise.

Normalization matters upstream of every cosine path in
``operators/similarity.py``: unit-norm vectors turn cosine into a plain
dot product, which halves the per-pair arithmetic of brute-force top-k
and makes LSH hyperplane signs exact rather than norm-biased.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, DoubleType

from .litfast import darray, darray2

INT8_MAX = 127

def _sq_dists_arrow_udf(centroids: list[list[float]]):
    """Factory: pandas UDF computing squared L2 distance from a vector
    column to EVERY literal centroid at once (one Arrow batch pass,
    k*d multiply-adds vectorized over rows).

    Accumulates per-dimension SEQUENTIALLY (``acc = acc + t*t`` over
    dims 0..d-1) so the float64 op sequence is bit-identical to the
    interpreted HOF left fold in ``_sq_dist_to_literal`` — the oracle
    hash cannot tell the two apart (asserted in
    tests/test_embeddings.py). Measured ~3x faster than the fold at
    k=8, d=64 (the HOF lambda evaluates interpreted per element;
    this path is one numpy op per dim per centroid)."""
    C = [np.asarray(c, dtype=np.float64) for c in centroids]

    @pandas_udf(ArrayType(DoubleType()))
    def dists(v: pd.Series) -> pd.Series:
        X = np.stack(v.to_numpy()).astype(np.float64)
        n, d = X.shape
        out = np.empty((n, len(C)), dtype=np.float64)
        for j, c in enumerate(C):
            acc = np.zeros(n, dtype=np.float64)
            for i in range(d):
                t = X[:, i] - c[i]
                acc = acc + t * t
            out[:, j] = acc
        return pd.Series(list(out))

    return dists


def l2_norm(vec: Column) -> Column:
    """Euclidean norm of an array column, folded in DOUBLE."""
    return F.sqrt(
        F.aggregate(
            F.transform(vec, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def l2_normalize(vec: Column, eps: float = 1e-12) -> Column:
    """Unit-normalize an array column; an all-zero vector stays zero
    (norm clamped by ``eps``) rather than dividing by zero to NULL/NaN."""
    if isinstance(vec, str):
        vec = F.col(vec)
    n = F.greatest(l2_norm(vec), F.lit(float(eps)))
    return F.transform(vec, lambda x: x.cast("double") / n)


def quantization_scale(vec: Column) -> Column:
    """Per-vector symmetric int8 scale: ``max|x| / 127`` (0.0 for an
    all-zero vector, which then quantizes to all zeros).

    ``max|x|`` is ``greatest(array_max(v), -array_min(v))`` rather than
    ``array_max(transform(abs))``: array_max/array_min are plain collection
    functions inside whole-stage codegen, while a transform lambda drops
    to interpreted per-element eval. float→double cast is exact and
    monotone, so casting AFTER the float max is bit-identical to maxing
    the casts (what the DuckDB oracle computes)."""
    return (
        F.greatest(F.array_max(vec), -F.array_min(vec)).cast("double")
        / F.lit(float(INT8_MAX))
    )


def quantize_int8(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_vec_col: str = "qvec",
    scale_col: str = "scale",
) -> DataFrame:
    """Symmetric per-vector int8 quantization: adds ``scale`` (double)
    and ``qvec`` (array<int> in [-127, 127]); original float vector is
    dropped. Map-only — no shuffle, no Python.

    Rounding is ``round`` half-up via SQL ROUND to keep the oracle
    (DuckDB ``round``) bit-identical. For FINITE inputs ``|x| <= max|x| =
    127*scale <= 127*safe`` already bounds every quotient to
    [-127, 127]; the least/greatest clamp exists for non-finite
    components — a single NaN or +/-Inf makes the quotient NaN, and
    under Spark's default ANSI mode an unclamped ``NaN.cast(int)`` is a
    job-killing CAST_OVERFLOW, while the clamp degrades it to 127 (NaN
    compares greatest, so greatest(NaN,-127)=NaN, least(NaN,127)=127) —
    one corrupt vector must not abort a corpus-scale run.
    """
    # Two projections so the array_max(transform(abs)) pass runs ONCE per
    # row: referencing `scale` both as an output column and inside the
    # quantize lambda within a single select would evaluate it twice, and
    # CollapseProject leaves non-cheap expressions in their own projection.
    # scale is emitted UNROUNDED: rounding belongs to display/oracle
    # layers — a tiny-magnitude vector (max|x| < ~6e-8) has scale < 5e-10,
    # which decimal rounding would zero, silently breaking dequantization
    with_scale = embeddings.select(
        F.col(id_col),
        quantization_scale(F.col(vec_col)).alias(scale_col),
        F.col(vec_col),
    )
    safe = F.greatest(F.col(scale_col), F.lit(1e-30))  # all-zero vector guard
    q = F.transform(
        F.col(vec_col),
        lambda x: F.least(
            F.greatest(F.round(x.cast("double") / safe), F.lit(-127.0)),
            F.lit(127.0),
        ).cast("int"),
    )
    return with_scale.select(
        F.col(id_col),
        F.col(scale_col),
        q.alias(out_vec_col),
    )


def quantize_int8_rows(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exploded-row twin of :func:`quantize_int8`: ``(id, scale, pos, qv)``
    with one row per vector component — the shape a component-level export,
    audit, or columnar re-pack consumes (and what the DuckDB oracle's
    ``unnest`` computes).

    Going through posexplode FIRST makes the divide/round/cast per
    component a plain scalar projection inside whole-stage codegen — no
    higher-order lambda anywhere in the plan (quantization_scale is
    array_max/array_min, also codegen). Still map-only: the Generate
    evaluates ``scale`` once per input row and replicates it, no shuffle.
    Measured 2.5x faster than posexploding quantize_int8's array output
    at sf0.1 (SCALE.md "int8 quantize paths"). Use quantize_int8 when the
    packed array itself is the product (4x storage compression)."""
    base = embeddings.select(
        F.col(id_col),
        quantization_scale(F.col(vec_col)).alias("scale"),
        F.posexplode(F.col(vec_col)).alias("pos", "_x"),
    )
    safe = F.greatest(F.col("scale"), F.lit(1e-30))  # all-zero vector guard
    # least/greatest clamp: NaN/Inf tolerance under ANSI (see quantize_int8)
    return base.select(
        F.col(id_col),
        F.col("scale"),
        F.col("pos"),
        F.least(
            F.greatest(F.round(F.col("_x").cast("double") / safe), F.lit(-127.0)),
            F.lit(127.0),
        )
        .cast("int")
        .alias("qv"),
    )


def dequantize_int8(
    quantized: DataFrame,
    vec_col: str = "qvec",
    scale_col: str = "scale",
    out_col: str = "embedding",
) -> DataFrame:
    """Inverse map: ``x ≈ q * scale`` (double array). Reconstruction
    error per component is bounded by ``scale / 2``."""
    return quantized.withColumn(
        out_col,
        F.transform(F.col(vec_col), lambda q: q.cast("double") * F.col(scale_col)),
    )


def covariance_pairs(
    embeddings: DataFrame,
    vec_col: str = "embedding",
    round_digits: int | None = 6,
) -> DataFrame:
    """Population covariance of an embedding column as (i, j, cov) upper-
    triangle rows — the input to PCA / whitening / drift monitoring.

    Scale design (the classic partial-Gram reduction): each Arrow batch
    computes its LOCAL Gram matrix X^T X, per-dim sums, and row count in
    one BLAS matmul, emitting d*(d+1)/2 rows PER BATCH (not per input
    row) — a ~10^4x shrink before the only shuffle, a (i, j) sum
    aggregate whose cardinality is d^2, independent of corpus size.
    cov = Gram/n - mu_i*mu_j, rounded to ``round_digits`` so float
    association noise (batch boundaries are partition-dependent) cannot
    flip the differential hash; pass ``round_digits=None`` for the exact
    values (the PCA path does — its eigenbasis should not inherit an
    oracle-display rounding).
    """

    def _gram(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            X = np.stack(pdf[vec_col].to_numpy()).astype("float64")
            n, d = X.shape
            G = X.T @ X
            s = X.sum(axis=0)
            iu, ju = np.triu_indices(d)
            yield pd.DataFrame(
                {
                    "i": iu.astype("int64"),
                    "j": ju.astype("int64"),
                    "sxy": G[iu, ju],
                    "si": s[iu],
                    "sj": s[ju],
                    "n": np.full(len(iu), n, dtype="int64"),
                }
            )

    parts = embeddings.select(vec_col).mapInPandas(
        _gram, schema="i long, j long, sxy double, si double, sj double, n long"
    )
    agg = parts.groupBy("i", "j").agg(
        F.sum("sxy").alias("sxy"),
        F.sum("si").alias("si"),
        F.sum("sj").alias("sj"),
        F.sum("n").alias("n"),
    )
    cov = F.col("sxy") / F.col("n") - (F.col("si") / F.col("n")) * (
        F.col("sj") / F.col("n")
    )
    if round_digits is not None:
        # + 0.0 normalizes IEEE signed zero: a tiny negative covariance
        # rounds to -0.0, whose hash text differs from 0.0 (r9 strict
        # sweep caught exactly this cell drift vs DuckDB)
        cov = F.round(cov, round_digits) + F.lit(0.0)
    return agg.select("i", "j", cov.alias("cov"))


def pca_projection_matrix(embeddings: DataFrame, n_components: int, vec_col: str = "embedding"):
    """Top-``n_components`` PCA basis from the distributed covariance:
    the d x d covariance (corpus-size-independent, via
    ``covariance_pairs``) is collected — d^2 scalars, NOT data — and
    eigendecomposed on the driver with numpy. Sign is fixed per
    component (largest-|coeff| entry made positive) so results are
    deterministic across BLAS builds. Returns (components, eigvals):
    components is (n_components, d) row-major.
    """
    rows = covariance_pairs(embeddings, vec_col, round_digits=None).collect()
    if not rows:
        raise ValueError("pca_projection_matrix: embeddings table is empty")
    d = max(r["j"] for r in rows) + 1
    C = np.zeros((d, d))
    for r in rows:
        C[r["i"], r["j"]] = C[r["j"], r["i"]] = r["cov"]
    vals, vecs = np.linalg.eigh(C)
    order = np.argsort(vals)[::-1][:n_components]
    comps = vecs[:, order].T
    for c in comps:
        if c[np.argmax(np.abs(c))] < 0:
            c *= -1
    return comps, vals[order]


def pca_project(
    embeddings: DataFrame,
    components,
    vec_col: str = "embedding",
    out_col: str = "pca",
) -> DataFrame:
    """Map-only projection onto a fixed (k, d) component matrix: each
    output coordinate is one JVM dot product (zip_with + aggregate) over
    the embedding — no Python in the per-row path, no shuffle. The
    matrix rides along as array literals (k*d doubles — broadcast-sized
    by construction)."""
    rows = []
    for comp in components:
        lit = darray(comp)
        rows.append(
            F.aggregate(
                F.zip_with(F.col(vec_col), lit, lambda a, b: a * b),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        )
    return embeddings.withColumn(out_col, F.array(*rows))


def pca_power_scores(
    embeddings: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    squarings: int = 9,
    vec_round: int = 7,
    out_round: int = 6,
) -> DataFrame:
    """Top-principal-component score per vector via RELATIONAL power
    iteration with matrix squaring — the fully engine-portable PCA path
    that complements ``pca_projection_matrix`` (driver eigh): every
    step is a DataFrame op, so a SQL engine can replay the identical
    trajectory and differential-check the result (queries.py::
    pca_top_component_scores and its generated DuckDB oracle).

    Squaring, not plain matvec iteration: the synthetic embedding
    spectrum is nearly flat (lambda2/lambda1 ~ 0.98), so naive power
    iteration needs ~400 steps; squaring the (rescaled) matrix s times
    applies C^(2^s) in s relational steps — s=9 is C^512, enough for
    |corr| > 0.999 against the eigh basis (pytest-pinned). Each level
    is rescaled by its max |cell| (power iteration is scale-free) to
    keep magnitudes O(1) under rounding.

    Scale design: the iteration state is the d^2-cell matrix
    (corpus-size-independent — covariance_pairs reduces the corpus ONCE
    via the partial-Gram mapInPandas); each squaring is a d^3-work
    self-join-agg on d^2 rows, localCheckpointed to stop the 2^s
    self-referencing plan blowup; the final scoring pass is one
    posexplode + broadcast join + id-keyed sum — no per-row Python,
    nothing quadratic in the corpus.

    Portability contract: covariance cells round to 6dp, every squared
    matrix and the final vector to ``vec_round`` dp, so cross-engine
    float association noise (~1e-12) cannot fork the trajectory; the
    oracle applies the same rounding at the same points.

    r15 (guide §1.2; the r14 pacf precedent): the squaring pyramid runs
    ON THE DRIVER from the collected d^2 covariance cells. The
    relational loop spent its time on ~40 tiny AQE stages + 9 rounds of
    checkpoint bookkeeping over a 4096-row table; the distributed parts
    that actually touch the corpus (the partial-Gram reduction and the
    final projection scan) are unchanged. The trajectory-rounding
    contract above is exactly what makes this safe: every level rounds
    to ``vec_round`` dp with Spark's HALF_UP-on-shortest-decimal
    semantics (replicated below via Decimal(repr(x))), so the driver's
    float64 matmul lands on the identical rounded matrix that the
    relational join-agg (and the DuckDB oracle) land on — strict
    oracle-checked at every SF."""
    from decimal import ROUND_HALF_UP, Decimal

    def _r(x: float, nd: int) -> float:
        # Spark round(double, nd): BigDecimal.valueOf (shortest decimal
        # repr) then setScale(nd, HALF_UP) — bit-identical replica
        return float(Decimal(repr(float(x))).quantize(
            Decimal(1).scaleb(-nd), rounding=ROUND_HALF_UP
        ))

    # d(d+1)/2 upper-triangle cells: a bounded driver closure of the same
    # class as the centroid/PQ-codebook LUTs (d^2 is corpus-independent)
    tri = covariance_pairs(embeddings, vec_col, round_digits=6).collect()
    d = 1 + max((int(r["j"]) for r in tri), default=-1)  # 0: no vectors
    C = np.zeros((d, d), dtype="float64")
    for r in tri:
        C[int(r["i"]), int(r["j"])] = r["cov"]
        C[int(r["j"]), int(r["i"])] = r["cov"]
    if not C.any():
        # no vectors, or all of them equal: no top direction, and every
        # centred vector scores 0 on any direction
        val = [0.0] * d
    else:
        for _ in range(squarings):
            P = C @ C
            mx = float(np.max(np.abs(P)))
            C = np.vectorize(lambda t: _r(t / mx, vec_round))(P)
        wv = [_r(s, vec_round) for s in C.sum(axis=1)]
        if not any(wv):
            # the all-ones start is orthogonal to the top direction (e.g.
            # vectors of the form [t, -t]). C^(2^s) is then ~rank one, so
            # its largest column is that direction; the oracle twin
            # replays only the all-ones start
            wv = [_r(s, vec_round) for s in C[:, int(np.argmax(np.linalg.norm(C, axis=0)))]]
        nrm = float(np.sqrt(np.sum(np.array(wv) ** 2)))
        val = [_r(x / nrm, vec_round) for x in wv]
    v = embeddings.sparkSession.createDataFrame(
        [(i, val[i]) for i in range(d)], "i long, val double"
    )
    e = embeddings.select(
        id_col, F.posexplode(vec_col).alias("i", "x")
    ).withColumn("x", F.col("x").cast("double"))
    mu = e.groupBy("i").agg(F.avg("x").alias("mu"))
    center = mu.join(v, "i").agg(F.sum(F.col("mu") * F.col("val")).alias("c"))
    return (
        e.join(F.broadcast(v), "i")
        .groupBy(id_col)
        .agg(F.sum(F.col("x") * F.col("val")).alias("_dot"))
        .crossJoin(F.broadcast(center))
        .select(
            id_col,
            F.round(F.col("_dot") - F.col("c"), out_round).alias("pc1_score"),
        )
    )


def _pq_validate(codebooks) -> tuple[int, int, int]:
    """Validate codebook shape consistency; returns (m, k, sub_d).
    Ragged codebooks would silently mis-slice — fail loudly instead."""
    m = len(codebooks)
    if m == 0:
        raise ValueError("codebooks must be non-empty")
    k = len(codebooks[0])
    sub_d = len(codebooks[0][0])
    for j, cb in enumerate(codebooks):
        if len(cb) != k or any(len(e) != sub_d for e in cb):
            raise ValueError(
                f"ragged codebooks: subspace {j} is not {k} x {sub_d}"
            )
    return m, k, sub_d


def _pq_code_exprs(codebooks, vec_col: str):
    """One argmin-code Column per subspace: zip_with squared-diff folds
    over the codebook entries as array literals, array_position of the
    min (1-based, FIRST match -> ties to the lowest code, identically in
    the SQL oracle). Shared by encode and serve paths.

    r14 perf (guide §1.2/§7.2): the distance array per subspace is ONE
    ``transform`` over the k-entry codebook as a nested array literal
    instead of k separate ``aggregate(zip_with(...))`` subtrees — the
    old shape carried m·k (=128) higher-order-function nodes through
    analysis/optimization and cost ~9 s of pure DRIVER time per run at
    2000 rows (stage wall was 3.5 s of a 12.5 s query). Per-element
    float ops and their order are unchanged ((a-b)·(a-b) folds summed
    left-to-right from 0.0), so codes are bit-identical."""
    m, k, sub_d = _pq_validate(codebooks)
    per_sub = []
    for j, cb in enumerate(codebooks):
        sub = F.slice(F.col(vec_col), j * sub_d + 1, sub_d)
        cb_lit = darray2(cb)
        dists = F.transform(
            cb_lit,
            lambda entry: F.aggregate(
                F.zip_with(sub, entry, lambda a, b: (a - b) * (a - b)),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
        )
        per_sub.append((F.array_position(dists, F.array_min(dists)) - 1).cast("long"))
    return per_sub


def pq_encode(
    embeddings: DataFrame,
    codebooks,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Product-quantization encoding (Jegou, Douze, Schmid, "Product
    Quantization for Nearest Neighbor Search", TPAMI 2011): split each
    d-dim vector into m subvectors and store, per subspace, the index of
    the nearest codebook entry (L2, ties to the lowest code) — d floats
    become m small ints, the memory layout every billion-vector ANN
    serving system uses.

    ``codebooks`` is an (m, k, d/m) nested list riding along as array
    LITERALS — k*d floats, broadcast-sized by construction. Encoding is
    a pure per-row expression (zip_with squared-diff folds + array_min /
    array_position), zero shuffle. Returns (id, subspace, code) rows;
    ``pq_encode_packed`` emits the serving layout instead.
    """
    per_sub = _pq_code_exprs(codebooks, vec_col)
    return embeddings.select(
        F.col(id_col),
        F.posexplode(F.array(*per_sub)).alias("subspace", "code"),
    ).select(F.col(id_col), F.col("subspace").cast("long").alias("subspace"), "code")


def pq_encode_packed(
    embeddings: DataFrame,
    codebooks,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_col: str = "pq_codes",
) -> DataFrame:
    """(id, pq_codes array<long>) — the packed serving layout: m small
    ints instead of d floats. This is what gets WRITTEN once at index
    time; ``pq_adc_topk`` serves every query from it without touching
    the original vectors. Map-only, zero shuffle."""
    per_sub = _pq_code_exprs(codebooks, vec_col)
    return embeddings.select(F.col(id_col), F.array(*per_sub).alias(out_col))


def pq_codebooks_from_seed_rows(embeddings: DataFrame, m: int = 8, k: int = 16,
                                id_col: str = "vec_id", vec_col: str = "embedding"):
    """Deterministic PQ codebooks: subvectors of the first ``k`` ids —
    the seed-row convention this repo uses wherever a trained artifact
    (KMeans here) would make the oracle uncheckable. Collects k vectors
    (k*d floats, not data-scale). A trained path would swap in
    per-subspace KMeans centers with the identical encode/serve code.

    Fails loudly on the silent-corruption cases: d not divisible by m
    (trailing dims would be dropped from every distance) and fewer than
    k seed rows (codes would not span [0, k))."""
    rows = (
        embeddings.filter(F.col(id_col) < k)
        .select(id_col, vec_col)
        .orderBy(id_col)
        .collect()
    )
    if len(rows) != k:
        raise ValueError(
            f"expected {k} seed rows with {id_col} < {k}, found {len(rows)}"
        )
    d = len(rows[0][vec_col])
    if d % m != 0:
        raise ValueError(f"dim {d} not divisible by m={m} subspaces")
    sub_d = d // m
    return [
        [[float(x) for x in r[vec_col][j * sub_d : (j + 1) * sub_d]] for r in rows]
        for j in range(m)
    ]


def pq_adc_topk(
    codes: DataFrame,
    codebooks,
    query_vec,
    topk: int = 10,
    id_col: str = "vec_id",
    codes_col: str = "pq_codes",
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over STORED PQ codes
    (``pq_encode_packed`` output): the query stays exact; per subspace a
    k-entry lookup table of squared distances to each codebook entry is
    computed once (driver-side numpy, m*k floats) and each row costs m
    literal-array lookups — the point of PQ serving is that NO float
    vector math and no original vectors are touched per row. TakeOrdered
    gives the global top-k without a sort. Returns (id, adc_distance)."""
    q = np.asarray(query_vec, dtype="float64")
    m, k, sub_d = _pq_validate(codebooks)
    if q.shape[0] != m * sub_d:
        raise ValueError(f"query dim {q.shape[0]} != m*sub_d = {m * sub_d}")
    dist = None
    for j, cb in enumerate(codebooks):
        qs = q[j * sub_d : (j + 1) * sub_d]
        lut = [float(((np.asarray(c) - qs) ** 2).sum()) for c in cb]
        term = F.element_at(
            darray(lut),
            (F.col(codes_col)[j] + 1).cast("int"),
        )
        dist = term if dist is None else dist + term
    # stale-artifact guard: codes written under a different m would make
    # codes[j] NULL (out-of-range getItem) -> NULL distances that rank
    # FIRST under NULLS FIRST; fail loudly per row instead
    width_ok = F.assert_true(
        F.size(F.col(codes_col)) == F.lit(m),
        F.lit(f"pq_codes width != m={m}: codes were written under different codebooks"),
    )
    scored = codes.select(
        F.col(id_col), F.round(dist, 6).alias("adc_distance"), width_ok.alias("_chk")
    ).drop("_chk")
    return scored.orderBy("adc_distance", id_col).limit(topk)


def _sq_dist_to_literal(vec_col: str, centroid: list[float]):
    """Squared L2 distance from an array column to a literal centroid,
    summed in DIMENSION ORDER (a left fold, matching the oracle's
    position-ordered sum so both engines run the identical IEEE
    addition sequence)."""
    lit = darray(centroid)
    diffs = F.zip_with(
        F.col(vec_col), lit, lambda a, b: (a.cast("double") - b) * (a.cast("double") - b)
    )
    return F.aggregate(diffs, F.lit(0.0), lambda acc, x: acc + x)


def kmeans_lloyd(
    embeddings: DataFrame,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    return_dists: bool = False,
) -> DataFrame:
    """Distributed Lloyd k-means with the repo's deterministic seed-row
    init (centroids = the k lowest ids), so every iteration — not just
    the API — is oracle-recomputable in SQL.

    Per iteration, the 100 TB shape Spark's own MLlib KMeans uses:
    - ASSIGN is map-only: the k centroids ride along as literal arrays
      (k*d scalars), each row computes k fold-summed squared distances
      and takes `array_position(dists, array_min(dists))` — no join, no
      shuffle, no UDF;
    - UPDATE is one posexplode + one (cluster, dim) aggregate — k*d
      output cells regardless of corpus size, map-side combined — then a
      k*d-scalar collect to the driver for the next round's literals
      (bounded small state, the same contract as pca_projection_matrix).
    A cluster that loses all members keeps its previous centroid
    (deterministic; no RNG re-seeding).

    Rows with a null vector or any non-finite component are EXCLUDED up
    front (same hardening as quantize_int8's non-finite clamp): a single
    NaN component would otherwise poison its cluster's mean into
    all-NaN in one update, silently scattering every legitimate member,
    and a null vector would null its cluster id and crash the driver
    merge. Excluded rows simply don't appear in the output — callers
    wanting them must pre-impute.

    Returns the final assignment (id, cluster, sq_dist)."""
    out, _ = _lloyd_state(embeddings, k, iters, id_col, vec_col)
    if return_dists:
        # full k-distance array per row (silhouette-style readouts need
        # the runner-up centroid distance, not just the argmin)
        return out.select(id_col, "cluster", "sq_dist", "dists")
    return out.select(id_col, "cluster", "sq_dist")


def _lloyd_state(
    embeddings: DataFrame,
    k: int,
    iters: int,
    id_col: str,
    vec_col: str,
) -> tuple[DataFrame, list[list[float]]]:
    """Core Lloyd recurrence: returns (full assignment frame incl. the
    k-distance array, final centroid list) — the single implementation
    behind kmeans_lloyd and kmeans_lloyd_centroids."""
    finite = F.forall(
        F.col(vec_col),
        lambda x: x.isNotNull() & ~F.isnan(x.cast("double")),
    )
    embeddings = embeddings.filter(F.col(vec_col).isNotNull() & finite)
    seed_rows = (
        embeddings.filter(F.col(id_col) < k)
        .select(id_col, vec_col)
        .orderBy(id_col)
        .collect()
    )
    if len(seed_rows) != k:
        raise ValueError(f"expected {k} seed rows with {id_col} < {k}, found {len(seed_rows)}")
    centroids = [[float(x) for x in r[vec_col]] for r in seed_rows]

    def assigned(cents) -> DataFrame:
        dists = _sq_dists_arrow_udf(cents)(F.col(vec_col))
        staged = embeddings.select(id_col, vec_col, dists.alias("_dists"))
        return staged.select(
            F.col(id_col),
            F.col(vec_col),
            (F.array_position("_dists", F.array_min("_dists")) - 1)
            .cast("bigint")
            .alias("cluster"),
            F.array_min("_dists").alias("sq_dist"),
            F.col("_dists").alias("dists"),
        )

    for _ in range(iters):
        means = (
            assigned(centroids)
            .select("cluster", F.posexplode(vec_col).alias("dim", "x"))
            .groupBy("cluster", "dim")
            .agg(F.avg(F.col("x").cast("double")).alias("m"))
            .collect()
        )
        new_c = [list(c) for c in centroids]  # empty cluster keeps its centroid
        for r in means:
            new_c[r["cluster"]][r["dim"]] = r["m"]
        centroids = new_c

    out = assigned(centroids)
    return out, centroids


def kmeans_lloyd_centroids(
    spark,
    embeddings: DataFrame,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, DataFrame]:
    """kmeans_lloyd plus the FINAL centroid coordinates as a (cluster,
    dim, val) DataFrame — cluster-quality indices (Davies-Bouldin,
    Calinski-Harabasz) need the centroid geometry, not just the
    assignments. Shares the single _lloyd_state recurrence with
    kmeans_lloyd (no replay); the k*d centroid scalars ship back as a
    small DataFrame (driver closure bounded by k*d, the pca/centroid
    contract).

    Returns (assignment_df(id, cluster, sq_dist), centroid_df(cluster,
    dim, val)) where centroid_df holds the centroids USED for the final
    assignment (after `iters` updates), including those of empty
    clusters (seed carry-over)."""
    out, centroids = _lloyd_state(embeddings, k, iters, id_col, vec_col)
    rows = [
        (ci, di, float(v))
        for ci, c in enumerate(centroids)
        for di, v in enumerate(c)
    ]
    cent_df = spark.createDataFrame(rows, "cluster long, dim long, val double")
    return out.select(id_col, "cluster", "sq_dist"), cent_df
