"""operators/embeddings.py: L2 normalization and int8 quantization,
verified against numpy on a deterministic fixture."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from weatherdatapipeline_spark.operators.embeddings import (
    dequantize_int8,
    l2_norm,
    l2_normalize,
    quantize_int8,
    quantize_int8_rows,
)


@pytest.fixture(scope="module")
def vecs(spark):
    rs = np.random.RandomState(7)
    rows = [(i, [float(x) for x in rs.randn(16) * (i + 1)]) for i in range(20)]
    rows.append((99, [0.0] * 16))  # all-zero vector edge case
    return spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<FLOAT>"), rows


def test_l2_normalize_unit_norm(spark, vecs):
    df, rows = vecs
    out = df.select(
        "vec_id", F.round(l2_norm(l2_normalize(F.col("embedding"))), 9).alias("n")
    ).collect()
    norms = {r["vec_id"]: r["n"] for r in out}
    assert all(n == 1.0 for v, n in norms.items() if v != 99)
    assert norms[99] == 0.0  # zero vector stays zero, no NaN


def test_l2_normalize_matches_numpy(spark, vecs):
    df, rows = vecs
    got = {
        r["vec_id"]: r["nv"]
        for r in df.select(
            "vec_id", l2_normalize(F.col("embedding")).alias("nv")
        ).collect()
    }
    for vid, vec in rows:
        if vid == 99:
            continue
        v = np.asarray(vec, dtype=np.float32).astype(np.float64)
        np.testing.assert_allclose(got[vid], v / np.linalg.norm(v), rtol=1e-9)


def test_quantize_int8_matches_numpy(spark, vecs):
    df, rows = vecs
    out = {r["vec_id"]: r for r in quantize_int8(df).collect()}
    for vid, vec in rows:
        v = np.asarray(vec, dtype=np.float32).astype(np.float64)
        scale = np.abs(v).max() / 127
        if vid == 99:
            assert out[vid]["scale"] == 0.0
            assert out[vid]["qvec"] == [0] * 16
            continue
        q = np.clip(np.round(v / scale), -127, 127).astype(int)
        assert out[vid]["qvec"] == q.tolist()
        assert abs(out[vid]["scale"] - scale) < 1e-9
        assert max(abs(x) for x in out[vid]["qvec"]) == 127  # symmetric peak


def test_quantize_roundtrip_error_bound(spark, vecs):
    df, rows = vecs
    back = {
        r["vec_id"]: (r["embedding"], r["scale"])
        for r in dequantize_int8(quantize_int8(df)).collect()
    }
    for vid, vec in rows:
        v = np.asarray(vec, dtype=np.float32).astype(np.float64)
        rec, scale = back[vid]
        # symmetric quantization error is at most scale/2 per component
        assert np.abs(np.asarray(rec) - v).max() <= scale / 2 + 1e-12


def test_quantize_rows_equals_exploded_array(spark, vecs):
    """The codegen exploded-row twin must agree component-for-component
    (and bitwise on scale) with posexplode of the array operator —
    including the all-zero vector edge case."""
    df, _ = vecs
    via_array = (
        quantize_int8(df)
        .select("vec_id", "scale", F.posexplode("qvec").alias("pos", "qv"))
        .collect()
    )
    via_rows = quantize_int8_rows(df).collect()
    assert sorted(map(tuple, via_rows), key=lambda t: (t[0], t[2])) == sorted(
        ((r["vec_id"], r["scale"], r["pos"], r["qv"]) for r in via_array),
        key=lambda t: (t[0], t[2]),
    )


def test_quantize_rows_is_map_only_and_codegen(spark, vecs):
    df, _ = vecs
    plan = quantize_int8_rows(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "lambdafunction" not in plan.lower()  # no interpreted HOF anywhere


def test_quantize_is_map_only(spark, vecs):
    df, _ = vecs
    plan = quantize_int8(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_arrow_and_hof_paths_bit_identical(spark):
    """The Arrow (pandas UDF) cosine and its HOF (JVM) reference must
    agree BITWISE — same float64 accumulation order."""
    import random

    from pyspark.sql import functions as F

    from weatherdatapipeline_spark.operators import similarity as S

    random.seed(7)
    rows = [
        (i, [random.uniform(-2, 2) for _ in range(17)]) for i in range(50)
    ]
    rows.append((51, [1e-9] * 17))  # tiny magnitudes
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = [float(i % 5 - 2) for i in range(17)]
    qc = F.array(*[F.lit(x) for x in q])

    def scored(cosine):
        return sorted(
            map(tuple, df.select("vec_id", cosine(F.col("embedding"), qc)).collect())
        )

    assert scored(S.cosine_similarity) == scored(S.cosine_similarity_hof)


def test_covariance_pairs_matches_numpy(spark, sf_dir):
    """Distributed partial-Gram covariance == numpy's population
    covariance on the real embeddings table, to 1e-6 (the emit
    rounding)."""
    import numpy as np
    from weatherdatapipeline_spark.operators.embeddings import covariance_pairs

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    got = {(r["i"], r["j"]): r["cov"] for r in covariance_pairs(emb).collect()}
    X = np.stack([r["embedding"] for r in emb.select("embedding").collect()]).astype(
        "float64"
    )
    C = np.cov(X, rowvar=False, bias=True)
    d = X.shape[1]
    assert len(got) == d * (d + 1) // 2
    for (i, j), v in got.items():
        assert abs(v - C[i, j]) < 2e-6, (i, j, v, C[i, j])


def test_pca_project_reduces_reconstruction_error(spark, sf_dir):
    """PCA basis from the distributed covariance: eigenvalues come back
    sorted-positive, and the Spark map-only projection equals the numpy
    matrix product comps @ x for every checked row."""
    import numpy as np
    from weatherdatapipeline_spark.operators.embeddings import (
        pca_project,
        pca_projection_matrix,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(500)
    comps, vals = pca_projection_matrix(emb, n_components=8)
    assert comps.shape[0] == 8 and vals[0] >= vals[-1] > 0
    out = pca_project(emb, comps).select("vec_id", "pca").collect()
    rows = emb.select("vec_id", "embedding").collect()
    X = {r["vec_id"]: np.array(r["embedding"], dtype="float64") for r in rows}
    for r in out[:50]:
        want = comps @ X[r["vec_id"]]
        np.testing.assert_allclose(np.array(r["pca"]), want, atol=1e-6)


def test_pca_power_scores_match_eigh_direction(spark, sf_dir):
    """The relational power-iteration PC1 scores are (anti)collinear
    with the driver-eigh PC1 projection: |corr| > 0.999 after 4
    iterations (sign is start-vector-dependent, magnitude is not)."""
    import numpy as np
    from weatherdatapipeline_spark.operators.embeddings import (
        pca_power_scores,
        pca_projection_matrix,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(500)
    comps, _ = pca_projection_matrix(emb, n_components=1)
    got = {r["vec_id"]: r["pc1_score"] for r in pca_power_scores(emb).collect()}
    rows = emb.select("vec_id", "embedding").collect()
    X = np.stack([np.array(r["embedding"], dtype="float64") for r in rows])
    want = (X - X.mean(axis=0)) @ comps[0]
    a = np.array([got[r["vec_id"]] for r in rows])
    corr = np.corrcoef(a, want)[0, 1]
    assert abs(corr) > 0.999, corr


def test_pca_power_scores_empty_input_is_empty_frame(spark):
    from weatherdatapipeline_spark.operators.embeddings import pca_power_scores

    emb = spark.createDataFrame([], "vec_id long, embedding array<float>")
    out = pca_power_scores(emb)
    assert out.columns == ["vec_id", "pc1_score"]
    assert out.collect() == []


def test_pca_power_scores_constant_vectors_score_zero(spark):
    """Equal vectors have zero covariance, so no top direction: every
    centred vector scores 0 instead of the squaring dividing by 0."""
    from weatherdatapipeline_spark.operators.embeddings import pca_power_scores

    emb = spark.createDataFrame(
        [(i, [1.5, -2.0, 0.25]) for i in range(6)], "vec_id long, embedding array<float>"
    )
    got = {r["vec_id"]: r["pc1_score"] for r in pca_power_scores(emb).collect()}
    assert got == {i: 0.0 for i in range(6)}


def test_pca_power_scores_start_orthogonal_to_top_direction(spark):
    """Vectors [t, -t] have top direction [1, -1]/sqrt(2), orthogonal to
    the all-ones start vector: the scores are still +-sqrt(2)(t - mean)
    instead of the normalisation dividing by 0."""
    import numpy as np
    from weatherdatapipeline_spark.operators.embeddings import pca_power_scores

    ts = [1.0, 2.0, 3.0, 4.0, 7.5]
    emb = spark.createDataFrame(
        [(i, [t, -t]) for i, t in enumerate(ts)], "vec_id long, embedding array<float>"
    )
    got = {r["vec_id"]: r["pc1_score"] for r in pca_power_scores(emb).collect()}
    a = np.array([got[i] for i in range(len(ts))])
    want = np.sqrt(2.0) * (np.array(ts) - np.mean(ts))
    sign = np.sign(a @ want)
    np.testing.assert_allclose(sign * a, want, atol=1e-5)


def test_pq_encode_matches_numpy(spark, sf_dir):
    """PQ encoding equals the numpy argmin per subspace, and a codebook
    seed vector encodes to its own index in every subspace."""
    import numpy as np
    from weatherdatapipeline_spark.operators.embeddings import (
        pq_codebooks_from_seed_rows,
        pq_encode,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(200)
    cbs = pq_codebooks_from_seed_rows(emb, m=8, k=16)
    got = {}
    for r in pq_encode(emb, cbs).collect():
        got.setdefault(r["vec_id"], {})[r["subspace"]] = r["code"]
    X = {
        r["vec_id"]: np.array(r["embedding"], dtype="float64")
        for r in emb.select("vec_id", "embedding").collect()
    }
    C = np.array(cbs)  # (m, k, sub_d)
    for vid, x in list(X.items())[:50]:
        for j in range(8):
            d = ((C[j] - x[j * 8 : (j + 1) * 8]) ** 2).sum(axis=1)
            assert got[vid][j] == int(np.argmin(d)), (vid, j)
    for seed in range(16):
        assert all(got[seed][j] == seed for j in range(8))


def test_pq_adc_topk_matches_numpy(spark, sf_dir):
    """ADC top-10 over STORED packed codes equals the numpy LUT-sum
    ranking for the vec_id=0 query, and the query vector itself ranks
    first (its codes are exactly its own quantization). The serve path
    never touches the original vectors — only (id, pq_codes)."""
    import numpy as np
    from weatherdatapipeline_spark.operators.embeddings import (
        pq_adc_topk,
        pq_codebooks_from_seed_rows,
        pq_encode_packed,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(200)
    cbs = pq_codebooks_from_seed_rows(emb, m=8, k=16)
    rows = emb.select("vec_id", "embedding").collect()
    X = {r["vec_id"]: np.array(r["embedding"], dtype="float64") for r in rows}
    q = X[0]
    codes = pq_encode_packed(emb, cbs).select("vec_id", "pq_codes")
    got = [
        (r["vec_id"], r["adc_distance"])
        for r in pq_adc_topk(codes, cbs, q, topk=10).collect()
    ]
    C = np.array(cbs)
    want = {}
    for vid, x in X.items():
        total = 0.0
        for j in range(8):
            d = ((C[j] - x[j * 8 : (j + 1) * 8]) ** 2).sum(axis=1)
            code = int(np.argmin(d))
            total += ((C[j][code] - q[j * 8 : (j + 1) * 8]) ** 2).sum()
        want[vid] = total
    order = sorted(X, key=lambda v: (round(want[v], 6), v))[:10]
    assert [v for v, _ in got] == order
    assert got[0][0] == 0  # the query's own quantization is distance-minimal
    for vid, dist in got:
        assert abs(dist - want[vid]) < 1e-5


def test_quantize_tolerates_nonfinite_components(spark):
    """A single NaN/Inf component must not abort the job under ANSI mode
    (CAST_OVERFLOW); the clamp degrades it to +/-127. One corrupt vector
    in a corpus-scale run is survivable, not fatal."""
    rows = [
        (0, [float("nan"), 1.0, -2.0]),
        (1, [float("inf"), 1.0, -2.0]),
        (2, [float("-inf"), 1.0, -2.0]),
        (3, [1.0, 2.0, -4.0]),  # sane row alongside
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    arr = {r["vec_id"]: r["qvec"] for r in quantize_int8(df).collect()}
    rows_out = quantize_int8_rows(df).collect()
    # NaN clamps high (NaN compares greatest); +/-Inf makes scale=Inf so
    # the quotient is NaN -> also 127. The contract is survival + range.
    assert arr[0][0] == 127
    assert all(-127 <= x <= 127 for v in arr.values() for x in v)
    assert arr[3] == [32, 64, -127]
    assert len(rows_out) == 12  # exploded twin survives the same inputs


def test_kmeans_lloyd_matches_numpy(spark):
    """Full numpy replication of 2 Lloyd iterations with seed-row init:
    identical assignments and squared distances (1e-6)."""
    from weatherdatapipeline_spark.operators.embeddings import kmeans_lloyd

    rng = np.random.default_rng(11)
    X = rng.normal(size=(60, 5)).astype("float32")
    df = spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(60)],
        "vec_id long, embedding array<float>",
    )
    got = {r["vec_id"]: (r["cluster"], r["sq_dist"])
           for r in kmeans_lloyd(df, k=4, iters=2).collect()}

    C = X[:4].astype("float64")
    Xd = X.astype("float64")
    for _ in range(2):
        d = ((Xd[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        a = d.argmin(axis=1)
        C = np.array([Xd[a == j].mean(axis=0) if (a == j).any() else C[j]
                      for j in range(4)])
    d = ((Xd[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
    a = d.argmin(axis=1)
    for i in range(60):
        assert got[i][0] == a[i]
        assert abs(got[i][1] - d[i, a[i]]) < 1e-6


def test_kmeans_lloyd_empty_cluster_keeps_centroid(spark):
    """A seed centroid that attracts no members must survive the update
    unchanged (no NaN centroid, no crash): seed 0 is a far outlier that
    still owns itself, seed 1 is orphaned by construction."""
    from weatherdatapipeline_spark.operators.embeddings import kmeans_lloyd

    rows = [
        (0, [100.0, 100.0]),   # isolated seed, owns only itself
        (1, [0.0, 0.0]),       # seed immediately orphaned: every near-origin
        (2, [0.1, 0.0]),       # point is closer to the (0.05, 0) mean after
        (3, [0.05, 0.02]),     # iter 1... still a valid deterministic run
        (4, [0.06, 0.01]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = kmeans_lloyd(df, k=2, iters=2).collect()
    assert len(out) == 5
    by_id = {r["vec_id"]: r["cluster"] for r in out}
    assert by_id[0] == 0
    assert all(np.isfinite(r["sq_dist"]) for r in out)


def test_kmeans_excludes_nonfinite_vectors(spark):
    """A NaN component or null vector must be excluded up front — never
    poison a centroid into all-NaN or crash the driver merge."""
    rows = [(i, [float(i), 0.0]) for i in range(4)] + [
        (10, [float("nan"), 1.0]),
        (11, None),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    from weatherdatapipeline_spark.operators.embeddings import kmeans_lloyd

    out = kmeans_lloyd(df, k=2, iters=2).collect()
    assert sorted(r["vec_id"] for r in out) == [0, 1, 2, 3]
    assert all(np.isfinite(r["sq_dist"]) for r in out)


def test_kmeans_arrow_assign_bit_identical_to_fold(spark):
    """kmeans_lloyd's Arrow assign path (_sq_dists_arrow_udf) must be
    BITWISE equal to the HOF fold (_sq_dist_to_literal) — sequential
    per-dim accumulation keeps the IEEE op sequence identical, which is
    what keeps the SQL oracle hash stable across paths."""
    import random

    from weatherdatapipeline_spark.operators import embeddings as E

    random.seed(11)
    rows = [(i, [random.uniform(-3, 3) for _ in range(19)]) for i in range(80)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = [r[1] for r in rows[:4]]

    fold = df.select(
        "vec_id",
        F.array(
            *[E._sq_dist_to_literal("embedding", c) for c in cents]
        ).alias("d"),
    )
    arrow = df.select(
        "vec_id", E._sq_dists_arrow_udf(cents)(F.col("embedding")).alias("d")
    )
    a = sorted((r["vec_id"], tuple(r["d"])) for r in arrow.collect())
    h = sorted((r["vec_id"], tuple(r["d"])) for r in fold.collect())
    assert a == h
