"""Similarity search: exact cosine top-k vs numpy; sign-LSH bucketing."""

from __future__ import annotations

import numpy as np
import pytest

from pyspark.sql import functions as F
from pyspark.sql import types as T

from engine.operators.similarity import brute_force_topk, cosine, lsh_topk, sign_code

SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
    ]
)


@pytest.fixture(scope="module")
def vectors(spark):
    rng = np.random.default_rng(7)
    mat = rng.normal(size=(40, 16)).astype(np.float32)
    mat[1] = mat[0] * 2.0           # vec 1 ∥ vec 0 → cosine exactly 1
    rows = [(i, [float(x) for x in mat[i]]) for i in range(len(mat))]
    return spark.createDataFrame(rows, SCHEMA), mat


def _np_topk(mat, probe, k):
    q = mat[probe].astype(np.float64)
    sims = []
    for i in range(len(mat)):
        if i == probe:
            continue
        v = mat[i].astype(np.float64)
        sims.append((i, float(v @ q / (np.linalg.norm(v) * np.linalg.norm(q)))))
    sims.sort(key=lambda t: (-t[1], t[0]))
    return sims[:k]


def test_brute_force_matches_numpy(vectors):
    df, mat = vectors
    probes = df.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("probe_id"), "embedding"
    )
    got = brute_force_topk(df, probes, k=5).collect()
    by_probe: dict[int, list] = {}
    for r in sorted(got, key=lambda r: (r["probe_id"], r["rank"])):
        by_probe.setdefault(r["probe_id"], []).append((r["vec_id"], r["cos"]))
    for p in range(3):
        expect = _np_topk(mat, p, 5)
        assert [i for i, _ in by_probe[p]] == [i for i, _ in expect]
        for (_, g), (_, e) in zip(by_probe[p], expect):
            assert g == pytest.approx(e, abs=1e-6)
    # parallel vector is rank 1 with cosine 1.0
    assert by_probe[0][0] == (1, 1.0)


def test_cosine_column_matches_numpy(vectors):
    df, mat = vectors
    a = df.filter("vec_id = 2").select(F.col("embedding").alias("a"))
    b = df.filter("vec_id = 3").select(F.col("embedding").alias("b"))
    got = a.crossJoin(b).select(cosine(F.col("a"), F.col("b")).alias("c")).first()["c"]
    va, vb = mat[2].astype(np.float64), mat[3].astype(np.float64)
    assert got == pytest.approx(
        float(va @ vb / (np.linalg.norm(va) * np.linalg.norm(vb))), abs=1e-12
    )


def test_lsh_bucket_candidates_share_code(vectors):
    df, mat = vectors
    probes = df.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("probe_id"), "embedding"
    )
    got = lsh_topk(df, probes, k=3).collect()
    codes = {
        r["vec_id"]: r["code"]
        for r in df.select("vec_id", sign_code(F.col("embedding")).alias("code")).collect()
    }
    for r in got:
        assert codes[r["vec_id"]] == codes[r["probe_id"]]
        assert r["vec_id"] != r["probe_id"]
    # recall ≤ brute force but every returned neighbor is exact-cosine-ranked
    # within its bucket: ranks are 1..k without gaps per probe
    from collections import Counter

    per_probe = Counter(r["probe_id"] for r in got)
    for p, n in per_probe.items():
        ranks = sorted(r["rank"] for r in got if r["probe_id"] == p)
        assert ranks == list(range(1, n + 1))


def test_banded_near_dups_recall_and_bucket_bound(spark):
    """The 100 TB blocking scheme: (a) finds planted near-dups even
    when a near-zero dim flips sign (union-of-bands recall); (b) on a
    corpus degenerate for the single-8-bit scheme (all vectors agree on
    the first 8 signs → ONE bucket → O(n²) self-join), the banded
    scheme's largest (band, code) bucket stays ~n/2^8 or smaller."""
    from engine.operators.similarity import (
        band_sign_codes,
        cosine_near_dups_banded,
        sign_code,
    )

    rng = np.random.default_rng(23)
    n, dim = 2000, 64
    mat = rng.normal(size=(n, dim)).astype(np.float32)
    mat[:, :8] = np.abs(mat[:, :8])  # degenerate: one 8-bit sign bucket
    # plant a near-dup of vec 0 with a sign flip INSIDE band 1
    # (dims 17-32): band 1 won't match, bands 0/2/3 still do
    near = mat[0].copy()
    near[20] = -1e-4 if near[20] > 0 else 1e-4
    rows = [(i, [float(x) for x in mat[i]]) for i in range(n)]
    rows.append((n, [float(x) for x in near]))
    df = spark.createDataFrame(rows, SCHEMA)

    got = {
        (r["id_a"], r["id_b"]): r["cos"]
        for r in cosine_near_dups_banded(df, threshold=0.95).collect()
    }
    assert (0, n) in got and got[(0, n)] > 0.99

    # bucket-size bound: old scheme's max bucket is the whole corpus;
    # banded max bucket is bounded by the 16-bit code spread
    old_max = (
        df.select(sign_code(F.col("embedding"), 8).alias("c"))
        .groupBy("c").count().agg(F.max("count")).first()[0]
    )
    banded_max = (
        df.select(F.explode(band_sign_codes(F.col("embedding"))).alias("bc"))
        .groupBy("bc.band_idx", "bc.code").count().agg(F.max("count")).first()[0]
    )
    assert old_max == n + 1  # degenerate: single bucket, quadratic join
    assert banded_max <= n // 50  # 2^16 codes over 8 free sign bits/band


def test_cosine_near_dups_planted(spark):
    import numpy as np
    from engine.operators.similarity import cosine_near_dups_banded

    rng = np.random.default_rng(11)
    base = rng.normal(size=16).astype(np.float32)
    near = (base + rng.normal(scale=0.01, size=16).astype(np.float32))
    rows = [(0, [float(x) for x in base]),
            (1, [float(x) for x in near]),
            (2, [float(x) for x in rng.normal(size=16)])]
    df = spark.createDataFrame(rows, SCHEMA)
    got = {(r["id_a"], r["id_b"]): r["cos"]
           for r in cosine_near_dups_banded(
               df, threshold=0.95, bands=1, bits_per_band=8
           ).collect()}
    assert (0, 1) in got and got[(0, 1)] > 0.99
    assert not any(2 in p for p in got)


def _numpy_lloyd(mat, k, max_iter=10, tol=1e-6):
    """Reference Lloyd with the SAME deterministic contract as
    train_centroids: init = first k rows (smallest ids), argmin L2 with
    smaller-cell tie-break, empty cells keep their centroid."""
    cents = mat[:k].astype(np.float64).copy()
    for _ in range(max_iter):
        d2 = ((mat[:, None, :].astype(np.float64) - cents[None, :, :]) ** 2).sum(
            axis=2
        )
        cell = d2.argmin(axis=1)  # argmin takes the first (smallest) index
        new = cents.copy()
        for c in range(k):
            members = mat[cell == c]
            if len(members):
                new[c] = members.astype(np.float64).mean(axis=0)
        shift = np.sqrt(((cents - new) ** 2).sum(axis=1)).max()
        cents = new
        if shift < tol:
            break
    return cents, cell


def test_train_centroids_matches_numpy_lloyd(spark):
    """Distributed Lloyd (broadcast centroids + min_by assignment +
    element-wise-sum update) converges to the same centroids and
    assignments as a single-process numpy reference under the same
    deterministic init — to summation-order float tolerance."""
    from engine.operators.similarity import train_centroids

    rng = np.random.default_rng(31)
    blob_a = rng.normal(loc=+2.0, scale=0.3, size=(30, 8))
    blob_b = rng.normal(loc=-2.0, scale=0.3, size=(30, 8))
    mat = np.concatenate([blob_a, blob_b]).astype(np.float32)
    df = spark.createDataFrame(
        [(i, [float(x) for x in mat[i]]) for i in range(len(mat))], SCHEMA
    )
    got = train_centroids(df, k=2, max_iter=10)
    exp_cents, exp_cell = _numpy_lloyd(mat, k=2, max_iter=10)
    assert [c for c, _ in got] == [0, 1]
    for (_, gc), ec in zip(got, exp_cents):
        assert np.allclose(gc, ec, atol=1e-6)
    # trained centroids sit on the blob means (init rows 0..1 were both
    # from blob A — Lloyd still separates the blobs)
    assert np.allclose(got[0][1], blob_a.mean(axis=0), atol=0.2) or np.allclose(
        got[0][1], blob_b.mean(axis=0), atol=0.2
    )


def test_trained_quantizer_drives_ivf(spark):
    """End-to-end: train_centroids output feeds ivf_topk; with k=2
    cells and nprobe=2 the result equals brute force."""
    from engine.operators.similarity import (
        brute_force_topk,
        ivf_topk,
        train_centroids,
    )

    rng = np.random.default_rng(41)
    mat = np.concatenate(
        [
            rng.normal(loc=+2.0, scale=0.5, size=(25, 8)),
            rng.normal(loc=-2.0, scale=0.5, size=(25, 8)),
        ]
    ).astype(np.float32)
    corpus = spark.createDataFrame(
        [(i, [float(x) for x in mat[i]]) for i in range(len(mat))], SCHEMA
    )
    cents = spark.createDataFrame(
        train_centroids(corpus, k=2), "cell_id int, centroid array<double>"
    )
    probes = corpus.filter(F.col("vec_id").isin(0, 30)).select(
        F.col("vec_id").alias("probe_id"), "embedding"
    )

    def ids(df):
        return sorted(
            (r["probe_id"], r["rank"], r["vec_id"]) for r in df.collect()
        )

    assert ids(ivf_topk(corpus, probes, cents, k=3, nprobe=2)) == ids(
        brute_force_topk(corpus, probes, k=3)
    )


def test_ivf_multiprobe_recovers_boundary_neighbors(spark):
    """The nprobe recall knob, measured against brute force: a probe
    L2-assigned to cell A whose true cosine neighbor was quantized into
    cell B is missed at nprobe=1 (recall@2 = 0.5) and recovered at
    nprobe=2 (recall@2 = 1.0, result set == brute force)."""
    from engine.operators.similarity import brute_force_topk, ivf_topk

    # 4-dim, two centroids on the ±x axis; directions mostly +y
    corpus = spark.createDataFrame(
        [
            (0, [0.9, 0.1, 0.0, 0.0]),    # cell A, direction +x
            (1, [0.8, -0.1, 0.0, 0.0]),   # cell A, direction +x
            (2, [-0.9, 0.1, 0.0, 0.0]),   # cell B, direction -x
            (3, [-0.3, 2.0, 0.0, 0.0]),   # cell B, direction +y  ← boundary
            (4, [0.2, 1.8, 0.0, 0.0]),    # cell A, direction +y
        ],
        SCHEMA,
    )
    cents = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0, 0.0]), (1, [-1.0, 0.0, 0.0, 0.0])],
        "cell_id int, centroid array<double>",
    )
    probes = spark.createDataFrame([(100, [0.1, 2.0, 0.0, 0.0])], SCHEMA).select(
        F.col("vec_id").alias("probe_id"), "embedding"
    )

    def ids(df):
        return [r["vec_id"] for r in df.orderBy("rank").collect()]

    truth = ids(brute_force_topk(corpus, probes, k=2))
    got1 = ids(ivf_topk(corpus, probes, cents, k=2, nprobe=1))
    got2 = ids(ivf_topk(corpus, probes, cents, k=2, nprobe=2))
    assert truth == [4, 3]  # true neighbors straddle the cell boundary
    assert got1 == [4, 0]   # nprobe=1 only sees cell A candidates
    assert got2 == truth    # nprobe=2 searches both cells → exact
    r1 = len(set(got1) & set(truth)) / 2
    r2 = len(set(got2) & set(truth)) / 2
    assert r1 == 0.5 and r2 == 1.0 and r2 >= r1


def test_ivf_topk_searches_own_cell_only(spark):
    """IVF: probes only see candidates assigned to the same centroid
    cell; ranking inside the cell is exact cosine."""
    from engine.operators.similarity import ivf_topk

    rng = np.random.default_rng(5)
    a = rng.normal(loc=+3.0, size=(10, 16)).astype(np.float32)
    b = rng.normal(loc=-3.0, size=(10, 16)).astype(np.float32)
    rows = [(i, [float(x) for x in a[i]]) for i in range(10)]
    rows += [(10 + i, [float(x) for x in b[i]]) for i in range(10)]
    corpus = spark.createDataFrame(rows, SCHEMA)
    cents = spark.createDataFrame(
        [(0, [3.0] * 16), (1, [-3.0] * 16)],
        "cell_id int, centroid array<double>",
    )
    probes = corpus.filter(F.col("vec_id").isin(0, 10)).select(
        F.col("vec_id").alias("probe_id"), "embedding"
    )
    got = ivf_topk(corpus, probes, cents, k=3).collect()
    for r in got:
        same_cluster = (r["probe_id"] < 10) == (r["vec_id"] < 10)
        assert same_cluster, r
    assert {r["probe_id"] for r in got} == {0, 10}
    for p in (0, 10):
        ranks = sorted(r["rank"] for r in got if r["probe_id"] == p)
        assert ranks == [1, 2, 3]


def test_band_sign_codes_equal_sign_code_over_slices(spark):
    """One sign-bit rule: band b's code is `sign_code` of the b-th
    slice, and both equal a numpy bit-pack (zeros count as negative)."""
    from engine.operators.similarity import band_sign_codes

    rng = np.random.default_rng(3)
    mat = rng.normal(size=(30, 64)).astype(np.float32)
    mat[0, :] = 0.0
    mat[1, 5] = 0.0
    df = spark.createDataFrame(
        [(i, [float(x) for x in mat[i]]) for i in range(len(mat))], SCHEMA
    )
    v = F.col("embedding")
    got = df.select(
        "vec_id",
        band_sign_codes(v, 4, 16).alias("bands"),
        F.array(
            *[sign_code(F.slice(v, 16 * b + 1, 16), 16) for b in range(4)]
        ).alias("sliced"),
    ).collect()
    assert len(got) == len(mat)
    for r in got:
        expect = [
            int(sum(1 << i for i in range(16) if mat[r["vec_id"], 16 * b + i] > 0))
            for b in range(4)
        ]
        assert [bc["band_idx"] for bc in r["bands"]] == [0, 1, 2, 3]
        assert [bc["code"] for bc in r["bands"]] == r["sliced"] == expect


@pytest.mark.parametrize("k", [0, -1])
def test_topk_rejects_k_below_one_at_plan_build(vectors, k):
    """k < 1 used to return 0 rows silently; it now fails when the plan
    is built, on every top-k search path."""
    from engine.operators.similarity import ivf_topk

    df, _ = vectors
    probes = df.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("probe_id"), "embedding"
    )
    cents = df.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").cast("int").alias("cell_id"),
        F.col("embedding").alias("centroid"),
    )
    for search in (
        lambda: brute_force_topk(df, probes, k=k),
        lambda: lsh_topk(df, probes, k=k),
        lambda: ivf_topk(df, probes, cents, k=k, nprobe=1),
    ):
        with pytest.raises(ValueError, match="k must be >= 1"):
            search()


@pytest.mark.parametrize("nprobe", [0, -1])
def test_ivf_topk_rejects_nprobe_below_one_at_plan_build(vectors, nprobe):
    """nprobe=0 used to return 0 rows and nprobe=-1 to fail only at
    execution (slice length); both now fail when the plan is built."""
    from engine.operators.similarity import ivf_topk

    df, _ = vectors
    probes = df.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("probe_id"), "embedding"
    )
    cents = df.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").cast("int").alias("cell_id"),
        F.col("embedding").alias("centroid"),
    )
    with pytest.raises(ValueError, match="nprobe must be >= 1"):
        ivf_topk(df, probes, cents, k=3, nprobe=nprobe)
