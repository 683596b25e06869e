"""Trained-quantizer IVF (VERDICT r2 item 7): deterministic k-means
cells must be bit-reproducible under any partitioning, and probing
trained centroids must recover most of the brute-force neighbors."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from gush_spark.operators import similarity


@pytest.fixture(scope="module")
def clustered_vecs(spark):
    """200 vectors in 10 well-separated 16-d clusters (fixed seed)."""
    rng = np.random.default_rng(7)
    centers = rng.normal(size=(10, 16)) * 4.0
    rows = []
    for i in range(200):
        c = i % 10
        v = centers[c] + rng.normal(size=16) * 0.3
        rows.append((i, [float(x) for x in v]))
    return spark.createDataFrame(rows, ["vec_id", "embedding"]).persist()


def _topsets(df):
    out: dict = {}
    for r in df.collect():
        out.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    return out


def _recall(got: dict, truth: dict) -> float:
    return sum(
        len(got.get(q, set()) & v) / len(v) for q, v in truth.items()
    ) / len(truth)


def test_kmeans_cells_bit_reproducible_across_partitionings(clustered_vecs):
    """The quantized-long centroid update makes training order-free:
    different input partitionings must produce IDENTICAL centroids."""
    a_assign, a_cents = similarity.kmeans_cells(
        clustered_vecs.repartition(7), n_cells=10, iters=2
    )
    b_assign, b_cents = similarity.kmeans_cells(
        clustered_vecs.repartition(3), n_cells=10, iters=2
    )
    ca = {r["cell"]: r["rep_vec"] for r in a_cents.collect()}
    cb = {r["cell"]: r["rep_vec"] for r in b_cents.collect()}
    assert ca == cb  # bit-for-bit, not approx
    aa = {r["vec_id"]: r["cell"] for r in a_assign.collect()}
    ab = {r["vec_id"]: r["cell"] for r in b_assign.collect()}
    assert aa == ab


def test_trained_ivf_recall_vs_brute_force(spark, clustered_vecs):
    """Recall@5 vs brute-force ground truth: trained centroids track the
    data's density, so probing 2 of 10 cells finds most true neighbors
    (0.925/0.875 at sf0.001/sf0.01 table scale)."""
    q = clustered_vecs.filter(F.col("vec_id") < 8)
    truth = _topsets(similarity.brute_force_topk(clustered_vecs, q, k=5))
    trained = _topsets(
        similarity.kmeans_ivf_topk(
            clustered_vecs, q, k=5, n_probe=2, n_cells=10, iters=2
        )
    )
    assert _recall(trained, truth) >= 0.8


def test_centroid_map_math_and_scale_invariance(spark):
    """Centroid cosine from quantized SUMS: orthogonal groups score ~0,
    aligned groups ~1, and group size doesn't bias direction (cosine
    scale invariance makes sum == mean)."""
    from gush_spark.operators.similarity import centroid_similarity_map

    rows = [
        # group 'x' along e1, twice as many rows as 'x2' (same dir)
        ("x", [1.0, 0.0, 0.0, 0.0]),
        ("x", [2.0, 0.0, 0.0, 0.0]),
        ("x", [3.0, 0.0, 0.0, 0.0]),
        ("x2", [5.0, 0.0, 0.0, 0.0]),
        # group 'y' along e2 — orthogonal to both
        ("y", [0.0, 1.0, 0.0, 0.0]),
        ("y", [0.0, 4.0, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "label string, embedding array<float>")
    out = {
        (r["group_a"], r["group_b"]): r
        for r in centroid_similarity_map(df, "label", "embedding").collect()
    }
    assert set(out) == {("x", "x2"), ("x", "y"), ("x2", "y")}
    assert out[("x", "x2")]["cos_sim"] == 1.0
    assert abs(out[("x", "y")]["cos_sim"]) < 1e-6
    assert out[("x", "x2")]["n_a"] == 3 and out[("x", "x2")]["n_b"] == 1


def test_centroid_sums_exact_bigints(spark):
    from pyspark.sql import functions as F

    from gush_spark.operators.similarity import label_centroid_sums

    df = spark.createDataFrame(
        [("g", [0.5, -0.5]), ("g", [0.25, 0.75])],
        "label string, embedding array<float>",
    )
    (row,) = label_centroid_sums(df, "label", "embedding").collect()
    s = 1 << 20
    # floor quantization: 0.5*s + 0.25*s ; floor(-0.5*s) + 0.75*s
    assert row["csum"] == [int(0.75 * s), int(-0.5 * s) + int(0.75 * s)]
    assert row["n"] == 2


def test_hard_negatives_exclude_same_label(spark):
    from gush_spark.operators.similarity import hard_negatives

    rows = [
        (0, [1.0, 0.0], "A"),
        (1, [0.99, 0.1], "A"),   # nearest overall but same label
        (2, [0.9, 0.3], "B"),    # nearest different-label
        (3, [0.0, 1.0], "B"),
        (4, [-1.0, 0.0], "C"),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label string")
    out = hard_negatives(df, df.filter("vec_id = 0"), k=2).collect()
    ids = [r["neighbor_id"] for r in out]
    assert 1 not in ids  # same label never a negative
    assert ids[0] == 2   # hardest negative ranks first
    assert all(r["query_label"] == "A" and r["neighbor_label"] != "A" for r in out)


def test_cross_lingual_pairs_filters_same_lang(spark):
    from gush_spark.operators.similarity import cross_lingual_pairs

    # identical sign pattern on the first 8 coords -> one LSH bucket
    vecs = spark.createDataFrame(
        [
            (1, [1.0, 0.1, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]),
            (2, [0.9, 0.2, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]),   # near 1
            (3, [0.85, 0.25, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]),  # near 1, same lang
        ],
        "vec_id long, embedding array<float>",
    )
    docs = spark.createDataFrame(
        [(1, "en"), (2, "fr"), (3, "en")], "doc_id long, lang string"
    )
    pairs = {
        (r["id_a"], r["id_b"]): (r["lang_a"], r["lang_b"])
        for r in cross_lingual_pairs(vecs, docs, threshold=0.5).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] == ("en", "fr")
    assert (1, 3) not in pairs  # same language -> dedup signal, not alignment
    assert (2, 3) in pairs


def test_knn_label_eval_clustered_vs_shuffled(spark):
    """A label-clustered embedding space scores 100%; the same points
    with shuffled labels score at or near chance — the eval actually
    measures label geometry, with deterministic majority tie-breaks."""
    from gush_spark.operators.similarity import knn_label_eval

    # two tight clusters far apart, 8 points each
    rows = []
    for i in range(8):
        rows.append((i, [10.0 + 0.01 * i, 0.0, 1.0], 0))
        rows.append((100 + i, [0.0, 10.0 + 0.01 * i, 1.0], 1))
    vecs = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    out = {
        r["label"]: r for r in knn_label_eval(vecs, vecs, k=3).collect()
    }
    assert out[0]["n_probes"] == 8 and out[0]["acc_ppm"] == 1_000_000
    assert out[1]["n_correct"] == 8
    # same geometry, alternating labels -> neighbors always majority
    # OTHER-ish: accuracy collapses below the clustered 100%
    shuffled = vecs.withColumn(
        "label", (F.col("vec_id") % 2).cast("int")
    )
    worst = {
        r["label"]: r["acc_ppm"]
        for r in knn_label_eval(shuffled, shuffled, k=3).collect()
    }
    assert all(v < 1_000_000 for v in worst.values())
