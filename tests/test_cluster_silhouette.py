"""cluster_silhouette: closed-form vs a NumPy reference, the
good-K-vs-overfit-K ordering, and sanity of the score range."""

from __future__ import annotations

import math

from flink_ecommerce_spark.operators.clustering import (
    DEFAULT_ITER,
    cluster_silhouette,
    kmeans_assign,
)
from flink_ecommerce_spark.schemas import EMBEDDINGS_SCHEMA


def _emb(spark, vecs):
    return spark.createDataFrame(
        [(i, [float(x) for x in v], 0) for i, v in enumerate(vecs)],
        EMBEDDINGS_SCHEMA,
    )


def _two_blobs():
    """Two tight, well-separated 2-D blobs padded to the embedding
    dim; vec_ids interleave so the k-lowest-id init seeds both."""
    a = [(0.0 + 0.01 * i, 0.0) for i in range(8)]
    b = [(10.0 + 0.01 * i, 10.0) for i in range(8)]
    vecs = []
    for x, y in [v for pair in zip(a, b) for v in pair]:
        vecs.append([x, y] + [0.0] * 62)
    return vecs


def test_silhouette_matches_numpy_reference(spark):
    import numpy as np

    vecs = _two_blobs()
    d = _emb(spark, vecs)
    got = {
        r["cluster"]: r
        for r in cluster_silhouette(d, k=2, n_iter=DEFAULT_ITER).collect()
    }
    assign = {
        r["vec_id"]: r["cluster"]
        for r in kmeans_assign(d, k=2, n_iter=DEFAULT_ITER).collect()
    }
    arr = np.array(vecs)
    # centroids of the FINAL assignment round == cluster means of the
    # previous round; recompute a/b per point from the quantized
    # pipeline's own assignment and per-cluster means of that
    # assignment's PREVIOUS round is internal — instead verify the
    # aggregate against the definition using the assigned clusters
    # and their (converged) means, which for well-separated blobs are
    # identical across the last rounds.
    for c in (0, 1):
        members = arr[[i for i, cl in assign.items() if cl == c]]
        others = arr[[i for i, cl in assign.items() if cl != c]]
        mu_own = members.mean(axis=0).round(6)
        mu_other = others.mean(axis=0).round(6)
        s_us = []
        for p in members:
            a = math.sqrt(round(float(((p - mu_own) ** 2).sum()), 9))
            b = math.sqrt(round(float(((p - mu_other) ** 2).sum()), 9))
            s = 0.0 if max(a, b) == 0 else (b - a) / max(a, b)
            s_us.append(math.floor(s * 1_000_000 + 0.5))
        n = len(s_us)
        # per-point micro then the shifted integer mean — the exact
        # order-independent contract, so the compare is equality
        expect = (sum(s_us) + n * 1_000_000) // n - 1_000_000
        assert got[c]["n_vectors"] == n
        assert got[c]["mean_silhouette_micro"] == expect
        assert got[c]["mean_silhouette_micro"] > 990_000  # tight blobs


def test_silhouette_degrades_for_overfit_k(spark):
    """Two natural blobs: k=2 scores near 1; k=4 must split blobs and
    score VISIBLY worse — the meter's one job."""
    d = _emb(spark, _two_blobs())

    def mean_overall(k):
        rows = cluster_silhouette(d, k=k).collect()
        n = sum(r["n_vectors"] for r in rows)
        return (
            sum(r["mean_silhouette_micro"] * r["n_vectors"] for r in rows) / n
        )

    good = mean_overall(2)
    overfit = mean_overall(4)
    assert good > 990_000
    assert overfit < good - 200_000  # visibly bad, not a rounding blip


def test_silhouette_range_and_sizes(spark):
    d = _emb(spark, _two_blobs())
    rows = cluster_silhouette(d, k=2).collect()
    assert sum(r["n_vectors"] for r in rows) == 16
    for r in rows:
        assert -1_000_000 <= r["mean_silhouette_micro"] <= 1_000_000


def test_silhouette_by_k_peaks_at_the_natural_k(spark):
    from flink_ecommerce_spark.operators.clustering import silhouette_by_k

    d = _emb(spark, _two_blobs())
    out = {r["k"]: r for r in silhouette_by_k(d, ks=(2, 4)).collect()}
    assert set(out) == {2, 4}
    assert out[2]["mean_silhouette_micro"] > out[4]["mean_silhouette_micro"]
    # the sweep's mean is the EXACT per-point integer mean (not a
    # reconstruction from floored per-cluster means — r08 ADVICE)
    from flink_ecommerce_spark.operators.clustering import _silhouette_points

    pts = [r["__s_u"] for r in _silhouette_points(d, k=2).collect()]
    n = len(pts)
    shifted = sum(s + 1_000_000 for s in pts)
    assert out[2]["mean_silhouette_micro"] == shifted // n - 1_000_000


def test_silhouette_by_k_matches_duckdb_oracle(spark):
    """The registered oracle twin agrees bit-exactly at sf0.001."""
    import duckdb

    from flink_ecommerce_spark import catalog
    from flink_ecommerce_spark.operators.clustering import (
        silhouette_by_k,
        silhouette_by_k_oracle_sql,
    )

    sf = "/root/testdata/sf0.001"
    got = sorted(
        silhouette_by_k(catalog.table(spark, sf, "embeddings")).collect()
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{sf}/embeddings.parquet')"
    )
    want = sorted(con.execute(silhouette_by_k_oracle_sql()).fetchall())
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
