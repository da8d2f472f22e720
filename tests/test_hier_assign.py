"""Two-level codebook assignment (similarity.super_codebook /
hier_assign_udf, semdedup.assign_clusters n_super path): exhaustive
probing must equal the flat matmul exactly; restricted probing must
keep high agreement on clustered data; determinism across calls."""

import numpy as np
import pytest

from lambdo_spark.functions.semdedup import assign_clusters, seeded_centroids
from lambdo_spark.functions.similarity import (
    hier_assign_udf,
    ivf_assign_udf,
    super_codebook,
)


def _clustered(n=400, dim=24, n_clusters=16, seed=3):
    """Points drawn around n_clusters well-separated directions."""
    rng = np.random.default_rng(seed)
    dirs = rng.normal(size=(n_clusters, dim))
    dirs /= np.linalg.norm(dirs, axis=1, keepdims=True)
    pts = dirs[rng.integers(0, n_clusters, n)] + rng.normal(
        scale=0.05, size=(n, dim)
    )
    return [(i, [float(x) for x in pts[i]]) for i in range(n)]


@pytest.fixture()
def emb(spark):
    return spark.createDataFrame(_clustered(), ["vec_id", "embedding"])


def test_super_codebook_partitions_all_centroids():
    rng = np.random.default_rng(0)
    cents = rng.normal(size=(50, 8))
    sc, members = super_codebook(cents, 7)
    assert sc.shape == (7, 8)
    got = np.sort(np.concatenate([m for m in members]))
    np.testing.assert_array_equal(got, np.arange(50))
    for m in members:  # ascending member order = id-order tie-breaks
        assert np.all(np.diff(m) > 0)
    # deterministic: same input, same output
    sc2, members2 = super_codebook(cents, 7)
    np.testing.assert_array_equal(sc, sc2)


def test_exhaustive_probes_equal_flat(spark, emb):
    """probes = n_super examines every centroid — must reproduce the
    flat argmax assignment bit-for-bit."""
    cents, cids = seeded_centroids(emb, 24)
    flat = assign_clusters(emb, cents, cids)
    hier = assign_clusters(emb, cents, cids, n_super=5, probes=5)
    f = {r["vec_id"]: r["cluster_id"] for r in flat.collect()}
    h = {r["vec_id"]: r["cluster_id"] for r in hier.collect()}
    assert f == h


def test_restricted_probes_high_agreement(spark, emb):
    """probes=2 of 5 super-cells on clustered data: ≥90% of rows get
    the same centroid as the flat assignment (recall is the explicit
    tradeoff, but it must not collapse)."""
    cents, cids = seeded_centroids(emb, 24)
    flat = {r["vec_id"]: r["cluster_id"]
            for r in assign_clusters(emb, cents, cids).collect()}
    hier = {r["vec_id"]: r["cluster_id"]
            for r in assign_clusters(
                emb, cents, cids, n_super=5, probes=2).collect()}
    agree = sum(flat[i] == hier[i] for i in flat) / len(flat)
    assert agree >= 0.9, agree


def test_hier_udf_matches_numpy_reference(spark):
    """Cross-check the UDF against a direct numpy two-level argmax
    with identical routing."""
    rows = _clustered(n=120, dim=12, n_clusters=6, seed=11)
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    rng = np.random.default_rng(5)
    cents = rng.normal(size=(20, 12))
    got = (
        df.select("vec_id", hier_assign_udf(cents, n_super=4, probes=2)(
            "embedding")[0].alias("cell"))
        .collect()
    )
    sc, members = super_codebook(cents, 4)
    c = cents / np.linalg.norm(cents, axis=1, keepdims=True)
    for r in got:
        v = np.array(dict(rows)[r["vec_id"]])
        v = v / np.linalg.norm(v)
        probed = np.argsort(-(v @ sc.T), kind="stable")[:2]
        cand = np.concatenate([members[s] for s in probed])
        cand = np.sort(cand)
        exp = cand[int(np.argmax(v @ c[cand].T))]
        assert r["cell"] == exp, r["vec_id"]


def test_flat_path_unchanged(spark, emb):
    """The default (no n_super) still routes through ivf_assign_udf —
    the oracled configuration must not shift."""
    cents, cids = seeded_centroids(emb, 8)
    a = assign_clusters(emb, cents, cids)
    direct = emb.select(
        "vec_id", ivf_assign_udf(cents, 1)("embedding")[0].alias("_cell")
    )
    lookup = {i: cid for i, cid in enumerate(cids)}
    d = {r["vec_id"]: lookup[r["_cell"]] for r in direct.collect()}
    assert {r["vec_id"]: r["cluster_id"] for r in a.collect()} == d


def test_dead_super_cells_never_drop_rows(spark, monkeypatch):
    """A super-cell with no member centroids must not be routed to:
    rows whose nearest super-cell is dead still get a real centroid
    (before, the empty probe left the int64 sentinel, which wrapped to
    -1 in int32 and assign_clusters' inner join dropped the row)."""
    from lambdo_spark.functions import similarity

    cents = np.array([[1.0, 0.0], [0.9, 0.1], [0.0, 1.0]])
    # cell 2 is dead and points where the queries are
    sc = np.array([[1.0, 0.0], [0.0, 1.0], [-1.0, 0.0]])
    members = [np.array([0, 1]), np.array([2]), np.array([], dtype=np.int64)]
    monkeypatch.setattr(similarity, "super_codebook", lambda *a, **k: (sc, members))
    rows = [(0, [-1.0, 0.05]), (1, [-1.0, -0.05]), (2, [1.0, 0.02])]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    got = {
        r["vec_id"]: r["cluster_id"]
        for r in assign_clusters(
            emb, cents, ["c0", "c1", "c2"], n_super=3, probes=1
        ).collect()
    }
    assert got == {0: "c2", 1: "c2", 2: "c0"}
