"""Similarity search over embedding columns (array<float>).

Two paths:
- brute-force cosine top-k (exact baseline) — pure JVM expressions
  (`aggregate`/`zip_with` dot products), broadcast query side,
  row_number window for the top-k cut;
- LSH-bucketed ANN (scale path) — deterministic random-hyperplane
  signatures (seeded, executor-side numpy), candidates restricted to
  equal-bucket collisions across T tables, then exact re-rank. At
  10^12 vectors the bucket join replaces the O(N·Q) scan with
  O(collisions); recall tuned by (bits, tables);
- IVF ANN (alternate scale path) — a small codebook of centroids
  (seeded init + distributed Lloyd passes whose per-cell vector means
  are computed as algebraic per-dimension sums, so the only
  driver-side data is the codebook itself), cell assignment via a
  vectorized matmul pandas UDF, queries probing their ``nprobe``
  nearest cells, then exact re-rank. Candidate volume ~ N·nprobe/C.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, Window, functions as F
from pyspark.sql.functions import pandas_udf


def dot_expr(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm_expr(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine_expr(a: Column, b: Column) -> Column:
    return dot_expr(a, b) / (norm_expr(a) * norm_expr(b))


def ann_bruteforce_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k neighbors per query: broadcast the (small) query
    side against the corpus, cosine in JVM, row_number cut.
    Excludes self-matches (same id)."""
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    )
    c = emb.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"))
    scored = (
        c.join(F.broadcast(q))
        .where(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cosine", cosine_expr(F.col("qv"), F.col("cv")))
    )
    return _topk_rerank(scored, k)


def _topk_rerank(cand: DataFrame, k: int) -> DataFrame:
    """Shared exact-cosine top-k tail of every ANN variant: rank the
    (query_id, neighbor_id, cosine) candidates per query (ties broken
    on neighbor_id for determinism) and keep the first k."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "query_id", "neighbor_id",
            F.round("cosine", 6).alias("cosine"), "rank",
        )
    )


def _hyperplanes(dim: int, bits: int, table: int, seed: int = 42) -> np.ndarray:
    rng = np.random.default_rng(seed * 1000 + table)
    return rng.standard_normal((bits, dim))


def lsh_bucket_udf(dim: int, bits: int = 12, tables: int = 4, seed: int = 42):
    """array<float> -> array<long> of per-table bucket signatures
    (sign pattern of hyperplane projections, vectorized per batch)."""
    planes = [_hyperplanes(dim, bits, t, seed) for t in range(tables)]
    weights = (1 << np.arange(bits)).astype(np.int64)

    @pandas_udf("array<long>")
    def _udf(vecs: pd.Series) -> pd.Series:
        m = np.stack(vecs.to_numpy())  # (n, dim)
        sigs = [((m @ p.T) > 0).astype(np.int64) @ weights for p in planes]
        allsigs = np.stack(sigs, axis=1)  # (n, tables)
        # offset each table's signature space so buckets never collide
        allsigs = allsigs + (np.arange(len(planes)) << np.int64(bits + 1))[None, :]
        return pd.Series(list(allsigs))

    return _udf


def lsh_multiprobe_udf(
    dim: int, bits: int = 8, tables: int = 8, seed: int = 42, probes: int = 2
):
    """array<float> -> array<long> of MULTI-PROBE bucket signatures:
    per table, the base sign-pattern bucket PLUS every variant with a
    subset of the ``probes`` least-confident bits flipped (Lv et al.
    2007, query-directed probing, subset form) — 2**probes buckets per
    table per vector.

    Why: a pair at cosine c agrees per hyperplane with
    p = 1 - arccos(c)/π; at low c (say 0.5 → p≈0.67) the base-bucket
    collision p**bits is too rare for any practical table count, but
    the bits where the pair DISAGREES are exactly the planes that
    nearly graze one of the two vectors — the low-|projection|,
    low-confidence bits. Flipping every subset of each side's
    ``probes`` least-confident bits makes the pair collide whenever
    its differing bit set D satisfies D ⊆ K_a ∪ K_b (K = the side's
    flipped-bit set) with the split of D covered by the two subsets —
    recall concentrates exactly where base LSH loses it. Candidate
    volume stays linear in corpus size × 2**probes × tables; the
    exact cosine re-rank downstream keeps precision at 1.
    """
    if probes < 0 or probes > bits:
        raise ValueError(f"probes must be in [0, bits={bits}], got {probes}")
    planes = [_hyperplanes(dim, bits, t, seed) for t in range(tables)]
    weights = (1 << np.arange(bits)).astype(np.int64)
    n_var = 1 << probes
    # flip masks: for variant v, flip the bits of the v-th subset of
    # the `probes` least-confident bit POSITIONS (per row, per table)
    subset_sel = np.array(
        [[(v >> j) & 1 for j in range(probes)] for v in range(n_var)],
        dtype=np.int64,
    )  # (n_var, probes)

    @pandas_udf("array<long>")
    def _udf(vecs: pd.Series) -> pd.Series:
        m = np.stack(vecs.to_numpy())  # (n, dim)
        n = m.shape[0]
        out = np.empty((n, len(planes) * n_var), dtype=np.int64)
        for t, p in enumerate(planes):
            proj = m @ p.T  # (n, bits)
            sig = (proj > 0).astype(np.int64) @ weights  # (n,)
            # positions of the `probes` least-confident bits, per row
            order = np.argsort(np.abs(proj), axis=1)[:, :probes]  # (n, probes)
            bitvals = weights[order]  # (n, probes)
            # xor-flip masks for every subset: sum of selected bit
            # values (each bit value appears once, so sum == xor)
            masks = bitvals @ subset_sel.T  # (n, n_var)
            variants = sig[:, None] ^ masks  # (n, n_var)
            out[:, t * n_var : (t + 1) * n_var] = variants + (
                np.int64(t) << np.int64(bits + 1)
            )
        return pd.Series(list(out))

    return _udf


def ivf_codebook(
    emb: DataFrame,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    iters: int = 2,
) -> np.ndarray:
    """Deterministic IVF codebook as a (C, dim) float64 matrix.

    Init = the ``n_centroids`` corpus vectors with the smallest
    ``xxhash64(id)`` (a seeded, order-free sample). Refinement = Lloyd
    passes where each cell's new centroid is mean(vectors in cell),
    computed distributed: assign (pandas UDF) → posexplode →
    groupBy(cell, dim) sum/count — algebraic merges, map-side
    combined; only the C×dim codebook is ever collected.
    """
    seed_rows = (
        emb.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))
        .orderBy(F.xxhash64(F.col("_id")), F.col("_id"))
        .limit(n_centroids)
        .select("_v")
        .collect()
    )
    centroids = np.array([r[0] for r in seed_rows], dtype=np.float64)
    for _ in range(iters):
        assign = ivf_assign_udf(centroids, nprobe=1)
        sums = (
            emb.select(
                assign(F.col(vec_col))[0].alias("cell"),
                F.posexplode(F.col(vec_col)).alias("dim", "v"),
            )
            .groupBy("cell", "dim")
            .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("n"))
            .collect()
        )
        new = centroids.copy()
        acc = np.zeros_like(centroids)
        cnt = np.zeros(len(centroids), dtype=np.int64)
        for r in sums:
            acc[r["cell"], r["dim"]] += r["s"]
            cnt[r["cell"]] = r["n"]
        nonempty = cnt > 0
        new[nonempty] = acc[nonempty] / cnt[nonempty, None]
        centroids = new
    return centroids


def ivf_assign_udf(centroids: np.ndarray, nprobe: int = 1):
    """array<float> -> array<int>: ids of the ``nprobe`` nearest
    centroids by cosine (vectorized batch matmul)."""
    c = centroids / np.maximum(
        np.linalg.norm(centroids, axis=1, keepdims=True), 1e-12
    )

    @pandas_udf("array<int>")
    def _udf(vecs: pd.Series) -> pd.Series:
        m = np.stack(vecs.to_numpy()).astype(np.float64)
        m = m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
        sims = m @ c.T  # (n, C)
        if nprobe == 1:
            # argmax is O(C) per row with the same first-index
            # tie-break as a stable argsort; the full O(C log C)
            # argsort dominated a 500k x 707-centroid assignment
            # (measured). nprobe > 1 keeps the stable argsort — it
            # runs on query-sized frames and argpartition's arbitrary
            # boundary tie-break would cost determinism.
            top = np.argmax(sims, axis=1)[:, None]
        else:
            top = np.argsort(-sims, axis=1, kind="stable")[:, :nprobe]
        return pd.Series(list(top.astype(np.int32)))

    return _udf


def super_codebook(
    centroids: np.ndarray, n_super: int, iters: int = 4
) -> tuple[np.ndarray, list[np.ndarray]]:
    """Coarse quantizer OVER the codebook: driver-side numpy k-means
    of the k centroids into ``n_super`` super-cells (k ≤ ~10^5, so
    this is microseconds — the corpus never sees it).

    Deterministic, RNG-free: init = evenly spaced rows of the
    id-ordered centroid matrix, then ``iters`` spherical Lloyd passes
    (normalized means, cosine argmax, first-index tie-break). Returns
    (n_super × dim matrix, member centroid-row-indices per super-cell,
    each ascending so cross-cell tie-breaks stay in id order)."""
    c = centroids / np.maximum(
        np.linalg.norm(centroids, axis=1, keepdims=True), 1e-12
    )
    k = len(c)
    n_super = min(int(n_super), k)
    idx = np.round(np.linspace(0, k - 1, n_super)).astype(np.int64)
    sc = c[idx].copy()
    for _ in range(max(0, int(iters))):
        sc /= np.maximum(np.linalg.norm(sc, axis=1, keepdims=True), 1e-12)
        assign = np.argmax(c @ sc.T, axis=1)
        for s in range(n_super):
            mask = assign == s
            if mask.any():
                sc[s] = c[mask].mean(axis=0)
    sc /= np.maximum(np.linalg.norm(sc, axis=1, keepdims=True), 1e-12)
    assign = np.argmax(c @ sc.T, axis=1)
    members = [np.where(assign == s)[0] for s in range(n_super)]
    return sc, members


def hier_assign_udf(
    centroids: np.ndarray,
    n_super: int | None = None,
    probes: int = 1,
    iters: int = 4,
):
    """array<float> -> array<int>: [nearest centroid row-index] via a
    TWO-LEVEL codebook — route each vector to its ``probes`` nearest
    super-cells (n_super ≈ √k), then exact cosine argmax over only
    those cells' member centroids.

    Per-row cost O((n_super + probes·k/n_super)·dim) instead of the
    flat O(k·dim): with n_super = √k that is O(√k·dim) — the term
    that keeps SemDeDup's k ≈ √N prescription viable past 10^9 docs
    (k ~ 10^4–10^5), where the flat matmul stops being free.
    Approximate by construction (the true nearest centroid can sit in
    an unprobed super-cell; raise ``probes`` for recall —
    probes = n_super is exhaustive and exactly equals the flat
    assignment). Tie-breaks match ``ivf_assign_udf``: first matrix
    row wins, so id-ordered centroid matrices resolve ties to the
    smallest centroid id, cross-engine stable."""
    c = centroids / np.maximum(
        np.linalg.norm(centroids, axis=1, keepdims=True), 1e-12
    )
    k = len(c)
    if n_super is None:
        n_super = max(1, int(np.sqrt(k)))
    sc, members = super_codebook(centroids, n_super, iters)
    n_super = len(sc)
    probes = max(1, min(int(probes), n_super))
    # a super-cell that ended with no member centroids must never be
    # routed to: a row whose every probe is dead would get no candidate
    # at all (the int64 sentinel wraps to -1 in int32 and the id join
    # downstream silently drops the row)
    dead = np.array([len(mem) == 0 for mem in members])
    sentinel = np.iinfo(np.int64).max

    @pandas_udf("array<int>")
    def _udf(vecs: pd.Series) -> pd.Series:
        m = np.stack(vecs.to_numpy()).astype(np.float64)
        m = m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
        n = len(m)
        coarse = m @ sc.T  # (n, n_super)
        coarse[:, dead] = -np.inf
        if probes == 1:
            probed = np.argmax(coarse, axis=1)[:, None]
        else:
            probed = np.argsort(-coarse, axis=1, kind="stable")[:, :probes]
        best_sim = np.full(n, -np.inf)
        best_idx = np.full(n, sentinel, dtype=np.int64)
        for s in range(n_super):
            mem = members[s]
            if len(mem) == 0:
                continue
            rows = np.nonzero((probed == s).any(axis=1))[0]
            if len(rows) == 0:
                continue
            sims = m[rows] @ c[mem].T  # (|rows|, |mem|)
            loc = np.argmax(sims, axis=1)  # first-index tie-break
            sim = sims[np.arange(len(rows)), loc]
            cand = mem[loc]
            take = (sim > best_sim[rows]) | (
                (sim == best_sim[rows]) & (cand < best_idx[rows])
            )
            upd = rows[take]
            best_sim[upd] = sim[take]
            best_idx[upd] = cand[take]
        if (best_idx == sentinel).any():
            raise AssertionError("hier_assign_udf: row routed to no centroid")
        return pd.Series(list(best_idx.astype(np.int32)[:, None]))

    return _udf


def ann_ivf_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    nprobe: int = 4,
    iters: int = 2,
) -> DataFrame:
    """IVF approximate top-k: corpus assigned to 1 cell, queries probe
    their ``nprobe`` nearest cells, exact cosine re-rank on candidates.

    One shuffle on the cell key; candidate volume scales with
    N·nprobe/C instead of N·Q. At cluster scale the corpus assignment
    is computed once and persisted with the table (a bucketed column),
    making repeated query batches join-only."""
    codebook = ivf_codebook(emb, n_centroids, id_col, vec_col, iters)
    c = emb.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        ivf_assign_udf(codebook, 1)(F.col(vec_col))[0].alias("cell"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        F.explode(ivf_assign_udf(codebook, nprobe)(F.col(vec_col))).alias("cell"),
    )
    cand = (
        c.join(F.broadcast(q), "cell")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cosine", cosine_expr(F.col("qv"), F.col("cv")))
    )
    return _topk_rerank(cand, k)


def ann_ivf_index_write(
    emb: DataFrame,
    root: str,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    iters: int = 2,
) -> dict:
    """Build the IVF index ONCE and persist it: corpus cell
    assignments land as an Iceberg-layout table PARTITIONED ON CELL
    (so a query probing ``nprobe`` cells opens only those partition
    directories), and the C×dim codebook rides in the snapshot
    metadata. Repeated query batches then skip both the Lloyd passes
    and the corpus re-assignment — the 10^12-vector contract
    (COVERAGE.md: 'persisted with the table, a bucketed column')."""
    from lambdo_spark.sources.iceberg_layout import IcebergLayoutTable

    codebook = ivf_codebook(emb, n_centroids, id_col, vec_col, iters)
    assigned = emb.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("embedding"),
        ivf_assign_udf(codebook, 1)(F.col(vec_col))[0].alias("cell"),
    ).withColumn("part", F.col("cell").cast("long"))
    parts = [str(r[0]) for r in assigned.select("part").distinct().collect()]
    table = IcebergLayoutTable(root)
    return table.overwrite_parts(
        assigned,
        parts,
        input_snapshot="ivf_index",
        extra={
            "codebook": [list(map(float, row)) for row in codebook],
            "n_centroids": int(n_centroids),
        },
    )


def ann_ivf_index_topk(
    spark,
    root: str,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k against a persisted IVF index — join-only: the codebook
    comes from the snapshot (no Lloyd), the corpus assignment from the
    table (no re-assignment), and only the partitions of the cells the
    queries actually probe are read (partition pruning by explicit
    version dirs)."""
    from lambdo_spark.sources.iceberg_layout import IcebergLayoutTable

    table = IcebergLayoutTable(root)
    snap = table.current_snapshot()
    if snap is None or "codebook" not in snap:
        raise FileNotFoundError(f"no IVF index snapshot under {root}")
    codebook = np.array(snap["codebook"], dtype=np.float64)
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        F.explode(ivf_assign_udf(codebook, nprobe)(F.col(vec_col))).alias("cell"),
    )
    # queries are the small (broadcast) side — collecting their probed
    # cells is O(Q·nprobe) and buys reading only those partitions
    probed = {str(r[0]) for r in q.select("cell").distinct().collect()}
    pruned = table.read_parts(spark, probed)
    if pruned is None:
        return _topk_rerank(
            spark.createDataFrame(
                [], "query_id long, neighbor_id long, cosine double"
            ),
            k,
        )
    corpus = pruned.drop("part").select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("cv"),
        "cell",
    )
    cand = (
        corpus.join(F.broadcast(q), "cell")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cosine", cosine_expr(F.col("qv"), F.col("cv")))
    )
    return _topk_rerank(cand, k)


def ann_lsh_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bits: int = 12,
    tables: int = 4,
    seed: int = 42,
    probes: int = 0,
) -> DataFrame:
    """Approximate top-k: equal-LSH-bucket candidates → exact cosine
    re-rank. One shuffle on bucket key instead of a full cross join.

    ``probes > 0`` switches both sides to multi-probe bucketing
    (:func:`lsh_multiprobe_udf` — every subset of the ``probes``
    least-confident sign bits flipped per table), trading candidate
    volume (×2**probes per side) for recall on moderate-cosine
    neighbors where base sign-LSH misses. Precision is unaffected —
    candidates are exactly re-ranked."""
    first = emb.select(vec_col).first()
    if first is None:
        # empty corpus: empty result with the contract schema, no UDF
        return _topk_rerank(
            emb.sparkSession.createDataFrame(
                [], "query_id long, neighbor_id long, cosine double"
            ),
            k,
        )
    dim = len(first[0])
    if probes > 0:
        udf = lsh_multiprobe_udf(dim, bits, tables, seed, probes)
    else:
        udf = lsh_bucket_udf(dim, bits, tables, seed)
    c = emb.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"),
        F.explode(udf(F.col(vec_col))).alias("bucket"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"),
        F.explode(udf(F.col(vec_col))).alias("bucket"),
    )
    cand = (
        c.join(F.broadcast(q), "bucket")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .dropDuplicates(["query_id", "neighbor_id"])
        .withColumn("cosine", cosine_expr(F.col("qv"), F.col("cv")))
    )
    return _topk_rerank(cand, k)
