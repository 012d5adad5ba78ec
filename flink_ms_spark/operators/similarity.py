"""Similarity search over embedding columns (ARRAY<FLOAT/DOUBLE>).

Two tiers:

- **brute-force cosine top-k** — the exactness baseline. The query
  side is small by contract (broadcast); the corpus streams through
  ``mapInPandas`` in Arrow batches and each batch computes a blocked
  matrix product with numpy (vectorized, 10-100× over per-element
  expression evaluation). Per-batch candidate pruning keeps k+margin
  rows per query, then a global window takes the exact top-k — so the
  corpus is never collected and the shuffle is candidates-only
  (|queries| × (k+margin) × num_batches rows, independent of corpus
  size).
- **IVF (inverted-file) top-k** — the scale path: a deterministic
  coarse quantizer assigns each vector to a cell; candidates come from
  an ``applyInPandas`` over cell groups (within-cell matrix product).
  The only shuffle is groupBy(cell); with 2^d cells the pair count
  drops ~2^d-fold. A trained k-means codebook drops in behind the same
  cell-id contract.

Determinism rules (oracle parity): final similarities are rounded to 6
decimals *in Spark* (HALF_UP, matching DuckDB round) before ranking,
ties broken by neighbor id. Per-batch pruning uses raw similarity with
a margin (2k+8) so rounding ties at the cut line cannot change the
final top-k.
"""

from __future__ import annotations

import json
import os
from collections.abc import Callable, Iterator
from dataclasses import dataclass
from typing import NamedTuple

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from flink_ms_spark import fsutil
from flink_ms_spark.partitioning import fan_out, keyed_kernel_width

CAND_SCHEMA = T.StructType(
    [
        T.StructField("a", T.LongType(), False),
        T.StructField("b", T.LongType(), False),
        T.StructField("sim", T.DoubleType(), False),
    ]
)


def _query_matrices(
    rows: list, dim: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(ids, raw, normalized) query matrices from collected rows —
    raw feeds the L2 cell probe, normalized feeds the cosine kernel;
    one materialization shared by every serve entry point."""
    ids = np.fromiter((r[0] for r in rows), dtype=np.int64, count=len(rows))
    m = np.array([r[1] for r in rows], dtype=np.float64).reshape(len(rows), dim)
    norms = np.linalg.norm(m, axis=1)
    norms[norms == 0.0] = 1.0
    return ids, m, m / norms[:, None]


def _normalized_matrix(rows: list, dim: int) -> tuple[np.ndarray, np.ndarray]:
    ids, _, qnorm = _query_matrices(rows, dim)
    return ids, qnorm


def _rank_topk(cands: DataFrame, k: int) -> DataFrame:
    """Global exact top-k on rounded similarity, deterministic
    tie-break by neighbor id (oracle contract)."""
    scored = cands.select("a", "b", F.round("sim", 6).alias("cos_sim"))
    w = Window.partitionBy("a").orderBy(F.col("cos_sim").desc(), F.col("b").asc())
    return scored.withColumn("rk", F.row_number().over(w)).where(F.col("rk") <= k)


def _prune_candidates(
    q_ids: np.ndarray,
    c_ids: np.ndarray,
    scores: np.ndarray,
    margin: int,
    value_col: str,
    ascending: bool = False,
) -> pd.DataFrame:
    """Per-query candidate prune shared by every scan/report kernel —
    on the ROUNDED score (6 dp, the exact key the final ranker orders
    on), keeping every candidate TIED with the margin-th best. Pruning
    on the raw value could evict a lower-id candidate that rounds to
    the boundary value while keeping a higher-id one — at corpus scale
    (>margin boundary ties inside one batch/cell) that flips the final
    id tie-break against the oracle. Keeping the whole boundary-tie
    class makes the prune provably rank-preserving, at the cost of the
    occasional extra tied row. Masked entries (±inf) drop out via the
    finite filter; ``scores`` is (len(q_ids), len(c_ids))."""
    r = np.round(scores, 6)
    key = r if ascending else -r
    n_keep = min(margin, key.shape[1])
    if n_keep <= 0 or not len(q_ids):
        return pd.DataFrame(
            {"a": [], "b": [], value_col: []}
        ).astype({"a": np.int64, "b": np.int64, value_col: np.float64})
    part = np.argpartition(key, n_keep - 1, axis=1)[:, :n_keep]
    rows = np.arange(key.shape[0])[:, None]
    boundary = key[rows, part].max(axis=1)
    keep = (key <= boundary[:, None]) & np.isfinite(key)
    qi, ci = np.nonzero(keep)
    return pd.DataFrame({"a": q_ids[qi], "b": c_ids[ci], value_col: r[keep]})


# The broadcast-query serve kernels hold the ENTIRE query set on the
# driver. That is the right shape for point lookups and report-sized
# query batches (fixture corpora are thousands of rows; 64-dim doubles
# at the cap below are ~35 MB), but a caller who hands a corpus-scale
# DataFrame gets a driver OOM, not an error — so every collect goes
# through this cap. The probe costs one extra row of transfer, never a
# second job: limit(max+1) short-circuits the scan.
MAX_BROADCAST_QUERIES = 65536


def _collect_queries(
    q_df: DataFrame, max_queries: int | None, caller: str, report_form: str
) -> list:
    """Collect a SMALL query frame driver-side, refusing loudly past
    ``max_queries`` rows instead of dying on a corpus-scale input."""
    if max_queries is None:
        rows = q_df.collect()
    else:
        rows = q_df.limit(max_queries + 1).collect()
        if len(rows) > max_queries:
            raise ValueError(
                f"{caller}: the query frame exceeds max_queries="
                f"{max_queries} rows. Queries are collected to the driver "
                f"and broadcast (the point-lookup / report-batch shape), so "
                f"a corpus-scale query set is a driver OOM, not a slow "
                f"query. For corpus-vs-corpus search use {report_form}; to "
                f"serve a genuinely larger batch, raise max_queries "
                f"deliberately (or pass None)."
            )
    return [(r[0], list(r[1])) for r in rows]


def cosine_topk(
    df: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    queries: DataFrame | None = None,
    max_queries: int | None = MAX_BROADCAST_QUERIES,
) -> DataFrame:
    """Brute-force cosine top-k neighbors: (a, b, cos_sim, rk).

    ``queries`` defaults to ``df`` (self-search, self-pairs excluded).
    The query matrix is collected + broadcast (small by contract,
    capped at ``max_queries`` — for corpus-scale self-join use
    ivf_topk / ivf_kmeans_topk); the corpus streams through Arrow
    batches, never collected.
    """
    q_df = (queries or df).select(id_col, vec_col)
    q_rows = _collect_queries(
        q_df, max_queries, "cosine_topk",
        "ivf_topk / ivf_kmeans_topk (cell-bucketed all-pairs report)",
    )
    spark = df.sparkSession
    if not q_rows:
        # an empty query frame (e.g. knn_classify sampling selects no
        # ids) is a valid request with an empty answer, not a crash
        return spark.createDataFrame(
            [], "a LONG, b LONG, cos_sim DOUBLE, rk INT"
        )
    dim = len(q_rows[0][1])
    bq = spark.sparkContext.broadcast(_normalized_matrix(q_rows, dim))
    margin = 2 * k + 8

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        q_ids, qm = bq.value  # (q, d) normalized
        for pdf in batches:
            if not len(pdf):
                continue
            c_ids = pdf[id_col].to_numpy(dtype=np.int64)
            cm = np.array(list(pdf[vec_col]), dtype=np.float64)
            norms = np.linalg.norm(cm, axis=1)
            norms[norms == 0.0] = 1.0
            cm = cm / norms[:, None]
            sims = qm @ cm.T  # (q, b)
            # per-query prune on the ROUNDED sim, boundary ties kept
            # (_prune_candidates); fully vectorized — no python loop
            # over queries (q × batches iterations otherwise)
            yield _prune_candidates(q_ids, c_ids, sims, margin, "sim")

    # Cap the fan-out: every corpus partition emits |queries| × margin
    # candidate rows into the global top-k shuffle, so partition count
    # is a parallelism-vs-candidate-volume tradeoff (at corpus scale
    # the answer is ivf_topk, not more partitions here).
    cands = fan_out(df.select(id_col, vec_col), target=min(8, df.sparkSession.sparkContext.defaultParallelism)).mapInPandas(scan, schema=CAND_SCHEMA)
    cands = cands.where(F.col("a") != F.col("b"))
    return _rank_topk(cands, k)


def ivf_cell(vec_col: Column | str, n_dims: int = 3) -> Column:
    """Deterministic coarse quantizer: sign bits of the first
    ``n_dims`` components → cell id string like '101'."""
    v = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    return F.concat_ws(
        "",
        *[
            F.when(F.element_at(v, i + 1) >= 0, F.lit("1")).otherwise(F.lit("0"))
            for i in range(n_dims)
        ],
    )


def ivf_topk(
    df: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_dims: int = 3,
) -> DataFrame:
    """IVF top-k: exact cosine ranking *within* the coarse cell.

    applyInPandas over cell groups: each group is one numpy matrix
    product. Shuffle = groupBy(cell) only. Skewed cells are the known
    hot spot at web scale — cap or sub-split pathological cells
    upstream (template/boilerplate embeddings).
    """
    # no fan_out: groupBy(cell).applyInPandas shuffles anyway — an
    # upstream repartition would be a second, wasted shuffle
    margin = 2 * k + 8
    with_cell = df.select(
        F.col(id_col), F.col(vec_col), ivf_cell(vec_col, cell_dims).alias("cell")
    )

    def per_cell(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf[id_col].to_numpy(dtype=np.int64)
        m = np.array(list(pdf[vec_col]), dtype=np.float64)
        norms = np.linalg.norm(m, axis=1)
        norms[norms == 0.0] = 1.0
        m = m / norms[:, None]
        sims = m @ m.T
        np.fill_diagonal(sims, -np.inf)  # exclude self-pairs
        return _prune_candidates(ids, ids, sims, margin, "sim")

    # pin the cell shuffle at the key cardinality: the per-cell kernel
    # is Python compute, and AQE coalesces the tiny fixture-scale
    # shuffle to ONE partition, serializing every cell on one worker
    # (r14 profile). repartition-by-key with an explicit count is not
    # AQE-coalescible and adds no second exchange (the groupBy reuses
    # the clustering); 2^cell_dims IS this stage's max parallelism.
    cands = (
        with_cell.repartition(
            keyed_kernel_width(with_cell, 2 ** cell_dims), "cell"
        )
        .groupBy("cell")
        .applyInPandas(per_cell, schema=CAND_SCHEMA)
    )
    return _rank_topk(cands, k)


def train_ivf_codebook(
    df: DataFrame,
    n_cells: int = 8,
    vec_col: str = "embedding",
    seed: int = 42,
    sample_fraction: float | None = None,
    max_iter: int = 10,
    backend: str = "local",
) -> np.ndarray:
    """Train a k-means coarse quantizer for IVF cell assignment;
    returns the (n_cells, dim) centroid matrix.

    ``backend='local'`` (default, FAISS-style): sample → collect →
    numpy Lloyd iterations on the driver. The codebook needs a SAMPLE,
    not the corpus — at 100 TB you sample ~1M vectors (set
    ``sample_fraction``), and local Lloyd on 1M×d beats 2·max_iter
    distributed job rounds by a wide margin. ``backend='mllib'`` runs
    ``pyspark.ml.clustering.KMeans`` for the rare case where even the
    training sample must stay distributed.
    """
    train = df if sample_fraction is None else df.sample(sample_fraction, seed=seed)
    if backend == "mllib":
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector

        feats = train.select(
            array_to_vector(F.col(vec_col).cast("array<double>")).alias("features")
        ).persist()
        try:
            model = KMeans(
                k=n_cells, seed=seed, maxIter=max_iter, featuresCol="features"
            ).fit(feats)
            return np.array([np.asarray(c) for c in model.clusterCenters()])
        finally:
            feats.unpersist()

    m = np.array([list(r[0]) for r in train.select(vec_col).collect()], dtype=np.float64)
    return lloyd_kmeans(m, n_cells, seed=seed, max_iter=max_iter)


def lloyd_kmeans(
    m: np.ndarray, n_cells: int, seed: int = 42, max_iter: int = 10
) -> np.ndarray:
    """Deterministic driver-side Lloyd iterations (shared by the Spark
    collect path and the pyarrow path so both produce bit-identical
    centroids for a given sample matrix)."""
    rng = np.random.default_rng(seed)
    centers = m[rng.choice(len(m), size=min(n_cells, len(m)), replace=False)]
    for _ in range(max_iter):
        d2 = ((m[:, None, :] - centers[None, :, :]) ** 2).sum(axis=2)
        assign = d2.argmin(axis=1)
        new = np.array(
            [
                m[assign == c].mean(axis=0) if (assign == c).any() else centers[c]
                for c in range(len(centers))
            ]
        )
        if np.allclose(new, centers):
            break
        centers = new
    return centers


_TRAINER_CACHE: dict[tuple, np.ndarray] = {}


def _fixture_key(sf_dir: str, table: str) -> tuple:
    """Identity of a fixture file (path + mtime + size) — a
    regenerated fixture transparently invalidates cached codebooks,
    same scheme as the persisted-PQ-index dir key."""
    f = os.path.join(sf_dir, f"{table}.parquet")
    st = os.stat(f)
    return (f, st.st_mtime_ns, st.st_size)


def codebook_from_parquet(
    sf_dir: str,
    n_cells: int = 8,
    seed: int = 42,
    vec_col: str = "embedding",
    table: str = "embeddings",
    max_iter: int = 10,
) -> np.ndarray:
    """Train the IVF coarse codebook straight from the parquet fixture
    (pyarrow, no Spark) — bit-identical on the query side and the
    DuckDB-oracle side, which embeds these centroids as literals. At
    100 TB the training input is a SAMPLE either way (the documented
    codebook design); reading it locally vs collecting it is the same
    driver-side step. Memoized per fixture identity: a resident
    engine trains an index once, not once per query."""
    import pyarrow.parquet as pq

    key = ("ivf", _fixture_key(sf_dir, table), n_cells, seed, vec_col, max_iter)
    if key not in _TRAINER_CACHE:
        t = pq.read_table(os.path.join(sf_dir, f"{table}.parquet"), columns=[vec_col])
        m = np.array(t.column(vec_col).to_pylist(), dtype=np.float64)
        _TRAINER_CACHE[key] = lloyd_kmeans(m, n_cells, seed=seed, max_iter=max_iter)
    return _TRAINER_CACHE[key]


def ivf_kmeans_topk(
    df: DataFrame,
    codebook,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_probe: int = 1,
) -> DataFrame:
    """IVF top-k with a TRAINED coarse quantizer: assign each vector to
    its ``n_probe`` nearest centroids (n_probe > 1 trades compute for
    recall — a vector appears in several cells as a probe candidate),
    then exact cosine ranking within cells, same contract as
    ``ivf_topk``.

    Centroids are a tiny broadcast array; assignment is a vectorized
    mapInPandas (one matmul per Arrow batch); the only shuffle is
    groupBy(cell).
    """
    centers = (
        np.array([np.asarray(c) for c in codebook.clusterCenters()])
        if hasattr(codebook, "clusterCenters")
        else np.asarray(codebook, dtype=np.float64)
    )
    spark = df.sparkSession
    bc = spark.sparkContext.broadcast(centers)
    margin = 2 * k + 8

    assign_schema = T.StructType(
        [
            T.StructField(id_col, T.LongType(), False),
            T.StructField(vec_col, T.ArrayType(T.DoubleType()), False),
            T.StructField("cell", T.IntegerType(), False),
            T.StructField("is_member", T.BooleanType(), False),
        ]
    )

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        c = bc.value  # (k_cells, d)
        for pdf in batches:
            if not len(pdf):
                continue
            m = np.array(list(pdf[vec_col]), dtype=np.float64)
            # squared euclidean to each centroid (kmeans metric),
            # ROUNDED to 6 dp with a stable sort (ties → lowest cell
            # id) so the probe choice is reproducible by a DuckDB
            # oracle computing the same distances in its own float
            # evaluation order (oracle contract, like _rank_topk)
            d2 = np.round(
                ((m[:, None, :] - c[None, :, :]) ** 2).sum(axis=2), 6
            )
            order = np.argsort(d2, axis=1, kind="stable")[:, :n_probe]
            n = len(pdf)
            reps = []
            for p in range(order.shape[1]):
                reps.append(
                    pd.DataFrame(
                        {
                            id_col: pdf[id_col].to_numpy(),
                            vec_col: pdf[vec_col],
                            "cell": order[:, p].astype(np.int32),
                            # only the NEAREST cell owns the vector as a
                            # rankable member; probe copies only query
                            "is_member": np.full(n, p == 0),
                        }
                    )
                )
            yield pd.concat(reps, ignore_index=True)

    assigned = fan_out(df.select(id_col, vec_col)).mapInPandas(
        assign, schema=assign_schema
    )

    def per_cell(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf[id_col].to_numpy(dtype=np.int64)
        member = pdf["is_member"].to_numpy(dtype=bool)
        m = np.array(list(pdf[vec_col]), dtype=np.float64)
        norms = np.linalg.norm(m, axis=1)
        norms[norms == 0.0] = 1.0
        m = m / norms[:, None]
        # queries: every row (members + probes); corpus: members only
        sims = m @ m[member].T
        mem_ids = ids[member]
        same = ids[:, None] == mem_ids[None, :]
        sims[same] = -np.inf
        return _prune_candidates(ids, mem_ids, sims, margin, "sim")

    # pinned cell-count shuffle: see ivf_topk — AQE would coalesce the
    # fixture-scale exchange to one task and serialize the per-cell
    # numpy kernels; len(centers) is the stage's parallelism bound
    cands = (
        assigned.repartition(
            keyed_kernel_width(assigned, len(centers)), "cell"
        )
        .groupBy("cell")
        .applyInPandas(per_cell, schema=CAND_SCHEMA)
    )
    # a vector probing multiple cells can see the same neighbor twice
    cands = cands.groupBy("a", "b").agg(F.max("sim").alias("sim"))
    return _rank_topk(cands, k)


def _score_masked(
    q_ids: np.ndarray,
    qnorm: np.ndarray,
    mask: np.ndarray,
    c_ids: np.ndarray,
    cm: np.ndarray,
    cells: np.ndarray,
    margin: int,
) -> pd.DataFrame:
    """One Arrow batch of the per-query-masked cosine scan: normalize
    the candidates, score against the broadcast query matrix, hide
    each candidate from every query that did not probe its cell, keep
    per-query top-``margin`` rounded sims with boundary ties
    (_prune_candidates). Shared by ivf_query_topk (cells assigned
    in-kernel) and ivf_members_topk (cells persisted) so the
    mask/tie/zero-norm contract can't diverge between the two serves."""
    norms = np.linalg.norm(cm, axis=1)
    norms[norms == 0.0] = 1.0
    cm = cm / norms[:, None]
    sims = qnorm @ cm.T  # (nq, nb)
    sims[~mask[:, cells]] = -np.inf
    return _prune_candidates(q_ids, c_ids, sims, margin, "sim")


def _probe_cells(qm: np.ndarray, centers: np.ndarray, n_probe: int) -> np.ndarray:
    """Per-query probed-cell mask: (n_queries, n_cells) bool, True on
    each query's ``n_probe`` nearest centroids (distances rounded 6 dp
    before the sort, lowest-cell tie-break — the probe contract the
    DuckDB oracles replay)."""
    d2 = np.round(((qm[:, None, :] - centers[None, :, :]) ** 2).sum(axis=2), 6)
    order = np.argsort(d2, axis=1, kind="stable")[:, : min(n_probe, centers.shape[0])]
    allowed = np.zeros((qm.shape[0], centers.shape[0]), dtype=bool)
    allowed[np.arange(qm.shape[0])[:, None], order] = True
    return allowed


def ivf_query_topk(
    corpus: DataFrame,
    codebook,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_probe: int = 2,
    max_queries: int | None = MAX_BROADCAST_QUERIES,
) -> DataFrame:
    """Point-lookup IVF serve: top-k corpus neighbors for a SMALL
    query set against a trained coarse quantizer — (a, b, cos_sim, rk).

    ``ivf_kmeans_topk`` is the all-pairs REPORT shape (every corpus
    vector is a query; per-cell self-matmuls); reaching for it to
    answer one lookup costs the whole corpus self-join. This is the
    serve shape: each query's ``n_probe`` nearest cells come from a
    driver-side numpy argmin over the tiny centroid matrix (rounded
    6 dp, lowest-cell tie-break — the same probe contract), the corpus
    is assigned cells in one broadcast narrow map and scanned ONCE for
    the union of probed cells, and inside the kernel each query is
    ranked strictly against ITS OWN probed cells (a per-query mask on
    the similarity matrix) — so a query's answer is identical alone or
    batched with other queries, never inflated by cells a co-batched
    query probed. Exact cosine runs over O(n_probe × cell population),
    never |corpus|."""
    centers = (
        np.array([np.asarray(c) for c in codebook.clusterCenters()])
        if hasattr(codebook, "clusterCenters")
        else np.asarray(codebook, dtype=np.float64)
    )
    q_rows = _collect_queries(
        queries.select(id_col, vec_col), max_queries, "ivf_query_topk",
        "ivf_kmeans_topk (per-cell self-join report)",
    )
    spark = corpus.sparkSession
    if not q_rows:
        # valid empty request — same contract as cosine_topk
        return spark.createDataFrame([], "a LONG, b LONG, cos_sim DOUBLE, rk INT")
    q_ids, qm, qnorm = _query_matrices(q_rows, len(q_rows[0][1]))
    allowed = _probe_cells(qm, centers, n_probe)

    bq = spark.sparkContext.broadcast((q_ids, qnorm, allowed, centers))
    margin = 2 * k + 8

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ids, q, mask, cents = bq.value
        probed_any = mask.any(axis=0)
        for pdf in batches:
            if not len(pdf):
                continue
            m = np.array(list(pdf[vec_col]), dtype=np.float64)
            dd = np.round(((m[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2), 6)
            cells = dd.argmin(axis=1)  # first min = lowest cell on ties
            sel = probed_any[cells]
            if not sel.any():
                continue
            # per-query cell contract inside _score_masked: a candidate
            # outside THIS query's probed cells is invisible to it, even
            # though another query in the batch pulled its cell into
            # the scan
            yield _score_masked(
                ids, q, mask,
                pdf[id_col].to_numpy(dtype=np.int64)[sel],
                m[sel], cells[sel], margin,
            )

    cands = (
        corpus.select(id_col, vec_col)
        .mapInPandas(scan, schema=CAND_SCHEMA)
        .where(F.col("a") != F.col("b"))
    )
    return _rank_topk(cands, k)


def embedding_neardup(
    df: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_dims: int = 3,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (a, b, cos_sim) with
    a < b and rounded cosine ≥ threshold, candidates restricted to the
    same LSH cell (sign-bit quantizer — the standard recall/cost
    tradeoff; raise cell_dims for cheaper+lower-recall, 0 cells for
    exact).

    Delegates to ``pairwise_cos_within`` over the sign-bit cell column
    (one shared per-bucket matmul/threshold kernel — this function and
    ``hyperplane_neardup`` differ ONLY in how they bucket; a divergent
    local copy of the kernel is how eps/zero-norm fixes get missed).
    Pair expansion is bounded by the cell population, never |corpus|².
    """
    with_cell = df.select(
        F.col(id_col), F.col(vec_col), ivf_cell(vec_col, cell_dims).alias("cell")
    )
    return pairwise_cos_within(
        with_cell, "cell", threshold, id_col=id_col, vec_col=vec_col,
        n_buckets=2 ** cell_dims,
    )


def semantic_dedup(
    df: DataFrame,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_dims: int = 3,
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster embeddings coarsely, then inside each
    cluster drop every vector that has a *smaller-id* neighbor with
    cosine ≥ threshold (one-pass min-id survivor rule — deterministic,
    order-free, an upper bound on greedy SemDeDup's removals).

    Returns one row per input vector: (id, *keep_cols, kept, dup_of)
    where ``dup_of`` is the smallest qualifying neighbor id (NULL for
    kept rows).

    Scale shape: pair generation rides :func:`embedding_neardup`
    (one groupBy(cell) shuffle, pair count bounded by cell population);
    the min-id reduction is a partial-agg-friendly groupBy over the
    (sparse) pair set; the final left join keys on ``id_col`` so AQE
    broadcasts the small dup side at corpus scale.
    """

    pairs = embedding_neardup(
        df, threshold=threshold, id_col=id_col, vec_col=vec_col, cell_dims=cell_dims
    )
    dup_of = pairs.groupBy(F.col("b").alias(id_col)).agg(
        F.min("a").alias("dup_of")
    )
    return (
        df.select(id_col, *keep_cols)
        .join(dup_of, on=id_col, how="left")
        .select(
            id_col,
            *keep_cols,
            F.col("dup_of").isNull().alias("kept"),
            "dup_of",
        )
        .orderBy(id_col)
    )


def hyperplane_planes(n_planes: int, dim: int, seed: int = 7) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes in [-0.5, 0.5)^dim,
    derived from md5 so Spark and any oracle engine can embed the SAME
    literal planes (no RNG-state coupling between engines)."""
    import hashlib

    return [
        [
            int(hashlib.md5(f"{seed}:{p}:{d}".encode()).hexdigest()[:8], 16) / 2**32
            - 0.5
            for d in range(dim)
        ]
        for p in range(n_planes)
    ]


def hyperplane_code(vec_col: Column | str, planes: list[list[float]]) -> Column:
    """Sign-bit code of the vector against each hyperplane (SimHash for
    embeddings, Charikar 2002). Pure JVM column expressions — the
    bucketing stage never leaves codegen; only the verify stage pays
    the Python/Arrow toll."""
    v = F.transform(F.col(vec_col) if isinstance(vec_col, str) else vec_col,
                    lambda x: x.cast("double"))
    bits = []
    for row in planes:
        arr = F.array(*[F.lit(w) for w in row])
        dot = F.aggregate(
            F.zip_with(v, arr, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
        )
        bits.append(F.when(dot >= 0, F.lit("1")).otherwise(F.lit("0")))
    return F.concat(*bits)


def pairwise_cos_within(
    df: DataFrame,
    bucket_col: str,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_buckets: int | None = None,
) -> DataFrame:
    """(a, b, cos_sim) pairs with a < b and rounded cosine ≥ threshold,
    candidates restricted to rows sharing ``bucket_col``. Per-bucket
    upper-triangular matmul via applyInPandas — one shuffle, pair
    expansion bounded by bucket population, never |corpus|²."""
    eps = 1e-6

    def per_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf[id_col].to_numpy(dtype=np.int64)
        m = np.array(list(pdf[vec_col]), dtype=np.float64)
        norms = np.linalg.norm(m, axis=1)
        norms[norms == 0.0] = 1.0
        m = m / norms[:, None]
        sims = m @ m.T
        iu, ju = np.triu_indices(len(ids), k=1)
        keep = sims[iu, ju] >= threshold - eps
        lo = np.minimum(ids[iu[keep]], ids[ju[keep]])
        hi = np.maximum(ids[iu[keep]], ids[ju[keep]])
        return pd.DataFrame({"a": lo, "b": hi, "sim": sims[iu[keep], ju[keep]]})

    # with a known bucket cardinality, pin the shuffle at it (see
    # ivf_topk): the per-bucket matmul is Python compute and AQE
    # coalesces the tiny exchange onto one task otherwise
    grouped = (
        df.repartition(keyed_kernel_width(df, n_buckets), bucket_col)
        if n_buckets
        else df
    )
    cands = grouped.groupBy(bucket_col).applyInPandas(
        per_bucket, schema=CAND_SCHEMA
    )
    return cands.select("a", "b", F.round("sim", 6).alias("cos_sim")).where(
        F.col("cos_sim") >= threshold
    )


def hyperplane_neardup(
    df: DataFrame,
    n_planes: int = 4,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    seed: int = 7,
) -> DataFrame:
    """Random-hyperplane-LSH near-duplicate pairs: bucket by the
    n_planes sign-bit code, verify exact cosine within buckets. Unlike
    ``embedding_neardup``'s coordinate-sign cells, the projections mix
    ALL dimensions, so recall doesn't depend on which coordinates carry
    the signal; more planes → smaller buckets → cheaper verify, lower
    recall."""
    planes = hyperplane_planes(n_planes, dim, seed)
    coded = df.select(
        F.col(id_col), F.col(vec_col), hyperplane_code(vec_col, planes).alias("_code")
    )
    return pairwise_cos_within(
        coded, "_code", threshold, id_col=id_col, vec_col=vec_col,
        n_buckets=2 ** n_planes,
    )


# Single Lloyd implementation for IVF and PQ codebooks (FAISS-style:
# codebooks come from a sample, never the corpus).
_lloyd = lloyd_kmeans


def train_pq_codebooks(
    df: DataFrame,
    n_subspaces: int = 8,
    n_codes: int = 16,
    vec_col: str = "embedding",
    seed: int = 42,
    sample_fraction: float | None = None,
    max_iter: int = 10,
) -> np.ndarray:
    """Product-quantization codebooks (Jégou et al. 2011): split the
    vector into ``n_subspaces`` contiguous blocks and k-means each
    block independently on a driver-collected SAMPLE. Returns
    (n_subspaces, n_codes, sub_dim). At 100 TB: sample ~1M vectors
    (``sample_fraction``); the codebook itself is a few KB."""
    train = df if sample_fraction is None else df.sample(sample_fraction, seed=seed)
    m = np.array([list(r[0]) for r in train.select(vec_col).collect()], dtype=np.float64)
    sub = m.shape[1] // n_subspaces
    return np.stack(
        [
            _lloyd(m[:, s * sub : (s + 1) * sub], n_codes, seed + s, max_iter)
            for s in range(n_subspaces)
        ]
    )


def pq_encode(
    df: DataFrame,
    codebooks: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, code ARRAY<INT>): each vector compressed to one centroid id
    per subspace — 64 float32 dims become 8 small ints (32× smaller),
    which is what lets a 100 TB corpus's index fit cluster RAM.
    Vectorized mapInPandas; codebooks ride a broadcast."""
    spark = df.sparkSession
    bc = spark.sparkContext.broadcast(np.asarray(codebooks, dtype=np.float64))
    schema = T.StructType(
        [
            T.StructField(id_col, T.LongType(), False),
            T.StructField("code", T.ArrayType(T.IntegerType()), False),
        ]
    )

    def enc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cb = bc.value  # (S, K, sub)
        n_sub, _, sub = cb.shape
        for pdf in batches:
            if not len(pdf):
                continue
            m = np.array(list(pdf[vec_col]), dtype=np.float64)
            codes = np.empty((len(m), n_sub), dtype=np.int32)
            for s in range(n_sub):
                x = m[:, s * sub : (s + 1) * sub]
                d2 = ((x[:, None, :] - cb[s][None, :, :]) ** 2).sum(axis=2)
                codes[:, s] = d2.argmin(axis=1)
            yield pd.DataFrame({id_col: pdf[id_col].to_numpy(), "code": list(codes)})

    return fan_out(df.select(id_col, vec_col)).mapInPandas(enc, schema=schema)


def pq_topk(
    df: DataFrame,
    codebooks: np.ndarray,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    queries: DataFrame | None = None,
) -> DataFrame:
    """Encode-then-serve convenience wrapper around ``pq_topk_codes``
    (one-shot jobs / tests). A resident engine builds the code table
    once with ``build_index`` and serves via ``pq_index_topk``."""
    enc = pq_encode(df, codebooks, id_col=id_col, vec_col=vec_col)
    return pq_topk_codes(
        enc,
        codebooks,
        queries if queries is not None else df,
        k=k,
        id_col=id_col,
        vec_col=vec_col,
    )


def pq_topk_codes(
    codes: DataFrame,
    codebooks: np.ndarray,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_queries: int | None = MAX_BROADCAST_QUERIES,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over a PRE-ENCODED code table:
    (a, b, ad2, rk) with ad2 the approximate squared L2 distance,
    ascending rank, ties by neighbor id.

    ``codes`` is (id, code ARRAY<INT>) — typically the persisted
    ``build_index`` output, so serving never touches raw corpus
    vectors or retrains codebooks. Queries stay RAW (collected +
    broadcast — small by contract, like ``cosine_topk``); the corpus
    flows as CODES only. Per Arrow batch: one (n_queries ×
    n_subspaces × n_codes) distance-table build, then pure table
    lookups — no float math per corpus vector, which is the PQ
    bargain: scan cost ∝ code bytes, not raw-vector bytes."""
    q_df = queries.select(id_col, vec_col)
    q_rows = _collect_queries(
        q_df, max_queries, "pq_topk_codes",
        "ivf_pq_topk (cell-bucketed ADC report)",
    )
    if not q_rows:
        # same contract as cosine_topk: an empty query frame is a valid
        # request with an empty answer, not an (0,)-shape numpy crash
        return codes.sparkSession.createDataFrame(
            [], "a LONG, b LONG, ad2 DOUBLE, rk INT"
        )
    q_ids = np.fromiter((r[0] for r in q_rows), dtype=np.int64, count=len(q_rows))
    qm = np.array([r[1] for r in q_rows], dtype=np.float64)
    cb = np.asarray(codebooks, dtype=np.float64)  # (S, K, sub)
    n_sub, _, sub = cb.shape
    spark = codes.sparkSession
    bq = spark.sparkContext.broadcast((q_ids, qm, cb))
    margin = 2 * k + 8

    adc_schema = T.StructType(
        [
            T.StructField("a", T.LongType(), False),
            T.StructField("b", T.LongType(), False),
            T.StructField("ad2", T.DoubleType(), False),
        ]
    )

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ids, q, books = bq.value
        # distance tables: (nq, S, K) — built once per task, reused
        # for every batch of codes
        tables = np.stack(
            [
                ((q[:, s * sub : (s + 1) * sub][:, None, :] - books[s][None, :, :]) ** 2).sum(
                    axis=2
                )
                for s in range(n_sub)
            ],
            axis=1,
        )
        for pdf in batches:
            if not len(pdf):
                continue
            c_ids = pdf["_cid"].to_numpy(dtype=np.int64)
            codes = np.array(list(pdf["code"]), dtype=np.int64)  # (nb, S)
            ad2 = np.zeros((len(ids), len(c_ids)))
            for s in range(n_sub):
                ad2 += tables[:, s, codes[:, s]]
            yield _prune_candidates(ids, c_ids, ad2, margin, "ad2",
                                    ascending=True)

    # Kernel parallelism floor: a rebalance-sized code table lands in
    # few (possibly one) files at small scale, and a single Python
    # task serializes the whole ADC scan (measured 1.5-1.9 s vs
    # 0.75-0.9 s at 8-16 tasks at sf0.1). A quarter of the cluster
    # parallelism amortizes the per-task Python runner round-trip
    # (~20-30 ms each, measured) while still spreading the kernel; at
    # corpus scale the file splits already exceed this floor and
    # fan_out never shrinks, so this is a no-op there.
    kernel_target = max(1, spark.sparkContext.defaultParallelism // 4)
    enc = fan_out(codes.withColumnRenamed(id_col, "_cid"), kernel_target)
    cands = enc.mapInPandas(scan, schema=adc_schema).where(F.col("a") != F.col("b"))
    scored = cands.select("a", "b", F.round("ad2", 6).alias("ad2"))
    w = Window.partitionBy("a").orderBy(F.col("ad2").asc(), F.col("b").asc())
    return scored.withColumn("rk", F.row_number().over(w)).where(F.col("rk") <= k)


# ---------------------------------------------------- persisted ANN indexes
# Build once, serve many, ingest online, monitor, rebuild: the model
# lifecycle of the reference (train → publish a generation → serve →
# update online → retrain) over three index families, driven by one
# table (INDEX_KINDS). Each kind names its trained artifacts, its
# served tables and their encode kernel; build_index, reindex,
# fold_ann_increments, served_view and StreamingAnnIngest run every
# kind off that table.

INDEX_MANIFEST = "index_manifest.json"


def pq_quantization_error(
    df: DataFrame,
    codebooks: np.ndarray,
    vec_col: str = "embedding",
) -> dict:
    """Mean squared quantization error of ``codebooks`` over the
    corpus: per vector, Σ over subspaces of the distance to the
    NEAREST centroid (what PQ loses by construction). This is the
    index-health scalar the reindex policy watches — when the corpus
    distribution drifts away from the codebooks' training snapshot,
    reconstruction error rises even though every query still returns
    k results (ANN degrades silently, unlike a failing join).

    Scale: one vectorized narrow map (codebooks ride a broadcast, one
    (batch × codes) distance matrix per subspace) emitting per-batch
    partial (n, sum) rows; the aggregate is a two-number reduce.
    Returns {"n": vectors, "mean_sq_err": float}."""
    spark = df.sparkSession
    bc = spark.sparkContext.broadcast(np.asarray(codebooks, dtype=np.float64))
    schema = T.StructType(
        [
            T.StructField("n", T.LongType(), False),
            T.StructField("sum_err", T.DoubleType(), False),
        ]
    )

    def part(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        books = bc.value
        n_sub, _, sub = books.shape
        for pdf in batches:
            if not len(pdf):
                continue
            v = np.array(list(pdf[vec_col]), dtype=np.float64)
            err = np.zeros(len(v))
            for s in range(n_sub):
                blk = v[:, s * sub : (s + 1) * sub]
                d2 = ((blk[:, None, :] - books[s][None, :, :]) ** 2).sum(axis=2)
                err += d2.min(axis=1)
            yield pd.DataFrame({"n": [len(v)], "sum_err": [float(err.sum())]})

    row = (
        df.select(vec_col)
        .mapInPandas(part, schema=schema)
        .agg(F.sum("n").alias("n"), F.sum("sum_err").alias("s"))
        .collect()[0]
    )
    return {"n": int(row.n or 0), "mean_sq_err": float(row.s or 0.0) / max(int(row.n or 0), 1)}


def _drift_ratio(built: dict | None, cur_err: float) -> float:
    """current/built error, with the degenerate zero-baseline handled:
    a corpus with fewer distinct vectors than codes trains to exactly
    zero error, and cur/0 must not read as infinite drift when the
    current error is ALSO (numerically) zero — that would rebuild a
    perfectly healthy index on every monitor pass, forever."""
    if built is None:
        return float("inf")
    base = built["mean_sq_err"]
    if base > 0:
        return cur_err / base
    return 1.0 if cur_err <= 1e-12 else float("inf")


# Quantizer health. The coarse quantizer (centroid matrix) drifts like
# PQ codebooks: under distribution shift the assignment error rises
# and cells go unbalanced (skewed candidate lists) while every query
# still "works", so both get the same build-baseline → monitor →
# rebuild loop (reindex).


def ivf_cell_stats(
    df: DataFrame,
    centroids: np.ndarray,
    vec_col: str = "embedding",
    round_dp: int | None = None,
) -> DataFrame:
    """Per-cell health of a coarse quantizer as a DataFrame — (cell,
    n, mean_sq_err): each cell's population and its mean squared
    distance to the owning centroid. The per-cell breakdown is what an
    operator actually reads when the aggregate drifts: ONE hot cell
    with rising error means localized shift (split that cell / raise
    n_probe there), uniform rise means retrain.

    ``round_dp`` rounds each vector's assignment distance BEFORE the
    argmin (ties broken toward the lower cell id) and before the sum —
    the cross-engine ranking contract the DuckDB oracle replays; leave
    None for raw float64 in production.

    Scale: same shape as pq_quantization_error — broadcast centroids,
    one vectorized narrow map emitting per-batch per-cell partials,
    map-side-combined groupBy of O(cells) rows."""
    spark = df.sparkSession
    bc = spark.sparkContext.broadcast(np.asarray(centroids, dtype=np.float64))
    schema = T.StructType(
        [
            T.StructField("cell", T.IntegerType(), False),
            T.StructField("n", T.LongType(), False),
            T.StructField("sum_err", T.DoubleType(), False),
        ]
    )

    def part(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cents = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            v = np.array(list(pdf[vec_col]), dtype=np.float64)
            d2 = ((v[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            if round_dp is not None:
                d2 = np.round(d2, round_dp)
            assign = d2.argmin(axis=1)  # first min = lowest cell id on ties
            err = d2[np.arange(len(v)), assign]
            cells, inv = np.unique(assign, return_inverse=True)
            yield pd.DataFrame(
                {
                    "cell": cells.astype("int32"),
                    "n": np.bincount(inv),
                    "sum_err": np.bincount(inv, weights=err),
                }
            )

    agg = (
        df.select(vec_col)
        .mapInPandas(part, schema=schema)
        .groupBy("cell")
        .agg(F.sum("n").alias("n"), F.sum("sum_err").alias("_s"))
    )
    mean = F.col("_s") / F.col("n")
    if round_dp is not None:
        mean = F.round(mean, round_dp)
    return agg.select("cell", "n", mean.alias("mean_sq_err"))


def pq_subspace_error(
    df: DataFrame,
    codebooks: np.ndarray,
    vec_col: str = "embedding",
    round_dp: int | None = None,
) -> DataFrame:
    """Per-subspace PQ quantization error as a DataFrame — (subspace,
    n, mean_sq_err). The aggregate monitor (pq_quantization_error)
    says THAT the index drifted; this says WHERE: embedding dims live
    in fixed subspace slices, so a localized feature shift (one
    upstream encoder change, one modality) lights up specific
    subspaces while the rest stay at baseline. Same scale shape:
    broadcast codebooks, vectorized narrow map, O(subspaces) shuffle
    rows per partition. ``round_dp`` as in ivf_cell_stats."""
    spark = df.sparkSession
    bc = spark.sparkContext.broadcast(np.asarray(codebooks, dtype=np.float64))
    schema = T.StructType(
        [
            T.StructField("subspace", T.IntegerType(), False),
            T.StructField("n", T.LongType(), False),
            T.StructField("sum_err", T.DoubleType(), False),
        ]
    )

    def part(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        books = bc.value
        n_sub, _, sub = books.shape
        for pdf in batches:
            if not len(pdf):
                continue
            v = np.array(list(pdf[vec_col]), dtype=np.float64)
            out_n, out_err = [], []
            for s in range(n_sub):
                blk = v[:, s * sub : (s + 1) * sub]
                d2 = ((blk[:, None, :] - books[s][None, :, :]) ** 2).sum(axis=2)
                if round_dp is not None:
                    d2 = np.round(d2, round_dp)
                out_n.append(len(v))
                out_err.append(float(d2.min(axis=1).sum()))
            yield pd.DataFrame(
                {
                    "subspace": np.arange(n_sub, dtype="int32"),
                    "n": out_n,
                    "sum_err": out_err,
                }
            )

    agg = (
        df.select(vec_col)
        .mapInPandas(part, schema=schema)
        .groupBy("subspace")
        .agg(F.sum("n").alias("n"), F.sum("sum_err").alias("_s"))
    )
    mean = F.col("_s") / F.col("n")
    if round_dp is not None:
        mean = F.round(mean, round_dp)
    return agg.select("subspace", "n", mean.alias("mean_sq_err"))


def ivf_assignment_stats(
    df: DataFrame,
    centroids: np.ndarray,
    vec_col: str = "embedding",
) -> dict:
    """Health scalars of a coarse quantizer over the corpus: mean
    squared distance to the NEAREST centroid (assignment error — the
    drift signal, rises when the corpus moves away from the training
    snapshot) and the largest cell's population share (cell balance —
    a skewed quantizer concentrates candidates in one cell and the
    within-cell scan degrades toward brute force).

    One kernel, two shapes: the scalars are the weighted fold of
    :func:`ivf_cell_stats`' O(cells) output (same broadcast narrow map
    and map-side-combined groupBy — a duplicated mapper here is how a
    tie-break or empty-batch fix would get applied once and missed
    once). Returns {"n", "mean_sq_err", "max_cell_frac", "n_cells"}."""
    rows = ivf_cell_stats(df, centroids, vec_col=vec_col).collect()
    n = sum(int(r.n) for r in rows)
    return {
        "n": n,
        "mean_sq_err": (
            sum(float(r.mean_sq_err) * int(r.n) for r in rows) / n if n else 0.0
        ),
        "max_cell_frac": (max(int(r.n) for r in rows) / n) if n else 0.0,
        "n_cells": int(np.asarray(centroids).shape[0]),
    }


def assign_members(
    df: DataFrame,
    centroids: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Coarse-quantizer cell assignment KEEPING the vector — (id, vec,
    cell) — the members-table row shape. Delegates to
    :func:`assign_cells` (the one shared E-step kernel: distances
    rounded 6 dp before the argmin, lowest-cell tie-break, the same
    probe contract as _probe_cells) so a vector's home cell and a
    query's probed cells can never disagree on ties. No shuffle."""
    return assign_cells(
        df, centroids, id_col=id_col, vec_col=vec_col, extra_cols=(vec_col,)
    ).select(id_col, vec_col, "cell")



def ivfpq_encode(
    df: DataFrame,
    centroids: np.ndarray,
    codebooks: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Fused IVF-PQ encode — (id, code ARRAY<INT>, cell) in ONE
    broadcast narrow map: home-cell assignment (6-dp-rounded argmin,
    lowest-cell ties — the assign_cells contract) + PQ code
    (per-subspace argmin — the pq_encode contract). The batch build's
    corpus pass and the streaming increment lane share this kernel, so
    a streamed row's (cell, code) pair can never diverge from what the
    build would have produced for the same vector. An ivfpq index is the
    FAISS staple's persisted serving shape: coarse centroids pick the
    cells, PQ codes price the candidates, and the codes land
    partitioned by cell, so a point lookup reads O(n_probe) partitions
    of n_subspaces-byte codes (ivfpq_query_topk); ``ivf_pq_topk`` is
    the all-pairs report over raw vectors."""
    spark = df.sparkSession
    cents = np.asarray(centroids, dtype=np.float64)
    cb = np.asarray(codebooks, dtype=np.float64)
    bc = spark.sparkContext.broadcast((cents, cb))
    schema = T.StructType(
        [
            T.StructField(id_col, T.LongType(), False),
            T.StructField("code", T.ArrayType(T.IntegerType()), False),
            T.StructField("cell", T.IntegerType(), False),
        ]
    )

    def enc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cents_, cb_ = bc.value
        n_sub, _, sub = cb_.shape
        for pdf in batches:
            if not len(pdf):
                continue
            m = np.array(list(pdf[vec_col]), dtype=np.float64)
            d2 = np.round(((m[:, None, :] - cents_[None, :, :]) ** 2).sum(axis=2), 6)
            cells = d2.argmin(axis=1).astype(np.int32)
            codes = np.empty((len(m), n_sub), dtype=np.int32)
            for s in range(n_sub):
                x = m[:, s * sub : (s + 1) * sub]
                codes[:, s] = (
                    ((x[:, None, :] - cb_[s][None, :, :]) ** 2).sum(axis=2).argmin(axis=1)
                )
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy(),
                    "code": list(codes),
                    "cell": cells,
                }
            )

    return fan_out(df.select(id_col, vec_col)).mapInPandas(enc, schema=schema)


class _Quantizer(NamedTuple):
    """One trained artifact of a persisted index."""

    stats_key: str  # its key in a two-quantizer stats.json, and report prefix
    dims: tuple[str, ...]  # names of the leading array dimensions
    schema: str  # parquet row shape: index columns, then the centroid
    train: Callable[..., np.ndarray]  # (df, {dim: size}, **trainer_kwargs)
    measure: Callable[..., dict]


_QUANTIZERS = {
    "centroids": _Quantizer(
        "coarse", ("cells",), "cell INT, centroid ARRAY<DOUBLE>",
        lambda df, shape, **kw: train_ivf_codebook(
            df, n_cells=shape["cells"], **kw),
        ivf_assignment_stats,
    ),
    "codebooks": _Quantizer(
        "pq", ("subspaces", "codes"),
        "subspace INT, code INT, centroid ARRAY<DOUBLE>",
        lambda df, shape, **kw: train_pq_codebooks(
            df, n_subspaces=shape["subspaces"], n_codes=shape["codes"], **kw),
        pq_quantization_error,
    ),
}


def _encode_members(df, arts, id_col, vec_col):
    return assign_members(df, arts["centroids"], id_col=id_col, vec_col=vec_col)


@dataclass(frozen=True, eq=False)
class IndexKind:
    """One persisted ANN index family.

    ``artifacts`` are its trained quantizers in training order
    (``centroids``: the coarse IVF cells; ``codebooks``: the PQ
    subspace codebooks). ``tables`` maps each served table, in write
    order, to the kernel that encodes corpus rows into it; the batch
    build and the streaming ingest share that kernel, so a streamed
    row is exactly what the build would have written for the same
    vector. A ``members`` table (raw vectors by cell, for point lookups
    and the ivfpq refine stage) is written only on request; the LAST
    table is the one every query scans. A table whose rows carry a
    ``cell`` lands partitioned ``cell=C``."""

    name: str
    artifacts: tuple[str, ...]
    tables: dict[str, Callable[..., DataFrame]]

    def measure(self, df: DataFrame, arts: dict, vec_col: str) -> dict:
        """Health of each quantizer over ``df``, keyed ``coarse`` (mean
        squared assignment error and cell balance) and ``pq`` (mean
        squared quantization error): the drift signal reindex watches."""
        return {
            _QUANTIZERS[a].stats_key: _QUANTIZERS[a].measure(
                df, arts[a], vec_col=vec_col)
            for a in self.artifacts
        }


INDEX_KINDS = {
    k.name: k
    for k in (
        IndexKind("pq", ("codebooks",), {
            "codes": lambda df, a, i, v: pq_encode(df, a["codebooks"], i, v),
        }),
        IndexKind("ivf", ("centroids",), {"members": _encode_members}),
        # members BEFORE codes: a serve between an ingest's two writes
        # then sees a not-yet-visible candidate (harmless) instead of a
        # code whose exact vector is missing (the rerank would raise)
        IndexKind("ivfpq", ("centroids", "codebooks"), {
            "members": _encode_members,
            "codes": lambda df, a, i, v: ivfpq_encode(
                df, a["centroids"], a["codebooks"], i, v),
        }),
    )
}


def read_index_manifest(spark, path: str) -> dict:
    """Manifest of a persisted ANN index: ``{"kind": "pq"|"ivf"|"ivfpq",
    "generation": N}``. Every writer (build, reindex, fold) writes it
    LAST, as the commit marker, so a directory without one is not an
    index or holds an incomplete build, and reading it raises.

    The GENERATION is the coherence token the lifecycle hangs on: every
    rebuild bumps it, every served table and increment partition is
    stamped with it, and serving reads and ingest workers compare
    against it, so codes encoded under one generation's artifacts can
    never be served against another generation's (the
    silent-wrong-neighbor failure mode)."""
    mpath = fsutil.join(path, INDEX_MANIFEST)
    if not fsutil.exists(spark, mpath):
        raise IOError(
            f"{path} is not an index or incomplete build: no "
            f"{INDEX_MANIFEST} (every build writes it last)"
        )
    return json.loads(fsutil.read_text(spark, mpath))


def _write_index_manifest(spark, path: str, kind: str, generation: int) -> None:
    fsutil.replace_text(
        spark,
        fsutil.join(path, INDEX_MANIFEST),
        json.dumps({"kind": kind, "generation": int(generation)}),
    )


def load_artifact(spark, path: str, name: str) -> np.ndarray:
    """A persisted quantizer as an array: (cells, dim) centroids or
    (subspaces, codes, sub_dim) codebooks."""
    rows = spark.read.parquet(fsutil.join(path, name)).collect()
    keys = [tuple(r[:-1]) for r in rows]
    out = np.empty(tuple(np.max(keys, axis=0) + 1) + (len(rows[0][-1]),))
    for key, r in zip(keys, rows):
        out[key] = r[-1]
    return out


def _write_artifact(spark, path: str, name: str, arr: np.ndarray) -> None:
    rows = [(*ix, [float(x) for x in arr[ix]]) for ix in np.ndindex(arr.shape[:-1])]
    spark.createDataFrame(rows, _QUANTIZERS[name].schema).write.mode(
        "overwrite"
    ).parquet(fsutil.join(path, name))


def _dims(arts: dict) -> dict:
    """{"cells": C, "subspaces": S, "codes": K}, as far as present."""
    return {
        d: int(n)
        for a, arr in arts.items()
        for d, n in zip(_QUANTIZERS[a].dims, arr.shape)
    }


def load_index(spark, path: str) -> tuple[IndexKind, dict, int]:
    """``(kind, artifacts, generation)`` of the index at ``path``, all
    bound to ONE manifest generation: a swap landing while the
    artifacts load raises instead of pairing them with another
    generation's tables. Pass the generation on to
    :func:`served_view` as ``expected_generation``."""
    m = read_index_manifest(spark, path)
    kind = INDEX_KINDS[m["kind"]]
    arts = {a: load_artifact(spark, path, a) for a in kind.artifacts}
    if read_index_manifest(spark, path)["generation"] != m["generation"]:
        raise IOError(
            f"index at {path} was rebuilt while its artifacts were "
            f"loading; retry against the current index."
        )
    return kind, arts, m["generation"]


def persisted_tables(spark, path: str, kind: IndexKind) -> list[str]:
    """The kind's served tables this index holds, in write order."""
    return [
        t for t in kind.tables
        if t != "members" or fsutil.is_dir(spark, fsutil.join(path, t))
    ]


def _read_stats(spark, path: str, kind: IndexKind) -> dict | None:
    """Build-time quantizer health from ``stats.json``, keyed as
    :meth:`IndexKind.measure` keys it (None if not recorded). The file
    holds the one quantizer's stats flat, or both keyed."""
    p = fsutil.join(path, "stats.json")
    if not fsutil.exists(spark, p):
        return None
    stats = json.loads(fsutil.read_text(spark, p))
    if len(kind.artifacts) == 1:
        return {_QUANTIZERS[kind.artifacts[0]].stats_key: stats}
    return stats


def _write_table(df: DataFrame, out: str) -> None:
    """Write one served table. REBALANCE first (guide §6): the encode
    fan-out would otherwise land one tiny file per task (64 files for a
    560 KB fixture code table, 234 for 2 MB of members — measured), and
    every serve scan then pays per-file open plus one Python-runner
    task per file. AQE sizes the output by advisoryPartitionSizeInBytes,
    so a 100 TB table still splits into ~128 MB files."""
    cells = [F.col("cell")] if "cell" in df.columns else []
    w = df.hint("rebalance", *cells).write.mode("overwrite")
    (w.partitionBy("cell") if cells else w).parquet(out)


def build_index(
    df: DataFrame,
    path: str,
    kind: str = "pq",
    n_cells: int = 8,
    n_subspaces: int = 16,
    n_codes: int = 32,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    sample_fraction: float | None = None,
    centroids: np.ndarray | None = None,
    codebooks: np.ndarray | None = None,
    record_stats: bool = False,
    generation: int = 0,
    persist_members: bool = False,
) -> dict[str, np.ndarray]:
    """Persist an ANN index of ``kind`` (see INDEX_KINDS) at ``path``:
    train each artifact on the corpus (or take the given ``centroids``
    / ``codebooks``, e.g. the shared pyarrow trainers' output, which is
    how the catalog queries stay bit-identical to their DuckDB oracle
    builders), write it, encode the corpus into each served table
    under ``<table>/gen=G``, and write the manifest LAST, as the
    commit marker. Returns the artifacts by name.

    The generation stamp on the tables makes a swap mid-serve fail
    LOUD for an in-flight reader instead of silently mixing: a reader
    that loaded generation G's artifacts finds ``gen=G`` gone and
    raises. Leave ``generation`` at 0 for a fresh build; reindex and
    fold bump it.

    ``persist_members=True`` also writes ``members`` for the kinds
    that have one: the raw corpus partitioned by cell, which turns an
    ivf lookup into an O(n_probe) partition read (ivf_members_topk),
    gives an ivf index a streaming lane, and enables the ivfpq refine
    stage (ivfpq_query_topk(rerank=N)). Without members an ivf index
    serves candidates from the query-time corpus and is exactly as
    fresh as that corpus.

    ``record_stats=True`` writes ``stats.json`` with each quantizer's
    build-time health, the baseline :func:`reindex` compares against
    (opt-in: one extra corpus pass per quantizer)."""
    spec = INDEX_KINDS[kind]
    given = {"centroids": centroids, "codebooks": codebooks}
    shape = {"cells": n_cells, "subspaces": n_subspaces, "codes": n_codes}
    spark = df.sparkSession
    arts = {}
    for a in spec.artifacts:
        arts[a] = (
            np.asarray(given[a], dtype=np.float64)
            if given[a] is not None
            else _QUANTIZERS[a].train(
                df, shape, vec_col=vec_col, seed=seed,
                sample_fraction=sample_fraction,
            )
        )
        _write_artifact(spark, path, a, arts[a])
    for table, encode in spec.tables.items():
        if table != "members" or persist_members:
            _write_table(encode(df, arts, id_col, vec_col),
                        fsutil.join(path, table, f"gen={generation}"))
    if record_stats:
        stats = spec.measure(df, arts, vec_col)
        fsutil.replace_text(
            spark, fsutil.join(path, "stats.json"),
            json.dumps(stats if len(stats) > 1 else next(iter(stats.values()))),
        )
    _write_index_manifest(spark, path, kind, generation)
    return arts


def served_view(
    spark,
    path: str,
    table: str,
    cells: list[int] | None = None,
    id_col: str = "vec_id",
    expected_generation: int | None = None,
) -> DataFrame:
    """The serving view of one persisted table (``codes`` or
    ``members``): the base ``<table>/gen=G`` plus the streaming
    increments under ``<table>_increments/gen=G``, latest batch winning
    per id (the base has batch −1, so any increment supersedes it).
    Columns are the table's own: (id, code) for pq codes, (id, code,
    cell) for ivfpq codes, (id, vec, cell) for members.

    ``expected_generation`` pins the read for a caller that loaded the
    artifacts at that generation (:func:`load_index`); None reads the
    manifest's. If the pinned base is gone the index was swapped
    mid-serve, and the read raises: serving another generation's codes
    or cells under these artifacts would be silently wrong. Increments
    of other generations (debris a racing worker wrote during a swap)
    are never read.

    ``cells`` prunes the base read to those cell partitions (the
    O(n_probe) IO contract of a point lookup). The increments are read
    in FULL even then: a re-sent id may have MOVED cells, so its latest
    row can live in a partition the query did not probe; the latest
    row's cell then decides visibility, so an id whose newest vector
    left the probed cells is dropped, never served stale. The tail
    stays small between folds (fold_ann_increments, reindex)."""
    gen = (
        expected_generation
        if expected_generation is not None
        else read_index_manifest(spark, path)["generation"]
    )
    base_dir = fsutil.join(path, table, f"gen={gen}")
    if not fsutil.is_dir(spark, base_dir):
        raise IOError(
            f"{table} table for generation {gen} not found under "
            f"{path}/{table}: the index was rebuilt (or is incomplete) "
            f"between the artifact load and this read. Retry against "
            f"the current index."
        )
    base = spark.read.parquet(base_dir)
    cols = [F.col(c).cast("int").alias(c) if c == "cell" else F.col(c)
            for c in base.columns]
    base = base.select(*cols)
    if cells is not None:
        base = base.where(F.col("cell").isin([int(c) for c in cells]))
    inc_dir = fsutil.join(path, f"{table}_increments", f"gen={gen}")
    if not fsutil.list_names(spark, inc_dir, dirs_only=True):
        # no live tail: base ids are unique by construction, so the
        # recency window (a shuffle on every point lookup) is skipped
        return base
    inc = spark.read.parquet(inc_dir).select(
        *cols, F.col("batch_id").cast("long").alias("_b"))
    w = Window.partitionBy(id_col).orderBy(F.col("_b").desc())
    out = (
        base.withColumn("_b", F.lit(-1).cast("long"))
        .unionByName(inc)
        .withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") == 1)
        .drop("_b", "_rk")
    )
    if cells is not None:
        out = out.where(F.col("cell").isin([int(c) for c in cells]))
    return out


def live_increment_census(
    spark, path: str, table: str, generation: int
) -> tuple[list[str], int]:
    """``(live, stale)``: the batch partitions of ``table``'s
    increments servable at ``generation``, and the count of
    other-generation dirs awaiting cleanup. Listing calls only, no
    data read, so it is safe against a 100 TB index."""
    root = fsutil.join(path, f"{table}_increments")
    live: list[str] = []
    stale = 0
    for g in fsutil.list_names(spark, root, dirs_only=True):
        gdir = fsutil.join(root, g)
        if g == f"gen={generation}":
            live = [fsutil.join(gdir, b)
                    for b in fsutil.list_names(spark, gdir, dirs_only=True)]
        elif g.startswith("gen="):
            stale += 1
    return live, stale


def _replace_index(spark, path: str, write: Callable[[str], object]):
    """Run ``write(tmp)`` into the ``<path>.rebuilding`` dir, then swap
    it in by rename-aside (fsutil.swap_dir, maintenance-window
    contract). Returns what ``write`` returned.

    The dir doubles as an INTENT MARKER, created before ``write``
    runs: ingest workers refuse to COMMIT a batch while it exists (the
    post-write check in StreamingAnnIngest), so every batch committed
    before the marker is on disk when ``write`` reads the served view,
    and every later batch replays after the swap. No batch can land
    and commit inside the read→swap window and be discarded with the
    increments. A refused or failed ``write`` removes the marker; a
    crash leaves it, and ingest fails loud until the rebuild is re-run
    (which clears the debris first): fail-stop, never lossy."""
    tmp = path.rstrip("/") + ".rebuilding"
    fsutil.delete(spark, tmp)  # stale debris from a prior crash
    fsutil.mkdirs(spark, tmp)
    try:
        out = write(tmp)
    except BaseException:
        fsutil.delete(spark, tmp)  # unblock ingest
        raise
    fsutil.swap_dir(spark, path, tmp, "index")
    return out


def reindex(
    spark,
    path: str,
    df: DataFrame,
    max_drift: float = 1.2,
    force: bool = False,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    allow_missing: bool = False,
) -> dict:
    """Monitor → reindex half of the ANN lifecycle (the Faiss-ops
    policy loop), for every kind: measure each quantizer of the
    SERVING index over the current corpus ``df``, compare to its
    build-time baseline (``stats.json``), and when any ratio exceeds
    ``max_drift`` (or under ``force``) rebuild at generation+1 and swap
    it in. ANN degrades silently under distribution shift (queries
    still return k results, just worse ones), and the quantizers of an
    ivfpq index drift independently, so each is watched. Cell balance
    (built vs current max_cell_frac) rides along where there are
    cells: balance decay under a healthy error ratio is the early skew
    warning. Returns a report: ``action`` healthy | rebuilt |
    stats-missing, with the drift ratios, errors, and on a rebuild the
    new shape, generation and ``dropped_ids``.

    COVERAGE GATE: the swap discards the increments (encoded under the
    outgoing artifacts) and rebuilds every table from ``df``, so each
    CURRENTLY SERVED id, base or increment, read through the same view
    serving uses, must appear in ``df``: the anti-join count must be 0,
    else refuse. ``allow_missing=True`` is the deliberate shrink (a
    corpus that dropped ids on purpose); the report records
    ``dropped_ids``. The gate runs after the intent marker exists
    (_replace_index), so its served set is complete. An ivf index
    without members has nothing served to cover: its centroids are a
    pure function of ``df``.

    THE GATE PROVES ID COVERAGE ONLY, not recency: an id whose latest
    embedding arrived as an increment passes the gate even when ``df``
    holds its older embedding, and the swap then reverts it. So the
    rebuild input must be the latest corpus snapshot, taken at or after
    the last landed batch.

    An index without a baseline reports ``stats-missing`` and rebuilds
    only under ``force``: silently assuming health would defeat the
    monitor."""
    kind, arts, gen = load_index(spark, path)
    cur = kind.measure(df, arts, vec_col)
    built = _read_stats(spark, path, kind)
    pre = {q: "" if len(cur) == 1 else f"{q}_" for q in cur}
    head = {"kind": kind.name}
    if built is None and not force:
        return {**head, "action": "stats-missing",
                **{f"current_{pre[q]}err": s["mean_sq_err"] for q, s in cur.items()}}
    report = {}
    ratio = {q: _drift_ratio(built and built[q], s["mean_sq_err"])
             for q, s in cur.items()}
    for q in cur:
        report[f"{pre[q]}drift_ratio"] = round(ratio[q], 4) if built else None
    for q in cur:
        report[f"built_{pre[q]}err"] = built[q]["mean_sq_err"] if built else None
    for q, s in cur.items():
        report[f"current_{pre[q]}err"] = s["mean_sq_err"]
    if "coarse" in cur:
        report["current_max_cell_frac"] = cur["coarse"]["max_cell_frac"]
    if not force and max(ratio.values()) <= max_drift:
        if "coarse" in cur:
            report["built_max_cell_frac"] = built["coarse"].get("max_cell_frac")
        return {**head, "action": "healthy", **report}
    tables = persisted_tables(spark, path, kind)

    def rebuild(tmp: str):
        dropped = 0
        if tables:
            served = served_view(spark, path, tables[-1], id_col=id_col,
                                 expected_generation=gen).select(id_col)
            dropped = served.join(df.select(id_col), id_col, "left_anti").count()
            if dropped and not allow_missing:
                raise ValueError(
                    f"reindex: {dropped} served id(s) (base or streaming "
                    f"increments) are missing from the rebuild input; the "
                    f"swap would silently drop them from serving. Rebuild "
                    f"from a corpus that covers every served id, or pass "
                    f"allow_missing=True to shrink deliberately."
                )
        new = build_index(
            df, tmp, kind.name, id_col=id_col, vec_col=vec_col, seed=seed,
            record_stats=True, generation=gen + 1,
            persist_members="members" in tables,
            **{f"n_{d}": n for d, n in _dims(arts).items()},
        )
        return dropped, new, _read_stats(spark, tmp, kind)

    dropped, new, stats = _replace_index(spark, path, rebuild)
    for q, s in stats.items():
        report[f"rebuilt_{pre[q]}err"] = s["mean_sq_err"]
    if "coarse" in stats:
        report["rebuilt_max_cell_frac"] = stats["coarse"]["max_cell_frac"]
    return {**head, "action": "rebuilt", **report, **_dims(new),
            "generation": gen + 1, "dropped_ids": dropped}


def fold_ann_increments(spark, path: str, id_col: str = "vec_id") -> dict:
    """Fold an index's live increment tail into its base tables
    WITHOUT retraining: the cheap tail-bounding maintenance between
    drift-triggered reindexes. Every point lookup reads the full tail
    (cell-move correctness, see served_view), so a long-running ingest
    degrades lookups toward tail scans until something folds it; a
    reindex does, but retrains. This rewrites each served table through
    the SAME view serving reads, as the new base at generation+1 with
    the artifacts and baselines unchanged, and swaps it in.

    The generation bump without retraining is sound: codes and cells
    stay valid because the artifacts that produced them are unchanged;
    the bump retires the folded tail dirs and trips live ingest workers
    into a reload, so the retried batch lands under the new generation.
    The intent marker guards the fold exactly as in reindex, and no
    coverage gate is needed because the fold input IS the served view.
    An ivf index without members has nothing to fold."""
    kind, arts, gen = load_index(spark, path)
    tables = persisted_tables(spark, path, kind)
    if not tables:
        # decided before the intent marker exists, which would otherwise
        # leak and block ingest until removed by hand
        return {"action": "no-members", "generation": gen}

    def write(tmp: str) -> int:
        for a, arr in arts.items():
            _write_artifact(spark, tmp, a, arr)
        stats_path = fsutil.join(path, "stats.json")
        if fsutil.exists(spark, stats_path):
            fsutil.replace_text(spark, fsutil.join(tmp, "stats.json"),
                                fsutil.read_text(spark, stats_path))
        for t in tables:  # members and codes fold in lockstep
            _write_table(
                served_view(spark, path, t, id_col=id_col, expected_generation=gen),
                fsutil.join(tmp, t, f"gen={gen + 1}"),
            )
        # count the WRITTEN base (footer metadata, no re-run of the window)
        n = spark.read.parquet(fsutil.join(tmp, tables[-1], f"gen={gen + 1}")).count()
        _write_index_manifest(spark, tmp, kind.name, gen + 1)
        return n

    n = _replace_index(spark, path, write)
    return {"action": "folded", "kind": kind.name, "generation": gen + 1,
            "base_rows": int(n)}


def pq_index_topk(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ADC top-k over a persisted PQ index: the codebooks and the
    MERGED code view (base plus current-generation increments) bound
    to one generation, so a swap mid-serve raises instead of pairing
    old codebooks with new codes. The serve path of ann-query and the
    pq_topk catalog query."""
    _kind, arts, gen = load_index(spark, path)
    codes = served_view(spark, path, "codes", id_col=id_col,
                        expected_generation=gen)
    return pq_topk_codes(codes, arts["codebooks"], queries, k=k,
                         id_col=id_col, vec_col=vec_col)


def ivf_members_topk(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_queries: int | None = MAX_BROADCAST_QUERIES,
) -> DataFrame:
    """Point-lookup IVF serve over a PERSISTED members table —
    (a, b, cos_sim, rk), same probe/mask/tie contract as
    :func:`ivf_query_topk` (each query ranked strictly against its own
    ``n_probe`` cells) but without the query-time corpus scan: the
    probed cells' partitions are the only base IO, plus the live
    increment tail. This is the 100 TB point-lookup shape; the
    corpus-scan variant remains for indexes built without members.

    Swap coherence: the generation the centroids loaded under is
    pinned through the members read (served_view), so a reindex
    completing mid-lookup raises loudly rather than ranking the new
    generation's cell assignments under probes from the old centroids."""
    _kind, arts, gen = load_index(spark, path)
    centers = arts["centroids"]
    q_rows = _collect_queries(
        queries.select(id_col, vec_col), max_queries, "ivf_members_topk",
        "ivf_kmeans_topk (per-cell self-join report)",
    )
    if not q_rows:
        return spark.createDataFrame([], "a LONG, b LONG, cos_sim DOUBLE, rk INT")
    q_ids, qm, qnorm = _query_matrices(q_rows, len(q_rows[0][1]))
    allowed = _probe_cells(qm, centers, n_probe)
    probed = [int(c) for c in np.flatnonzero(allowed.any(axis=0))]
    members = served_view(spark, path, "members", cells=probed,
                          id_col=id_col, expected_generation=gen)
    bq = spark.sparkContext.broadcast((q_ids, qnorm, allowed))
    margin = 2 * k + 8

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ids, q, mask = bq.value
        for pdf in batches:
            if not len(pdf):
                continue
            yield _score_masked(
                ids, q, mask,
                pdf[id_col].to_numpy(dtype=np.int64),
                np.array(list(pdf[vec_col]), dtype=np.float64),
                pdf["cell"].to_numpy(dtype=np.int64),
                margin,
            )

    cands = members.mapInPandas(scan, CAND_SCHEMA).where(F.col("a") != F.col("b"))
    return _rank_topk(cands, k)


def ivfpq_query_topk(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_queries: int | None = MAX_BROADCAST_QUERIES,
    rerank: int | None = None,
) -> DataFrame:
    """Point-lookup serve over a persisted IVF-PQ index —
    (a, b, ad2, rk), ascending rounded ADC distance, ties to the lower
    id.

    ``rerank=N`` is the FAISS refine stage: keep each query's top-N
    ADC candidates (N ≥ k), fetch their EXACT vectors from the
    members table (``build_index(kind="ivfpq", persist_members=True)``
    plus member increments, through served_view like the IVF lane) from
    the probed cells' partitions only, and re-rank top-k on exact
    squared L2 — output (a, b, d2, rk) with ``d2`` the exact rounded
    distance. ADC error comes from quantization; the refine pass
    removes it for the short list at the cost of N raw-vector reads
    per query. An index without members refuses loudly; a candidate
    id missing from the members view (codes/members increments out of
    sync mid-crash) raises in the kernel rather than silently serving
    a shorter list. Each query's n_probe nearest cells come from a driver-side
    argmin over the tiny centroid matrix; the code read is the MERGED
    serving view (:func:`served_view`: base partitions pruned to
    the probed cells, plus the current-generation streaming increment
    tail), so vectors landed by StreamingAnnIngest serve immediately;
    inside the kernel each query prices ONLY its own probed cells'
    members (per-query mask — reproducible vs a single-query run, same
    contract as ivf_members_topk). Per Arrow batch the cost is
    n_subspaces table lookups per member: the scan touches code bytes,
    never raw vectors. Swap coherence: the generation is read once and
    pinned through the code read — a rebuild completing mid-serve
    raises loudly instead of pricing new codes with old codebooks."""
    _kind, arts, gen = load_index(spark, path)
    cents, cb = arts["centroids"], arts["codebooks"]
    q_rows = _collect_queries(
        queries.select(id_col, vec_col), max_queries, "ivfpq_query_topk",
        "ivf_pq_topk (per-cell all-pairs report)",
    )
    if not q_rows:
        col = "ad2" if rerank is None else "d2"
        return spark.createDataFrame([], f"a LONG, b LONG, {col} DOUBLE, rk INT")
    q_ids, qm, _ = _query_matrices(q_rows, len(q_rows[0][1]))
    allowed = _probe_cells(qm, cents, n_probe)
    probed = [int(c) for c in np.flatnonzero(allowed.any(axis=0))]

    codes = served_view(spark, path, "codes", cells=probed, id_col=id_col,
                        expected_generation=gen)

    bq = spark.sparkContext.broadcast((q_ids, qm, allowed, cb))
    # the batch prune must keep at least the refine shortlist: with
    # rerank > 2k+8 a margin-limited batch could evict a true ADC
    # top-N candidate whose EXACT distance would have won
    margin = max(2 * k + 8, rerank or 0)
    n_sub, _, sub = cb.shape

    adc_schema = T.StructType(
        [
            T.StructField("a", T.LongType(), False),
            T.StructField("b", T.LongType(), False),
            T.StructField("ad2", T.DoubleType(), False),
        ]
    )

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ids, q, mask, books = bq.value
        # per-query subspace distance tables, built once per task —
        # the same raw-accumulate-then-round contract as pq_topk_codes
        tables = np.stack(
            [
                ((q[:, s * sub : (s + 1) * sub][:, None, :] - books[s][None, :, :]) ** 2).sum(axis=2)
                for s in range(n_sub)
            ],
            axis=1,
        )
        for pdf in batches:
            if not len(pdf):
                continue
            c_ids = pdf[id_col].to_numpy(dtype=np.int64)
            ccodes = np.array(list(pdf["code"]), dtype=np.int64)
            cells = pdf["cell"].to_numpy(dtype=np.int64)
            ad2 = np.zeros((len(ids), len(c_ids)))
            for s in range(n_sub):
                ad2 += tables[:, s, ccodes[:, s]]
            # per-query cell contract: members outside THIS query's
            # probed cells are invisible to it
            ad2[~mask[:, cells]] = np.inf
            yield _prune_candidates(ids, c_ids, ad2, margin, "ad2",
                                    ascending=True)

    cands = codes.mapInPandas(scan, schema=adc_schema).where(F.col("a") != F.col("b"))
    scored = cands.select("a", "b", F.round("ad2", 6).alias("ad2"))
    w = Window.partitionBy("a").orderBy(F.col("ad2").asc(), F.col("b").asc())
    if rerank is None:
        return scored.withColumn("rk", F.row_number().over(w).cast("int")).where(
            F.col("rk") <= k
        )

    if not fsutil.is_dir(spark, fsutil.join(path, "members")):
        raise ValueError(
            f"ivfpq_query_topk(rerank={rerank}): index {path} has no "
            f"members table — the refine stage needs exact vectors. "
            f"Build with build_index(kind='ivfpq', persist_members=True) (CLI: "
            f"build-ann-index --kind ivfpq --persist-members), or serve "
            f"ADC-only (rerank=None)."
        )
    n_cand = max(int(rerank), k)
    short = (
        scored.withColumn("_ark", F.row_number().over(w))
        .where(F.col("_ark") <= n_cand)
        .select("a", "b")
    )
    members = served_view(spark, path, "members", cells=probed, id_col=id_col,
                          expected_generation=gen)
    joined = short.join(
        members.select(F.col(id_col).alias("b"), F.col(vec_col).alias("_bvec")),
        "b",
        "left",
    )
    bq2 = spark.sparkContext.broadcast((q_ids, qm))

    exact_schema = T.StructType(
        [
            T.StructField("a", T.LongType(), False),
            T.StructField("b", T.LongType(), False),
            T.StructField("d2", T.DoubleType(), False),
        ]
    )

    def refine(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ids, q = bq2.value
        pos = {int(i): j for j, i in enumerate(ids)}
        for pdf in batches:
            if not len(pdf):
                continue
            if pdf["_bvec"].isna().any():
                missing = pdf.loc[pdf["_bvec"].isna(), "b"].tolist()[:5]
                raise ValueError(
                    f"ivfpq rerank: candidate id(s) {missing} are in the "
                    f"code view but missing from the members view — the "
                    f"two increment lanes are out of sync (crash between "
                    f"the member and code writes of one batch?); replay "
                    f"the batch or reindex rather than silently serving "
                    f"a shorter candidate list."
                )
            qa = np.fromiter((pos[int(x)] for x in pdf["a"]),
                             dtype=np.int64, count=len(pdf))
            bm = np.array(list(pdf["_bvec"]), dtype=np.float64)
            d2 = ((q[qa] - bm) ** 2).sum(axis=1)
            yield pd.DataFrame(
                {
                    "a": pdf["a"].to_numpy(dtype=np.int64),
                    "b": pdf["b"].to_numpy(dtype=np.int64),
                    "d2": d2,
                }
            )

    exact = joined.mapInPandas(refine, schema=exact_schema)
    rescored = exact.select("a", "b", F.round("d2", 6).alias("d2"))
    w2 = Window.partitionBy("a").orderBy(F.col("d2").asc(), F.col("b").asc())
    return rescored.withColumn("rk", F.row_number().over(w2).cast("int")).where(
        F.col("rk") <= k
    )


def pq_codebooks_from_parquet(
    sf_dir: str,
    n_subspaces: int = 16,
    n_codes: int = 32,
    vec_col: str = "embedding",
    seed: int = 42,
    max_iter: int = 10,
) -> np.ndarray:
    """Train PQ codebooks straight from the fixture parquet (pyarrow,
    no Spark) — same trick as ``codebook_from_parquet``: the serve-side
    index build and the DuckDB oracle builder call THIS function, so
    both sides hold bit-identical codebooks and the whole PQ pipeline
    becomes hash-checkable. Memoized per fixture identity (train-once,
    serve-many)."""
    import os as _os

    import pyarrow.parquet as _pq

    key = ("pq", _fixture_key(sf_dir, "embeddings"), n_subspaces, n_codes, seed, vec_col, max_iter)
    if key not in _TRAINER_CACHE:
        t = _pq.read_table(_os.path.join(sf_dir, "embeddings.parquet"))
        m = np.array(t.column(vec_col).to_pylist(), dtype=np.float64)
        sub = m.shape[1] // n_subspaces
        _TRAINER_CACHE[key] = np.stack(
            [
                _lloyd(m[:, s * sub : (s + 1) * sub], n_codes, seed + s, max_iter)
                for s in range(n_subspaces)
            ]
        )
    return _TRAINER_CACHE[key]


def assign_cells(
    df: DataFrame,
    codebook: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Nearest-centroid assignment: (id, *extra, cell, d2) — the
    k-means E-step as a vectorized mapInPandas (one matmul-shaped
    broadcast-difference per Arrow batch, centroids ride a broadcast).
    d2 is rounded to 6 dp and ties go to the lowest cell id (the
    oracle-reproducible ranking contract shared with ivf_kmeans_topk).
    """
    centers = np.asarray(codebook, dtype=np.float64)
    spark = df.sparkSession
    bc = spark.sparkContext.broadcast(centers)
    fields = [T.StructField(id_col, T.LongType(), False)]
    in_schema = {f.name: f.dataType for f in df.schema.fields}
    fields += [T.StructField(c, in_schema[c], True) for c in extra_cols]
    fields += [
        T.StructField("cell", T.IntegerType(), False),
        T.StructField("d2", T.DoubleType(), False),
    ]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        c = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            m = np.array(list(pdf[vec_col]), dtype=np.float64)
            d2 = np.round(((m[:, None, :] - c[None, :, :]) ** 2).sum(axis=2), 6)
            order = np.argsort(d2, axis=1, kind="stable")
            cell = order[:, 0]
            out = {id_col: pdf[id_col].to_numpy()}
            for col in extra_cols:
                out[col] = pdf[col].to_numpy()
            out["cell"] = cell.astype(np.int32)
            out["d2"] = d2[np.arange(len(m)), cell]
            yield pd.DataFrame(out)

    # dedupe: vec_col may itself ride along as an extra output column
    # (assign_members keeps the vector for the members-table row shape)
    cols = [id_col, *extra_cols]
    if vec_col not in cols:
        cols.append(vec_col)
    return fan_out(df.select(*cols)).mapInPandas(run, schema=T.StructType(fields))


def kmeans_cluster_profile(
    df: DataFrame,
    codebook: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Per-cluster profile of a fixed-seed k-means clustering over the
    embedding corpus: (cell, n, sse, top_label, label_share) — size,
    within-cluster sum of squared (rounded) distances, the majority
    class label (tie → smallest label), and its share of the cluster.
    The topic-clustering readout a curation pipeline uses to inspect /
    rebalance semantic regions (ClusterClip-style sampling starts
    exactly from this table).

    Scale: assignment is map-only (broadcast centroids); both aggs key
    on cell — one shuffle of (cell, label) partials. The cluster table
    is model-scale. SSE sums 6-dp-rounded d2 values, so the float
    summation-order slack is ~1e-12 per 1e6 rows — the 4-dp output
    round absorbs it.
    """
    a = assign_cells(df, codebook, id_col=id_col, vec_col=vec_col, extra_cols=(label_col,))
    per_label = a.groupBy("cell", label_col).agg(
        F.count("*").alias("n_lab"), F.sum("d2").alias("sse_lab")
    )
    w = Window.partitionBy("cell").orderBy(
        F.col("n_lab").desc(), F.col(label_col).asc()
    )
    return (
        per_label.withColumn("rk", F.row_number().over(w))
        .groupBy("cell")
        .agg(
            F.sum("n_lab").cast("long").alias("n"),
            F.round(F.sum("sse_lab"), 4).alias("sse"),
            F.max(F.when(F.col("rk") == 1, F.col(label_col))).alias("top_label"),
            F.round(
                F.max(F.when(F.col("rk") == 1, F.col("n_lab"))) / F.sum("n_lab"), 6
            ).alias("label_share"),
        )
    )


def knn_classify(
    df: DataFrame,
    k: int = 5,
    every: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """k-NN classification of a deterministic held-out slice
    (``id % every == 0``) against the rest of the corpus: top-k cosine
    neighbors vote; majority label wins, ties to the smaller label.
    Returns (vec_id, true_label, pred_label, correct).

    The eval slice is small by construction, so it rides
    ``cosine_topk``'s broadcast-queries contract; the corpus side
    streams. One candidate shuffle + one (a, label) vote agg.
    """
    queries = df.where((F.col(id_col) % every) == 0)
    corpus = df.where((F.col(id_col) % every) != 0)
    nn = cosine_topk(corpus, k=k, id_col=id_col, vec_col=vec_col, queries=queries)
    votes = (
        nn.join(
            df.select(F.col(id_col).alias("b"), F.col(label_col).alias("nb_label")),
            "b",
        )
        .groupBy("a", "nb_label")
        .agg(F.count("*").alias("n_votes"))
    )
    w = Window.partitionBy("a").orderBy(F.col("n_votes").desc(), F.col("nb_label").asc())
    pred = votes.withColumn("rk", F.row_number().over(w)).where(F.col("rk") == 1)
    return (
        pred.join(
            df.select(F.col(id_col).alias("a"), F.col(label_col).alias("true_label")),
            "a",
        )
        .select(
            F.col("a").alias(id_col),
            "true_label",
            F.col("nb_label").alias("pred_label"),
            (F.col("nb_label") == F.col("true_label")).cast("int").alias("correct"),
        )
    )


def ivf_pq_topk(
    df: DataFrame,
    codebook: np.ndarray,
    pq_codebooks: np.ndarray,
    k: int = 5,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-PQ ANN (the FAISS staple, Jégou et al. 2011 §V): coarse
    k-means cells restrict the candidate set (IVF), and within a cell
    distances are asymmetric-distance computations over PQ codes —
    the query's raw vector builds one (n_subspaces × n_codes) lookup
    table, each member costs n_subspaces table lookups instead of a
    d-dim float scan. Returns (a, b, ad2, rk): top-k by rounded ADC
    distance, ascending, ties to the lower id.

    Scale: this is THE architecture for corpus-scale ANN — memory per
    vector is n_subspaces bytes (codes), the only shuffle keys on
    cell, probes multiply query-side rows only (n_probe ×), and the
    scan inside a cell is an O(n_sub) gather per member. Codebooks
    (coarse + PQ) are a few KB of broadcast. Skewed cells are the
    known hot spot, same mitigation as ivf_kmeans_topk.

    Accumulation order over subspaces is fixed (s = 0..S-1) so the
    float64 ADC sums are bit-reproducible by the oracle's numpy
    replay.
    """
    centers = np.asarray(codebook, dtype=np.float64)
    pq = np.asarray(pq_codebooks, dtype=np.float64)
    spark = df.sparkSession
    bc = spark.sparkContext.broadcast(centers)
    bpq = spark.sparkContext.broadcast(pq)

    assign_schema = T.StructType(
        [
            T.StructField(id_col, T.LongType(), False),
            T.StructField(vec_col, T.ArrayType(T.DoubleType()), False),
            T.StructField("cell", T.IntegerType(), False),
            T.StructField("is_member", T.BooleanType(), False),
        ]
    )

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        c = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            m = np.array(list(pdf[vec_col]), dtype=np.float64)
            d2 = np.round(((m[:, None, :] - c[None, :, :]) ** 2).sum(axis=2), 6)
            order = np.argsort(d2, axis=1, kind="stable")[:, :n_probe]
            n = len(pdf)
            for p in range(order.shape[1]):
                yield pd.DataFrame(
                    {
                        id_col: pdf[id_col].to_numpy(),
                        vec_col: pdf[vec_col],
                        "cell": order[:, p].astype(np.int32),
                        "is_member": np.full(n, p == 0),
                    }
                )

    assigned = fan_out(df.select(id_col, vec_col)).mapInPandas(
        assign, schema=assign_schema
    )
    out_schema = T.StructType(
        [
            T.StructField("a", T.LongType(), False),
            T.StructField("b", T.LongType(), False),
            T.StructField("ad2", T.DoubleType(), False),
        ]
    )
    margin = 2 * k + 8

    def per_cell(pdf: pd.DataFrame) -> pd.DataFrame:
        cb = bpq.value  # (S, K, sub)
        n_sub, _, sub = cb.shape
        ids = pdf[id_col].to_numpy(dtype=np.int64)
        member = pdf["is_member"].to_numpy(dtype=bool)
        m = np.array(list(pdf[vec_col]), dtype=np.float64)
        mem = m[member]
        mem_ids = ids[member]
        if not len(mem):
            return pd.DataFrame({"a": [], "b": [], "ad2": []}).astype(
                {"a": np.int64, "b": np.int64, "ad2": np.float64}
            )
        # encode members (the index's codes; build-once in a real
        # deployment — see build_index for the persisted form)
        codes = np.empty((len(mem), n_sub), dtype=np.int64)
        for s in range(n_sub):
            x = mem[:, s * sub : (s + 1) * sub]
            codes[:, s] = (
                ((x[:, None, :] - cb[s][None, :, :]) ** 2).sum(axis=2).argmin(axis=1)
            )
        # ADC: per-query subspace tables, accumulate in subspace order
        ad2 = np.zeros((len(m), len(mem)))
        for s in range(n_sub):
            tbl = ((m[:, s * sub : (s + 1) * sub][:, None, :] - cb[s][None, :, :]) ** 2).sum(
                axis=2
            )  # (q, K)
            ad2 += tbl[:, codes[:, s]]
        same = ids[:, None] == mem_ids[None, :]
        ad2[same] = np.inf
        return _prune_candidates(ids, mem_ids, ad2, margin, "ad2",
                                 ascending=True)

    # pinned cell-count shuffle (see ivf_topk): keeps the per-cell
    # encode+ADC kernels parallel across cells instead of AQE-coalesced
    # onto one Python task
    cands = (
        assigned.repartition(
            keyed_kernel_width(assigned, len(centers)), "cell"
        )
        .groupBy("cell")
        .applyInPandas(per_cell, schema=out_schema)
    )
    cands = cands.groupBy("a", "b").agg(F.min("ad2").alias("ad2"))
    w = Window.partitionBy("a").orderBy(F.col("ad2").asc(), F.col("b").asc())
    return cands.withColumn("rk", F.row_number().over(w).cast("int")).where(
        F.col("rk") <= k
    )


def sq8_stats(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Scalar 8-bit quantization (SQ8 — the FAISS ScalarQuantizer
    baseline): per-dimension min/max over the corpus define a linear
    byte code per component (4× smaller than float32, no training
    loop, unlike PQ). Returns per-vector
    (vec_id, code_sum, n_dims, recon_mse):
    code_sum = Σ codes (the checksum an index build would verify),
    recon_mse = mean squared dequantization error, rounded 6 dp.

    Scale: ONE corpus aggregate produces the 2·d-number stats vector
    (model-scale, collected + broadcast as literals — the codebook
    pattern); encoding is a codegen'd zip_with map, no Python, no
    second shuffle. The same stats vector serves every future encode
    (memoizable per fixture like the PQ codebooks).
    """
    d = df.select(F.posexplode(vec_col).alias("i", "x")).groupBy("i").agg(
        F.min("x").alias("mn"), F.max("x").alias("mx")
    )
    stats = {int(r["i"]): (float(r["mn"]), float(r["mx"])) for r in d.collect()}
    dims = sorted(stats)
    mins = F.array(*[F.lit(stats[i][0]).cast("double") for i in dims])
    spans = F.array(
        *[
            F.lit(
                (stats[i][1] - stats[i][0]) if stats[i][1] > stats[i][0] else 1.0
            ).cast("double")
            for i in dims
        ]
    )
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    codes = F.zip_with(
        F.zip_with(v, mins, lambda x, mn: x - mn),
        spans,
        lambda cent, sp: F.round(cent / sp * F.lit(255.0), 0),
    )
    deq = F.zip_with(
        F.zip_with(codes, spans, lambda c, sp: c / F.lit(255.0) * sp),
        mins,
        lambda scaled, mn: scaled + mn,
    )
    err2 = F.zip_with(v, deq, lambda x, y: (x - y) * (x - y))
    return df.select(
        id_col,
        F.aggregate(codes, F.lit(0.0), lambda a, c: a + c)
        .cast("long")
        .alias("code_sum"),
        F.size(vec_col).alias("n_dims"),
        F.round(
            F.aggregate(err2, F.lit(0.0), lambda a, e: a + e) / F.size(vec_col), 6
        ).alias("recon_mse"),
    )


def pca_from_parquet(
    sf_dir: str, k: int = 3, vec_col: str = "embedding", table: str = "embeddings"
) -> tuple[np.ndarray, np.ndarray]:
    """Top-k PCA (mean, components (k, d)) trained driver-side from
    the fixture parquet — the codebook pattern (train once on a
    sample, broadcast a model-scale artifact; at 100 TB the input is
    a sample either way). Deterministic: numpy ``eigh`` on the exact
    covariance, descending eigenvalues, sign fixed so each
    component's largest-|entry| is positive. Memoized per fixture."""
    import pyarrow.parquet as pq

    key = ("pca", _fixture_key(sf_dir, table), k, vec_col)
    if key not in _TRAINER_CACHE:
        t = pq.read_table(os.path.join(sf_dir, f"{table}.parquet"), columns=[vec_col])
        m = np.array(t.column(vec_col).to_pylist(), dtype=np.float64)
        mean = m.mean(axis=0)
        c = m - mean
        cov = (c.T @ c) / (len(m) - 1)
        vals, vecs = np.linalg.eigh(cov)
        order = np.argsort(vals)[::-1][:k]
        comps = vecs[:, order].T  # (k, d)
        for j in range(len(comps)):
            i_max = int(np.abs(comps[j]).argmax())
            if comps[j, i_max] < 0:
                comps[j] = -comps[j]
        _TRAINER_CACHE[key] = (mean, comps)
    return _TRAINER_CACHE[key]


def pca_scores(
    df: DataFrame,
    mean: np.ndarray,
    comps: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(vec_id, pc1..pck): project each vector onto the PCA
    components — the 2/3-D map of the embedding corpus (cluster
    inspection, outlier hunting). The projection is a codegen'd
    SEQUENTIAL fold per component (matches DuckDB's list_sum order
    exactly, so 6-dp rounding is cross-engine-safe — a numpy matmul's
    pairwise summation would not be), with mean/components inlined as
    literals: map-only, no shuffle, no Python in the row path."""
    mean_arr = F.array(*[F.lit(float(x)).cast("double") for x in mean])
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    centered = F.zip_with(v, mean_arr, lambda x, mu: x - mu)
    cols = [F.col(id_col)]
    for j, comp in enumerate(comps, start=1):
        comp_arr = F.array(*[F.lit(float(x)).cast("double") for x in comp])
        prods = F.zip_with(centered, comp_arr, lambda x, w: x * w)
        cols.append(
            F.round(
                F.aggregate(prods, F.lit(0.0), lambda a, p: a + p), 6
            ).alias(f"pc{j}")
        )
    return df.select(*cols)
