"""Round-2 data-mixing / sampling / clustering queries: DSIR
importance weights, UniMax water-filling, temperature sampling,
deterministic epoch ordering, curriculum phases, k-means cluster
profiles, k-NN classification, and IVF-PQ ANN.

Same contract as every plans module: Spark goes through package
operators, the DuckDB oracle spells identical semantics (md5 hashing,
rational math, explicit rounding on both engines).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from flink_ms_spark.operators.mixing import (
    dsir_weights,
    interleave_sources,
    quality_curriculum,
    seeded_shuffle,
    temperature_mix,
    unimax_alloc,
)
from flink_ms_spark.plans.northstar import _DUCK_TOKS as _DUCK_TOKS_MIX
from flink_ms_spark.plans.registry import register, values_clause
from flink_ms_spark.sources.tables import load_table

_TOKS = "string_split_regex(trim(text), '\\s+')"
_NTOK = f"len({_TOKS})"

# --------------------------------------------------------------------------
# DSIR importance weights (Xie et al. 2023): hashed-unigram
# log-likelihood ratio of target domain (source = 'src0') vs raw.

_DSIR_ORACLE = f"""
WITH tok AS (SELECT doc_id, source, unnest({_TOKS}) AS t FROM documents),
b AS (SELECT doc_id, source,
        CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT) % 64 AS bkt
      FROM tok),
pdb AS (SELECT doc_id, source, bkt, count(*) AS n FROM b GROUP BY ALL),
raw AS (SELECT bkt, sum(n) AS n_raw FROM pdb GROUP BY bkt),
tgt AS (SELECT bkt, sum(n) AS n_tgt FROM pdb WHERE source = 'src0' GROUP BY bkt),
spine AS (SELECT raw.bkt, n_raw, coalesce(n_tgt, 0) AS n_tgt
          FROM raw LEFT JOIN tgt USING (bkt)),
ratio AS (SELECT bkt,
            CAST(round((ln((n_tgt + 1) / (sum(n_tgt) OVER () + 64))
                - ln((n_raw + 1) / (sum(n_raw) OVER () + 64))) * 1000000.0, 0)
              AS BIGINT) AS lr6
          FROM spine)
SELECT doc_id, CAST(sum(n) AS INT) AS n_tokens,
       round(sum(n * lr6) / 1000000.0, 6) AS logw
FROM pdb JOIN ratio USING (bkt)
GROUP BY doc_id
"""


@register("dsir_weights", oracle=_DSIR_ORACLE)
def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc DSIR importance log-weight vs the src0 target domain."""
    return dsir_weights(load_table(spark, sf_dir, "documents"))


# --------------------------------------------------------------------------
# UniMax language allocation (Chung et al. 2023): water-fill half the
# corpus token budget, ≤ 2 epochs per language.

_UNIMAX_ORACLE = f"""
WITH per AS (SELECT lang, CAST(sum({_NTOK}) AS BIGINT) AS n_tokens
             FROM documents GROUP BY lang),
t AS (SELECT lang, n_tokens, n_tokens * 2 AS cap,
        round(sum(n_tokens) OVER () * 0.5, 0) AS budget,
        row_number() OVER (ORDER BY n_tokens * 2 ASC, lang ASC) AS rk,
        count(*) OVER () AS k,
        coalesce(sum(n_tokens * 2) OVER (ORDER BY n_tokens * 2 ASC, lang ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prev
      FROM per),
t2 AS (SELECT *, (budget - prev) / (k - rk + 1) AS theta FROM t),
tc AS (SELECT *, min(CASE WHEN cap >= theta THEN rk END) OVER () AS cross_rk
       FROM t2),
t3 AS (SELECT *, max(CASE WHEN rk = cross_rk THEN theta END) OVER () AS theta_star
       FROM tc)
SELECT lang, n_tokens, CAST(cap AS BIGINT) AS cap_tokens,
  round(least(CAST(cap AS DOUBLE), coalesce(theta_star, CAST(cap AS DOUBLE))), 4)
    AS alloc_tokens,
  round(least(CAST(cap AS DOUBLE), coalesce(theta_star, CAST(cap AS DOUBLE)))
        / n_tokens, 6) AS epochs
FROM t3
"""


@register("unimax_alloc", oracle=_UNIMAX_ORACLE)
def q_unimax_alloc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epoch-capped token-budget waterfill across languages."""
    return unimax_alloc(load_table(spark, sf_dir, "documents"))


# --------------------------------------------------------------------------
# Temperature-scaled sampling shares (T = 3).

_TEMP_ORACLE = f"""
WITH per AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum({_NTOK}) AS BIGINT) AS n_tokens
             FROM documents GROUP BY lang),
t AS (SELECT *, n_tokens / CAST(sum(n_tokens) OVER () AS DOUBLE) AS rs,
        pow(n_tokens / CAST(sum(n_tokens) OVER () AS DOUBLE),
            1.0 / 3.0) AS pw
      FROM per)
SELECT lang, n_docs, n_tokens,
  round(rs, 6) AS raw_share,
  round(pw / sum(pw) OVER (), 6) AS temp_share,
  round(pw / sum(pw) OVER () / rs, 6) AS boost
FROM t
"""


@register("temperature_mix", oracle=_TEMP_ORACLE)
def q_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """p_l ∝ share^(1/3) language sampling weights + boost factors."""
    return temperature_mix(load_table(spark, sf_dir, "documents"))


# --------------------------------------------------------------------------
# Deterministic epoch orders: round-robin interleave + seeded shuffle.

_INTERLEAVE_ORACLE = """
WITH r AS (SELECT doc_id, source,
             row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
           FROM documents)
SELECT doc_id, source,
       CAST(row_number() OVER (ORDER BY rn, source) AS BIGINT) AS pos
FROM r
"""


@register("interleave_sources", oracle=_INTERLEAVE_ORACLE)
def q_interleave_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-robin source interleave as a global training order."""
    return interleave_sources(load_table(spark, sf_dir, "documents"))


_SHUFFLE_ORACLE = """
WITH h AS (SELECT doc_id,
             md5('epoch0:' || CAST(doc_id AS VARCHAR)) AS hh
           FROM documents)
SELECT doc_id, CAST(row_number() OVER (ORDER BY hh, doc_id) AS BIGINT) AS pos
FROM h
"""


@register("seeded_shuffle", oracle=_SHUFFLE_ORACLE)
def q_seeded_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded md5 permutation — reproducible epoch shuffle."""
    return seeded_shuffle(load_table(spark, sf_dir, "documents"), seed="epoch0")


# --------------------------------------------------------------------------
# Quality curriculum: 3 token-budget phases over an easy→hard ranking.

_CURRICULUM_ORACLE = f"""
WITH s AS (SELECT doc_id,
             CAST({_NTOK} AS INT) AS n_tokens,
             round(len(regexp_replace(text, '\\s+', '', 'g'))
                   / CAST({_NTOK} AS DOUBLE), 6) AS score
           FROM documents),
c AS (SELECT *, sum(n_tokens) OVER (ORDER BY score, doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
           sum(n_tokens) OVER () AS total
      FROM s)
SELECT doc_id, n_tokens, score,
  CAST(least(3, CAST(ceil(cum * 3 / CAST(total AS DOUBLE)) AS INT)) AS INT)
    AS phase
FROM c
"""


@register("quality_curriculum", oracle=_CURRICULUM_ORACLE)
def q_quality_curriculum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative-token curriculum phases over a quality ordering."""
    return quality_curriculum(load_table(spark, sf_dir, "documents"))


# --------------------------------------------------------------------------
# k-means cluster profile — fixed-seed centroids (shared pyarrow
# trainer) embedded in the oracle as literals, like _ivf_kmeans_oracle.


def _kmeans_profile_oracle() -> str:
    from flink_ms_spark.operators.similarity import codebook_from_parquet

    sf_dir = os.environ.get("SPARK_GRAFT_SF_ORACLE", "/root/testdata/sf0.01")
    centers = codebook_from_parquet(sf_dir, n_cells=8, seed=42)
    rows = ", ".join(
        "({}, [{}]::DOUBLE[])".format(i, ", ".join(repr(float(x)) for x in c))
        for i, c in enumerate(centers)
    )
    return f"""
WITH e AS (SELECT vec_id, label,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
cent AS (SELECT * FROM (VALUES {rows}) t(cell, c)),
d AS (SELECT e.vec_id, e.label, cent.cell,
        round(list_sum(list_transform(generate_series(1, len(e.v)),
                i -> (e.v[i] - cent.c[i]) * (e.v[i] - cent.c[i]))), 6) AS d2
      FROM e CROSS JOIN cent),
a AS (SELECT vec_id, label, cell, d2,
        row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS prk
      FROM d),
asg AS (SELECT * FROM a WHERE prk = 1),
pl AS (SELECT cell, label, count(*) AS n_lab, sum(d2) AS sse_lab
       FROM asg GROUP BY cell, label),
plr AS (SELECT *, row_number() OVER (PARTITION BY cell
              ORDER BY n_lab DESC, label ASC) AS rk
        FROM pl)
SELECT CAST(cell AS INT) AS cell, CAST(sum(n_lab) AS BIGINT) AS n,
  round(sum(sse_lab), 4) AS sse,
  max(CASE WHEN rk = 1 THEN label END) AS top_label,
  round(max(CASE WHEN rk = 1 THEN n_lab END) / CAST(sum(n_lab) AS DOUBLE), 6)
    AS label_share
FROM plr GROUP BY cell
"""


@register("kmeans_doc_clusters", oracle=_kmeans_profile_oracle)
def q_kmeans_doc_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster size / SSE / majority-label profile of the 8-cell
    fixed-seed k-means over the embedding corpus."""
    from flink_ms_spark.operators.similarity import (
        codebook_from_parquet,
        kmeans_cluster_profile,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    cb = codebook_from_parquet(sf_dir, n_cells=8, seed=42)
    return kmeans_cluster_profile(emb, cb)


# --------------------------------------------------------------------------
# k-NN classification of the id%10 held-out slice.

_KNN_ORACLE = """
WITH e AS (SELECT vec_id, label,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
n AS (SELECT vec_id, label, v,
        CASE WHEN sqrt(list_sum(list_transform(v, x -> x * x))) = 0
             THEN CAST(1 AS DOUBLE)
             ELSE sqrt(list_sum(list_transform(v, x -> x * x))) END AS nrm
      FROM e),
q AS (SELECT * FROM n WHERE vec_id % 10 = 0),
c AS (SELECT * FROM n WHERE vec_id % 10 <> 0),
p AS (SELECT q.vec_id AS a, c.vec_id AS b, c.label AS nb_label,
        round(list_dot_product(q.v, c.v) / (q.nrm * c.nrm), 6) AS cos_sim
      FROM q CROSS JOIN c),
rkd AS (SELECT a, b, nb_label,
          row_number() OVER (PARTITION BY a ORDER BY cos_sim DESC, b) AS rk
        FROM p),
topk AS (SELECT a, nb_label FROM rkd WHERE rk <= 5),
votes AS (SELECT a, nb_label, count(*) AS n_votes FROM topk GROUP BY a, nb_label),
vr AS (SELECT a, nb_label,
         row_number() OVER (PARTITION BY a ORDER BY n_votes DESC, nb_label ASC)
           AS rk
       FROM votes),
pred AS (SELECT a, nb_label FROM vr WHERE rk = 1)
SELECT pred.a AS vec_id, e2.label AS true_label, pred.nb_label AS pred_label,
  CAST(CASE WHEN pred.nb_label = e2.label THEN 1 ELSE 0 END AS INT) AS correct
FROM pred JOIN e e2 ON e2.vec_id = pred.a
"""


@register("knn_classify", oracle=_KNN_ORACLE)
def q_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-NN majority-vote classification of the held-out slice."""
    from flink_ms_spark.operators.similarity import knn_classify

    return knn_classify(load_table(spark, sf_dir, "embeddings"), k=5, every=10)


# --------------------------------------------------------------------------
# IVF-PQ ANN — oracle is a bit-identical numpy replay (same pyarrow
# trainers, same rounded-probe assignment, same subspace-order ADC
# accumulation), embedded as VALUES like _pq_oracle.


def _ivf_pq_expected_sql(every: int | None, rerank: int | None = None) -> str:
    """Shared numpy replay behind the IVF-PQ oracles: coarse
    assignment (rounded 6 dp, stable ties), per-query 2-cell probe,
    PQ encode, subspace-order ADC accumulation, ascending (ad2, b)
    rank — embedded as VALUES. ``every`` restricts the query side to
    ids divisible by it (the ivfpq_lookup serve slice); ``None`` is
    the all-pairs report. ``rerank=N`` replays the refine stage:
    top-N by (rounded ad2, id), then EXACT squared L2 over those
    candidates, top-k ascending (rounded d2, id) — the
    ivfpq_rerank contract (columns a, b, d2, rk)."""
    import numpy as np
    import pyarrow.parquet as papq

    from flink_ms_spark.operators.similarity import (
        codebook_from_parquet,
        pq_codebooks_from_parquet,
    )

    sf_dir = os.environ.get("SPARK_GRAFT_SF_ORACLE", "/root/testdata/sf0.01")
    centers = codebook_from_parquet(sf_dir, n_cells=8, seed=42)
    cb = pq_codebooks_from_parquet(sf_dir, n_subspaces=16, n_codes=32, seed=42)
    t = papq.read_table(os.path.join(sf_dir, "embeddings.parquet"))
    ids = np.asarray(t.column("vec_id").to_pylist(), dtype=np.int64)
    m = np.array(t.column("embedding").to_pylist(), dtype=np.float64)
    n_sub, _, sub = cb.shape
    d2c = np.round(((m[:, None, :] - centers[None, :, :]) ** 2).sum(axis=2), 6)
    probes = np.argsort(d2c, axis=1, kind="stable")[:, :2]
    member_cell = probes[:, 0]
    codes = np.empty((len(m), n_sub), dtype=np.int64)
    for s in range(n_sub):
        x = m[:, s * sub : (s + 1) * sub]
        codes[:, s] = (
            ((x[:, None, :] - cb[s][None, :, :]) ** 2).sum(axis=2).argmin(axis=1)
        )
    out = []
    for qi in range(len(ids)):
        if every is not None and ids[qi] % every:
            continue
        # candidates: members of the two probed cells, excluding self
        cand = np.where(np.isin(member_cell, probes[qi]) & (ids != ids[qi]))[0]
        if not len(cand):
            continue
        ad2 = np.zeros(len(cand))
        for s in range(n_sub):
            tbl = ((m[qi, s * sub : (s + 1) * sub][None, :] - cb[s]) ** 2).sum(axis=1)
            ad2 += tbl[codes[cand, s]]
        ad2 = np.round(ad2, 6)
        if rerank is not None:
            short = sorted(
                range(len(cand)), key=lambda j: (ad2[j], ids[cand[j]])
            )[:rerank]
            d2 = {
                j: round(float(((m[qi] - m[cand[j]]) ** 2).sum()), 6)
                for j in short
            }
            order = sorted(short, key=lambda j: (d2[j], ids[cand[j]]))[:5]
            out.extend(
                (int(ids[qi]), int(ids[cand[j]]), float(d2[j]), rk + 1)
                for rk, j in enumerate(order)
            )
            continue
        order = sorted(range(len(cand)), key=lambda j: (ad2[j], ids[cand[j]]))[:5]
        out.extend(
            (int(ids[qi]), int(ids[cand[j]]), float(ad2[j]), rk + 1)
            for rk, j in enumerate(order)
        )
    col = "d2" if rerank is not None else "ad2"
    rows = ", ".join(f"({a}, {b}, {d!r}, {rk})" for a, b, d, rk in out)
    return (
        f"SELECT a, b, CAST({col} AS DOUBLE) AS {col}, CAST(rk AS INT) AS rk "
        + values_clause(rows, f"t(a, b, {col}, rk)")
    )


def _ivf_pq_oracle() -> str:
    return _ivf_pq_expected_sql(every=None)


def _ivfpq_lookup_oracle() -> str:
    return _ivf_pq_expected_sql(every=100)


def _ivfpq_rerank_oracle() -> str:
    return _ivf_pq_expected_sql(every=100, rerank=20)


@register("ivf_pq_topk", oracle=_ivf_pq_oracle)
def q_ivf_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ: coarse cells (8, n_probe 2) + 16×32 ADC scan."""
    from flink_ms_spark.operators.similarity import (
        codebook_from_parquet,
        ivf_pq_topk,
        pq_codebooks_from_parquet,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    centers = codebook_from_parquet(sf_dir, n_cells=8, seed=42)
    cb = pq_codebooks_from_parquet(sf_dir, n_subspaces=16, n_codes=32, seed=42)
    return ivf_pq_topk(emb, centers, cb, k=5, n_probe=2)


def _ivfpq_index_dir(sf_dir: str) -> str:
    """Cache location for the persisted IVF-PQ index, keyed on the
    fixture file's identity (same pattern as pipeline._pq_index_dir /
    northstar._ivf_members_index_dir). v3: rebalance-sized files (v2:
    # members table)
    (the rerank lane shares this index; the ADC path never reads it)."""
    import hashlib
    import tempfile

    f = os.path.join(sf_dir, "embeddings.parquet")
    st = os.stat(f)
    key = hashlib.md5(
        f"v3:{f}:{st.st_mtime_ns}:{st.st_size}".encode()
    ).hexdigest()[:12]
    return os.path.join(tempfile.gettempdir(), f"flink_ms_ivfpq_{key}")


def _ensure_ivfpq_index(spark: SparkSession, sf_dir: str) -> str:
    """Build-once guard shared by ivfpq_lookup / ivfpq_rerank: both
    serve the SAME persisted index (codes + members), trained by the
    shared pyarrow trainers so the oracles' numpy replay is
    bit-identical."""
    from flink_ms_spark.operators.similarity import (
        build_ivfpq_index,
        codebook_from_parquet,
        pq_codebooks_from_parquet,
    )

    idx = _ivfpq_index_dir(sf_dir)
    if not os.path.exists(os.path.join(idx, "codes", "gen=0", "_SUCCESS")):
        build_ivfpq_index(
            load_table(spark, sf_dir, "embeddings"),
            idx,
            centroids=codebook_from_parquet(sf_dir, n_cells=8, seed=42),
            pq_codebooks=pq_codebooks_from_parquet(
                sf_dir, n_subspaces=16, n_codes=32, seed=42
            ),
            persist_members=True,
        )
    return idx


@register("ivfpq_lookup", oracle=_ivfpq_lookup_oracle)
def q_ivfpq_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-lookup serve over the PERSISTED IVF-PQ index
    (operators/similarity.py:ivfpq_query_topk): coarse centroids + PQ
    codebooks + the code table partitioned by cell land once
    (build_ivfpq_index), then each lookup reads only its probed cells'
    code partitions — O(n_probe) partition IO of n_subspaces-byte
    codes, the cheapest corpus-scale ANN serve — with each query in
    the batch priced strictly against ITS OWN probed cells. Queries
    are the deterministic vec_id % 100 slice; both trainers are the
    shared pyarrow ones, so the DuckDB oracle's numpy replay
    (assignment, probe, subspace-order ADC, rank) is bit-identical to
    ivf_pq_topk's — same contract, persisted serve shape."""
    from pyspark.sql import functions as F

    from flink_ms_spark.operators.similarity import ivfpq_query_topk

    idx = _ensure_ivfpq_index(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where((F.col("vec_id") % 100) == 0)
    return ivfpq_query_topk(spark, idx, queries, k=5, n_probe=2)


@register("ivfpq_rerank", oracle=_ivfpq_rerank_oracle)
def q_ivfpq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ serve with the FAISS refine stage
    (operators/similarity.py:ivfpq_query_topk(rerank=20)): each
    query's top-20 ADC candidates re-rank on EXACT squared L2 fetched
    from the probed cells' member partitions (the index persists
    members beside codes — build_ivfpq_index(persist_members=True)).
    Output (a, b, d2, rk) is exact distance — the quantization error
    the ADC-only lookup carries is removed for the short list at the
    cost of 20 raw-vector rows per query, the standard accuracy/IO
    dial. Same deterministic query slice and shared trainers as
    ivfpq_lookup, so the DuckDB oracle's numpy replay (ADC shortlist →
    exact re-rank, both with id tie-breaks on rounded values) is
    bit-identical."""
    from pyspark.sql import functions as F

    from flink_ms_spark.operators.similarity import ivfpq_query_topk

    idx = _ensure_ivfpq_index(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where((F.col("vec_id") % 100) == 0)
    return ivfpq_query_topk(spark, idx, queries, k=5, n_probe=2, rerank=20)


# --------------------------------------------------------------------------
# BPE encode — apply the learned merges to the corpus (the serve half
# of the bpe_merges trainer). Oracle = exact Python replay of the
# vocab-side fold apply with the SAME learned merges (shared
# learn_bpe_merges_local artifact), HALF_UP rounding to match Spark.


def _round6_half_up(x: float) -> float:
    from decimal import ROUND_HALF_UP, Decimal

    return float(Decimal(x).quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP))


def _bpe_doc_counts(key_col: str) -> list[tuple]:
    """Exact Python replay of BPE encode over `documents`: per doc with
    ≥1 word, yield (key_value, n_words, n_bpe) under the 8 learned
    merges (shared learn_bpe_merges_local artifact). Shared by the
    bpe_encode and bpe_fertility oracles so the fold-apply replay
    exists in one place."""
    import re

    import pyarrow.parquet as papq

    from flink_ms_spark.operators.text import learn_bpe_merges_local

    sf_dir = os.environ.get("SPARK_GRAFT_SF_ORACLE", "/root/testdata/sf0.01")
    merges = learn_bpe_merges_local(sf_dir, n_merges=8)

    def encode_len(word: str) -> int:
        syms = list(word)
        for a, b in merges:
            m = a + b
            out: list[str] = []
            for x in syms:
                if out and out[-1] == a and x == b:
                    out[-1] = m
                else:
                    out.append(x)
            syms = out
        return len(syms)

    cache: dict[str, int] = {}
    t = papq.read_table(
        os.path.join(sf_dir, "documents.parquet"), columns=[key_col, "text"]
    )
    rows = []
    for key, text in zip(t.column(key_col).to_pylist(), t.column("text").to_pylist()):
        words = [w for w in re.split("[^a-z]+", text.lower()) if w]
        if not words:
            continue
        n_bpe = 0
        for w in words:
            if w not in cache:
                cache[w] = encode_len(w)
            n_bpe += cache[w]
        rows.append((key, len(words), n_bpe))
    return rows


def _bpe_encode_oracle() -> str:
    rows = [
        (doc_id, n_words, n_bpe, _round6_half_up(n_bpe / n_words))
        for doc_id, n_words, n_bpe in _bpe_doc_counts("doc_id")
    ]
    vals = ", ".join(f"({d}, {w}, {n}, {b!r})" for d, w, n, b in rows)
    return (
        "SELECT doc_id, CAST(n_words AS INT) AS n_words, "
        "CAST(n_bpe AS INT) AS n_bpe, CAST(bpe_per_word AS DOUBLE) AS bpe_per_word "
        + values_clause(vals, "t(doc_id, n_words, n_bpe, bpe_per_word)")
    )


@register("bpe_encode", oracle=_bpe_encode_oracle)
def q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc BPE tokenization stats under the 8 learned merges."""
    from flink_ms_spark.operators.text import (
        bpe_encode_stats,
        learn_bpe_merges_local,
    )

    docs = load_table(spark, sf_dir, "documents")
    return bpe_encode_stats(docs, learn_bpe_merges_local(sf_dir, n_merges=8))


# --------------------------------------------------------------------------
# BPE fertility per language — the tokenizer-efficiency report a
# multilingual pipeline tracks (tokens-per-word by language decides
# vocab allocation; UniMax §5 motivates exactly this audit). Oracle =
# the bpe_encode Python replay aggregated per language.


def _bpe_fertility_oracle() -> str:
    agg: dict[str, list[int]] = {}
    for lang, n_words, n_bpe in _bpe_doc_counts("lang"):
        acc = agg.setdefault(lang, [0, 0])
        acc[0] += n_words
        acc[1] += n_bpe
    rows = []
    for lang in sorted(agg):
        n_words, n_bpe = agg[lang]
        rows.append((lang, n_words, n_bpe, _round6_half_up(n_bpe / n_words)))
    vals = ", ".join(f"({l!r}, {w}, {n}, {f!r})" for l, w, n, f in rows)
    return (
        "SELECT lang, CAST(n_words AS BIGINT) AS n_words, "
        "CAST(n_bpe AS BIGINT) AS n_bpe, CAST(fertility AS DOUBLE) AS fertility "
        + values_clause(vals, "t(lang, n_words, n_bpe, fertility)")
    )


@register("bpe_fertility", oracle=_bpe_fertility_oracle)
def q_bpe_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language BPE fertility (subword tokens per word) under the
    8 learned merges. Scale: the merges fold over the VOCABULARY
    (model-scale); the corpus pays the same two shuffles as
    bpe_encode plus one language-keyed rollup."""
    from pyspark.sql import functions as F

    from flink_ms_spark.operators.text import (
        bpe_encode_stats,
        learn_bpe_merges_local,
    )

    docs = load_table(spark, sf_dir, "documents")
    stats = bpe_encode_stats(docs, learn_bpe_merges_local(sf_dir, n_merges=8))
    return (
        docs.select("doc_id", "lang")
        .join(stats, "doc_id")
        .groupBy("lang")
        .agg(
            F.sum("n_words").cast("long").alias("n_words"),
            F.sum("n_bpe").cast("long").alias("n_bpe"),
            F.round(F.sum("n_bpe") / F.sum("n_words"), 6).alias("fertility"),
        )
    )


# --------------------------------------------------------------------------
# DSIR top-weight selection under a token budget — the resampling step
# that turns the importance weights into an actual corpus subset.

_DSIR_SAMPLE_ORACLE = f"""
WITH tok AS (SELECT doc_id, source, unnest({_TOKS}) AS t FROM documents),
b AS (SELECT doc_id, source,
        CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT) % 64 AS bkt
      FROM tok),
pdb AS (SELECT doc_id, source, bkt, count(*) AS n FROM b GROUP BY ALL),
raw AS (SELECT bkt, sum(n) AS n_raw FROM pdb GROUP BY bkt),
tgt AS (SELECT bkt, sum(n) AS n_tgt FROM pdb WHERE source = 'src0' GROUP BY bkt),
spine AS (SELECT raw.bkt, n_raw, coalesce(n_tgt, 0) AS n_tgt
          FROM raw LEFT JOIN tgt USING (bkt)),
ratio AS (SELECT bkt,
            CAST(round((ln((n_tgt + 1) / (sum(n_tgt) OVER () + 64))
                - ln((n_raw + 1) / (sum(n_raw) OVER () + 64))) * 1000000.0, 0)
              AS BIGINT) AS lr6
          FROM spine),
w AS (SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_tokens,
        round(sum(n * lr6) / 1000000.0, 6) AS logw
      FROM pdb JOIN ratio USING (bkt) GROUP BY doc_id),
c AS (SELECT *, sum(n_tokens) OVER (ORDER BY logw DESC, doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
           round(sum(n_tokens) OVER () * 0.3, 0) AS budget
      FROM w)
SELECT doc_id, CAST(n_tokens AS INT) AS n_tokens, logw,
       CAST(CASE WHEN cum <= budget THEN 1 ELSE 0 END AS INT) AS keep
FROM c
"""


@register("dsir_sample", oracle=_DSIR_SAMPLE_ORACLE)
def q_dsir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy top-DSIR-weight selection filling 30% of corpus tokens.

    Scale: rides the bucketed two-phase running total
    (operators/mixing.py:_bucketed_ranks — score-binned ordered
    buckets, broadcast offsets, keyed windows), so the selection has
    no single-partition stage; the weight table is the dsir_weights
    plan (one corpus shuffle, broadcast ratio join)."""
    from pyspark.sql import functions as F

    from flink_ms_spark.operators.mixing import _bucketed_ranks

    w = dsir_weights(load_table(spark, sf_dir, "documents"))
    ranked = _bucketed_ranks(
        w,
        # logw ∈ a few nats; floor(-logw·8) ascends as logw descends
        bucket=F.floor(-F.col("logw") * 8).cast("long"),
        order_cols=[F.col("logw").desc(), F.col("doc_id").asc()],
        weight=F.col("n_tokens"),
    )
    return ranked.select(
        "doc_id",
        F.col("n_tokens").cast("int").alias("n_tokens"),
        "logw",
        (F.col("cum") <= F.round(F.col("total") * F.lit(0.3), 0))
        .cast("int")
        .alias("keep"),
    )


# --------------------------------------------------------------------------
# Cluster-balanced sampling (ClusterClip flavor): cap each k-means
# cell's contribution; selection order inside a cell is md5(vec_id) —
# a deterministic pseudo-random draw both engines replay.


def _cluster_sample_oracle() -> str:
    from flink_ms_spark.operators.similarity import codebook_from_parquet

    sf_dir = os.environ.get("SPARK_GRAFT_SF_ORACLE", "/root/testdata/sf0.01")
    centers = codebook_from_parquet(sf_dir, n_cells=8, seed=42)
    rows = ", ".join(
        "({}, [{}]::DOUBLE[])".format(i, ", ".join(repr(float(x)) for x in c))
        for i, c in enumerate(centers)
    )
    return f"""
WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
cent AS (SELECT * FROM (VALUES {rows}) t(cell, c)),
d AS (SELECT e.vec_id, cent.cell,
        round(list_sum(list_transform(generate_series(1, len(e.v)),
                i -> (e.v[i] - cent.c[i]) * (e.v[i] - cent.c[i]))), 6) AS d2
      FROM e CROSS JOIN cent),
a AS (SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id
            ORDER BY d2, cell) AS prk
      FROM d),
asg AS (SELECT vec_id, cell FROM a WHERE prk = 1),
rk AS (SELECT vec_id, cell,
         row_number() OVER (PARTITION BY cell
             ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rnk
       FROM asg)
SELECT vec_id, CAST(cell AS INT) AS cell,
       CAST(CASE WHEN rnk <= 150 THEN 1 ELSE 0 END AS INT) AS kept
FROM rk
"""


@register("cluster_balanced_sample", oracle=_cluster_sample_oracle)
def q_cluster_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cap every semantic cluster at 150 vectors — the ClusterClip
    move that stops over-represented regions from dominating a
    training mix. Assignment is the broadcast-codebook map; the cap
    is a keyed (per-cell) window — fully parallel."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from flink_ms_spark.operators.similarity import (
        assign_cells,
        codebook_from_parquet,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    cb = codebook_from_parquet(sf_dir, n_cells=8, seed=42)
    a = assign_cells(emb, cb)
    w = Window.partitionBy("cell").orderBy(
        F.md5(F.col("vec_id").cast("string")).asc(), F.col("vec_id").asc()
    )
    return a.select("vec_id", "cell").withColumn(
        "kept", (F.row_number().over(w) <= 150).cast("int")
    )


# --------------------------------------------------------------------------
# REAL media decode lane: P6 PPM generate → pure-numpy decode → channel
# stats. Oracle = independent Python replay (hashlib + manual header
# parse, no numpy) with expected rows embedded as VALUES.


def _ppm_stats_oracle() -> str:
    import hashlib

    import pyarrow.parquet as papq

    sf_dir = os.environ.get("SPARK_GRAFT_SF_ORACLE", "/root/testdata/sf0.01")
    t = papq.read_table(os.path.join(sf_dir, "documents.parquet"),
                        columns=["doc_id"])
    w = h = 8
    need = w * h * 3
    rows = []
    for did in t.column("doc_id").to_pylist():
        seed = hashlib.md5(str(int(did)).encode()).digest()
        px = (seed * (need // len(seed) + 1))[:need]
        sr = sum(px[0::3]); sg = sum(px[1::3]); sb = sum(px[2::3])
        n = w * h
        rows.append((
            did, w, h,
            round(sr / n, 6), round(sg / n, 6), round(sb / n, 6),
            round((sr + sg + sb) / (3 * n), 6),
        ))
    vals = ", ".join(
        f"({d}, {wd}, {ht}, {r!r}, {g!r}, {b!r}, {gr!r})"
        for d, wd, ht, r, g, b, gr in rows
    )
    return (
        "SELECT media_id, CAST(width AS INT) AS width, "
        "CAST(height AS INT) AS height, CAST(mean_r AS DOUBLE) AS mean_r, "
        "CAST(mean_g AS DOUBLE) AS mean_g, CAST(mean_b AS DOUBLE) AS mean_b, "
        "CAST(mean_gray AS DOUBLE) AS mean_gray "
        + values_clause(
            vals,
            "t(media_id, width, height, mean_r, mean_g, mean_b, mean_gray)",
        )
    )


@register("media_pixel_stats", oracle=_ppm_stats_oracle)
def q_media_pixel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fully REAL media lane over a MIXED-format corpus: even doc_ids
    get P6 PPM payloads (pure-numpy decode), odd doc_ids get 8-bit RGB
    PNG payloads (stdlib zlib decode) — both carrying the same md5
    pixel stream, so one format-independent oracle covers the union.
    The stats operator routes per payload signature."""
    from pyspark.sql import functions as F

    from flink_ms_spark.operators.multimodal import (
        pixel_stats,
        synthesize_png_media,
        synthesize_ppm_media,
    )

    docs = load_table(spark, sf_dir, "documents")
    # each format lane fans to HALF the cores so the union's Python
    # decode stage is one 32-task wave, not 64 tasks (every Python
    # task pays a measured ~10-30 ms runner round-trip; r14 profile)
    half = max(1, spark.sparkContext.defaultParallelism // 2)
    media = synthesize_ppm_media(
        docs.where(F.col("doc_id") % 2 == 0), target=half
    ).unionByName(
        synthesize_png_media(docs.where(F.col("doc_id") % 2 == 1), target=half)
    )
    return pixel_stats(media)


# --------------------------------------------------------------------------
# REAL feature extraction (VERDICT r7 task 6 — the extract_features
# stub closed): decode → 16-bin color histogram via
# histogram_image_decoder, then a JVM-side summary of the feature
# vector. All doubles are Python-rounded INSIDE the decoder (the same
# discipline as pixel_stats), so the DataFrame summary adds only
# comparisons/ints — no cross-engine rounding boundary to flip on a
# fixture re-roll.


def _media_hist_oracle() -> str:
    import hashlib

    import pyarrow.parquet as papq

    sf_dir = os.environ.get("SPARK_GRAFT_SF_ORACLE", "/root/testdata/sf0.01")
    t = papq.read_table(os.path.join(sf_dir, "documents.parquet"),
                        columns=["doc_id"])
    w = h = 8
    need = w * h * 3
    bins = 16
    rows = []
    for did in t.column("doc_id").to_pylist():
        seed = hashlib.md5(str(int(did)).encode()).digest()
        px = (seed * (need // len(seed) + 1))[:need]
        counts = [0] * bins
        for b in px:
            counts[(b * bins) // 256] += 1
        fr = [round(c / float(need), 6) for c in counts]
        top = max(fr)
        rows.append((
            did, bins, fr.index(top) + 1, top,
            sum(1 for x in fr if x > 0),
        ))
    vals = ", ".join(
        f"({d}, {dim}, {tb}, {tf!r}, {nz})" for d, dim, tb, tf, nz in rows
    )
    return (
        "SELECT media_id, CAST(dim AS INT) AS dim, "
        "CAST(top_bin AS INT) AS top_bin, "
        "CAST(top_frac AS DOUBLE) AS top_frac, "
        "CAST(n_nonzero AS INT) AS n_nonzero "
        + values_clause(vals, "t(media_id, dim, top_bin, top_frac, n_nonzero)")
    )


@register("media_histogram_features", oracle=_media_hist_oracle)
def q_media_histogram_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL decode → color-histogram features over the mixed PPM/PNG
    corpus (same md5 pixel stream per doc in both formats, so one
    format-independent replay covers the union). The features array is
    produced by extract_features with the stdlib histogram decoder;
    the summary (argmax bin, max fraction, support) is pure DataFrame
    comparison logic over the already-rounded vector."""
    from pyspark.sql import functions as F

    from flink_ms_spark.operators.multimodal import (
        extract_features,
        histogram_image_decoder,
        synthesize_png_media,
        synthesize_ppm_media,
    )

    docs = load_table(spark, sf_dir, "documents")
    # half-parallel per format lane — one 32-task Python wave after the
    # union instead of 64 tasks (see media_pixel_stats)
    half = max(1, spark.sparkContext.defaultParallelism // 2)
    media = synthesize_ppm_media(
        docs.where(F.col("doc_id") % 2 == 0), target=half
    ).unionByName(
        synthesize_png_media(docs.where(F.col("doc_id") % 2 == 1), target=half)
    )
    feats = extract_features(media, decoder=histogram_image_decoder)
    top = F.array_max("features")
    return feats.select(
        "media_id",
        F.size("features").alias("dim"),
        F.array_position("features", top).cast("int").alias("top_bin"),
        top.alias("top_frac"),
        F.size(F.filter("features", lambda x: x > 0)).cast("int").alias(
            "n_nonzero"
        ),
    )


# --------------------------------------------------------------------------
# Audio spectral features: REAL numpy rfft over the stdlib PCM16
# decoder — spectral centroid, 85% rolloff, flatness, RMS per clip.
# Oracle = independent numpy replay of the deterministic md5 sample
# stream (same formula, driver-side), embedded as VALUES.


def _spectral_oracle() -> str:
    import hashlib

    import numpy as np
    import pyarrow.parquet as papq

    sf_dir = os.environ.get("SPARK_GRAFT_SF_ORACLE", "/root/testdata/sf0.01")
    t = papq.read_table(os.path.join(sf_dir, "documents.parquet"),
                        columns=["doc_id"])
    n_samples, sr = 64, 8000
    need = n_samples * 2
    rows = []
    for did in t.column("doc_id").to_pylist():
        seed = hashlib.md5(str(int(did)).encode()).digest()
        data = (seed * (need // len(seed) + 1))[:need]
        xf = np.frombuffer(bytes(data), dtype="<i2").astype(np.float64)
        n = len(xf)
        rms = round(float(np.sqrt(np.dot(xf, xf) / n)), 6)
        mag = np.abs(np.fft.rfft(xf))
        freqs = np.fft.rfftfreq(n, d=1.0 / sr)
        total = float(mag.sum())
        if total <= 0.0:
            rows.append((did, 0.0, 0.0, 0.0, rms))
            continue
        centroid = round(float((freqs * mag).sum() / total), 6)
        rolloff = round(
            float(freqs[int(np.searchsorted(np.cumsum(mag), 0.85 * total))]), 6
        )
        p = mag * mag
        eps = 1e-12
        flat = round(float(np.exp(np.log(p + eps).mean()) / (p.mean() + eps)), 6)
        rows.append((did, centroid, rolloff, flat, rms))
    vals = ", ".join(
        f"({d}, {c!r}, {r!r}, {fl!r}, {rm!r})" for d, c, r, fl, rm in rows
    )
    return (
        "SELECT media_id, CAST(centroid_hz AS DOUBLE) AS centroid_hz, "
        "CAST(rolloff_hz AS DOUBLE) AS rolloff_hz, "
        "CAST(flatness AS DOUBLE) AS flatness, CAST(rms AS DOUBLE) AS rms "
        + values_clause(
            vals, "t(media_id, centroid_hz, rolloff_hz, flatness, rms)"
        )
    )


@register("media_spectral_features", oracle=_spectral_oracle)
def q_media_spectral_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio feature lane: WAV PCM16 decode → rfft magnitude
    spectrum → centroid/rolloff/flatness/RMS per clip — the audio
    sibling of media_histogram_features. All doubles Python-rounded
    inside the UDF; the oracle replays the identical numpy math."""
    from flink_ms_spark.operators.multimodal import (
        spectral_features,
        synthesize_wav_media,
    )

    docs = load_table(spark, sf_dir, "documents")
    return spectral_features(synthesize_wav_media(docs))


# --------------------------------------------------------------------------
# Video frame features (VERDICT r8 task 6 — the sample_frames
# byte-slicing stub closed): REAL concatenated-P6 stream demux →
# evenly-spaced frame selection → per-video gray levels + motion
# (mean absolute per-pixel delta between consecutive sampled frames).
# Oracle = independent Python replay of the deterministic generator +
# the identical selection/feature math, embedded as VALUES.


def _frame_features_oracle() -> str:
    import hashlib

    import pyarrow.parquet as papq

    sf_dir = os.environ.get("SPARK_GRAFT_SF_ORACLE", "/root/testdata/sf0.01")
    t = papq.read_table(os.path.join(sf_dir, "documents.parquet"),
                        columns=["doc_id"])
    w = h = 8
    need = w * h * 3
    rows = []
    for did in t.column("doc_id").to_pylist():
        total = 3 + int(did) % 4
        frames = []
        for f in range(total):
            seed = hashlib.md5(f"{int(did)}:{f}".encode()).digest()
            frames.append((seed * (need // len(seed) + 1))[:need])
        picks = sorted({(k * total) // 4 for k in range(4)})
        grays = [round(sum(frames[i]) / float(need), 6) for i in picks]
        diffs = [
            sum(abs(a - b) for a, b in zip(frames[i], frames[j])) / float(need)
            for i, j in zip(picks, picks[1:])
        ]
        motion = round(sum(diffs) / len(diffs), 6) if diffs else 0.0
        rows.append((did, len(picks), grays[0], grays[-1], motion))
    vals = ", ".join(
        f"({d}, {n}, {fg!r}, {lg!r}, {m!r})" for d, n, fg, lg, m in rows
    )
    return (
        "SELECT media_id, CAST(n_sampled AS INT) AS n_sampled, "
        "CAST(first_gray AS DOUBLE) AS first_gray, "
        "CAST(last_gray AS DOUBLE) AS last_gray, "
        "CAST(motion AS DOUBLE) AS motion "
        + values_clause(
            vals, "t(media_id, n_sampled, first_gray, last_gray, motion)"
        )
    )


@register("media_frame_features", oracle=_frame_features_oracle)
def q_media_frame_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video lane end-to-end: synthesize concatenated-P6 streams
    (3-6 frames per doc), demux + select 4 evenly spaced frames, then
    per-video temporal features — frame count, first/last gray level,
    and motion (mean |Δpixel| between consecutive sampled frames) —
    via the FUSED map-only operator (video_frame_features): no keyed
    shuffle, no per-video pandas group; the composed
    sample_frames ∘ frame_motion_features form is arithmetic-identical
    (parity pinned in tests) and exists for pipelines that consume the
    frames themselves. All doubles Python-rounded inside the UDF; the
    oracle replays the generator and the identical feature math
    driver-side."""
    from flink_ms_spark.operators.multimodal import (
        synthesize_video_media,
        video_frame_features,
    )

    docs = load_table(spark, sf_dir, "documents")
    return video_frame_features(synthesize_video_media(docs), n_frames=4)


# --------------------------------------------------------------------------
# Video dedup by content fingerprint: each mod-3 doc cohort is
# synthesized as ONE identical P6 stream (group_size=3), and the
# dedup groups videos by the md5 of their SAMPLED frames' pixel bytes
# — content-addressed, so it is byte-layout-independent and the
# fingerprint job is map-only (one digest-keyed shuffle total, group
# width = true duplicate multiplicity). The oracle replays the KNOWN
# duplicate structure in closed-form SQL (GROUP BY doc_id - doc_id%3):
# the Spark side must rediscover it purely from decoded content.

_VIDEO_DEDUP_ORACLE = """
SELECT min(doc_id) AS canonical,
       CAST(count(*) AS INT) AS n_members,
       max(doc_id) AS media_max
FROM documents
GROUP BY doc_id - doc_id % 3
"""


@register("media_video_dedup", oracle=_VIDEO_DEDUP_ORACLE)
def q_media_video_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video dedup lane: demux every stream, fingerprint the
    evenly-sampled frames' pixel content, group by fingerprint, and
    report each group's canonical (min) id, size, and max id. The
    generator plants mod-3 duplicate cohorts; a broken demux,
    selection, or digest would split or merge groups and diverge from
    the closed-form oracle."""
    from pyspark.sql import functions as F

    from flink_ms_spark.operators.multimodal import (
        synthesize_video_media,
        video_fingerprints,
    )

    docs = load_table(spark, sf_dir, "documents")
    fps = video_fingerprints(synthesize_video_media(docs, group_size=3))
    return fps.groupBy("fp").agg(
        F.min("media_id").alias("canonical"),
        F.count("*").cast("int").alias("n_members"),
        F.max("media_id").alias("media_max"),
    ).drop("fp")


# --------------------------------------------------------------------------
# Cross-format feature-space image dedup: every doc is synthesized in
# BOTH real formats (P6 PPM and RGB PNG) carrying the same md5 pixel
# stream; the dedup key is the 16-bin color histogram quantized to
# exact integers (round(frac·1e6)) — format-independent by
# construction, so each doc's two encodings collide into one group.
# This is the multimodal analogue of embedding_neardup's exact tier:
# dedup on DERIVED features, not raw bytes (raw-byte md5 would NOT
# match across formats). Scale: one keyed shuffle on the signature;
# group width is bounded by encodings-per-asset, never corpus-scale.


def _media_dup_oracle() -> str:
    import hashlib

    import pyarrow.parquet as papq

    sf_dir = os.environ.get("SPARK_GRAFT_SF_ORACLE", "/root/testdata/sf0.01")
    t = papq.read_table(os.path.join(sf_dir, "documents.parquet"),
                        columns=["doc_id"])
    w = h = 8
    need = w * h * 3
    bins = 16
    groups: dict[str, list[int]] = {}
    for did in t.column("doc_id").to_pylist():
        seed = hashlib.md5(str(int(did)).encode()).digest()
        px = (seed * (need // len(seed) + 1))[:need]
        counts = [0] * bins
        for b in px:
            counts[(b * bins) // 256] += 1
        fr = [round(c / float(need), 6) for c in counts]
        key = ",".join(str(int(round(x * 1e6))) for x in fr)
        sig = hashlib.md5(key.encode()).hexdigest()
        # one entry per format — both carry the same pixel stream
        groups.setdefault(sig, []).extend([did, did])
    rows = []
    for sig, members in groups.items():
        docs = set(members)
        rows.append((sig, len(members), len(docs), min(docs), max(docs)))
    vals = ", ".join(
        f"({s!r}, {n}, {nd}, {lo}, {hi})" for s, n, nd, lo, hi in rows
    )
    return (
        "SELECT sig, CAST(n_members AS BIGINT) AS n_members, "
        "CAST(n_docs AS BIGINT) AS n_docs, "
        "CAST(doc_min AS BIGINT) AS doc_min, "
        "CAST(doc_max AS BIGINT) AS doc_max "
        + values_clause(vals, "t(sig, n_members, n_docs, doc_min, doc_max)")
    )


@register("media_dup_pairs", oracle=_media_dup_oracle)
def q_media_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-space image dedup across encodings: group by the
    integer-quantized color histogram; each group reports member count,
    distinct assets, and id range. The quantization (round(frac·1e6))
    happens on values already Python-rounded to 6 dp, so both engines
    land on the same integers away from any rounding boundary."""
    from pyspark.sql import functions as F

    from flink_ms_spark.operators.multimodal import (
        extract_features,
        histogram_image_decoder,
        synthesize_png_media,
        synthesize_ppm_media,
    )

    docs = load_table(spark, sf_dir, "documents")
    # half-parallel per format lane — the two decode lanes together
    # make one 32-task Python wave, not 64 tasks (see media_pixel_stats)
    half = max(1, spark.sparkContext.defaultParallelism // 2)
    lanes = []
    for synth in (synthesize_ppm_media, synthesize_png_media):
        lanes.append(
            extract_features(
                synth(docs, target=half),
                decoder=histogram_image_decoder,
                target=half,
            )
        )
    feats = lanes[0].unionByName(lanes[1])
    key = F.concat_ws(
        ",",
        F.transform(
            "features", lambda x: F.round(x * 1e6).cast("long").cast("string")
        ),
    )
    return (
        feats.select("media_id", F.md5(key).alias("sig"))
        .groupBy("sig")
        .agg(
            F.count("*").cast("long").alias("n_members"),
            F.count_distinct("media_id").cast("long").alias("n_docs"),
            F.min("media_id").alias("doc_min"),
            F.max("media_id").alias("doc_max"),
        )
    )


# --------------------------------------------------------------------------
# LPA community detection over the co-purchase graph — 3 synchronized
# min-tie-break rounds, unrolled identically in the DuckDB oracle.
# The CTE chain is shared with _MODULARITY_ORACLE below (which scores
# the same partition), so the round-unrolling exists in one place.


def _lpa_ctes(n_iters: int) -> str:
    """CTE chain ending in labels `l{n_iters}(node, community)`, with
    the undirected edge set available as `e(u, v)` / `adj(u, v)`."""
    parts = [
        "m0 AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS nd FROM lineitem)",
        "e AS (SELECT DISTINCT a.nd AS u, b.nd AS v\n"
        "      FROM m0 a JOIN m0 b USING (g) WHERE a.nd < b.nd)",
        "adj AS (SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v FROM e)",
        "l0 AS (SELECT DISTINCT u AS node, u AS community FROM adj)",
    ]
    for i in range(1, n_iters + 1):
        parts.append(
            f"r{i} AS (SELECT a.u AS node, l.community, count(*) AS n\n"
            f"       FROM adj a JOIN l{i - 1} l ON a.v = l.node"
            f" GROUP BY a.u, l.community)"
        )
        parts.append(
            f"l{i} AS (SELECT node, community FROM (\n"
            f"         SELECT *, row_number() OVER (PARTITION BY node\n"
            f"             ORDER BY n DESC, community ASC) AS rk FROM r{i})"
            f" WHERE rk = 1)"
        )
    return ",\n".join(parts)


_LPA_ORACLE = f"""
WITH {_lpa_ctes(3)}
SELECT node, community FROM l3
"""


@register("lpa_communities", oracle=_LPA_ORACLE)
def q_lpa_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-round deterministic LPA over the co-purchase graph."""
    from flink_ms_spark.operators.graph import cooccurrence_edges, lpa_communities

    li = load_table(spark, sf_dir, "lineitem")
    edges = cooccurrence_edges(li, "l_orderkey", "l_partkey")
    return lpa_communities(edges, n_iters=3)


# --------------------------------------------------------------------------
# Log-histogram of events.value with the geometric binning of
# streaming/quantiles.py:log_bin, hash-checked.
# IEEE double ln/division/floor are bit-deterministic across engines,
# so the bin ids match exactly.

_LOG_HIST_ORACLE = """
WITH b AS (SELECT CAST(floor(ln(value) / ln(1.2)) AS INT) AS bin
           FROM events WHERE value > 0)
SELECT bin, CAST(count(*) AS BIGINT) AS n,
       round(pow(1.2, bin + 0.5), 6) AS midpoint
FROM b GROUP BY bin ORDER BY bin
"""


@register("log_histogram", oracle=_LOG_HIST_ORACLE)
def q_log_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geometric (growth 1.2) value histogram of events.value — one
    map-side-combined keyed agg; any quantile is then a scan of
    ~hundreds of bins with relative error ≤ growth − 1."""
    from pyspark.sql import functions as F

    from flink_ms_spark.streaming.quantiles import log_bin

    ev = load_table(spark, sf_dir, "events").where(F.col("value") > 0)
    b = ev.select(log_bin("value", 1.2).alias("bin"))
    return (
        b.groupBy("bin")
        .agg(F.count("*").alias("n"))
        .withColumn(
            "midpoint",
            F.round(F.pow(F.lit(1.2), F.col("bin") + F.lit(0.5)), 6),
        )
        .orderBy("bin")
    )


# --------------------------------------------------------------------------
# Newman modularity of the LPA communities: Q = Σ_c [e_c/m − (d_c/2m)²]
# = (Σe_c)/m − (Σd_c²)/(4m²) — both numerator sums are exact integers,
# so the one double expression at the end is bit-deterministic.

_MODULARITY_ORACLE = f"""
WITH {_lpa_ctes(3)},
mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM e),
inte AS (SELECT CAST(count(*) AS BIGINT) AS e_int
         FROM e JOIN l3 a ON e.u = a.node JOIN l3 b ON e.v = b.node
         WHERE a.community = b.community),
deg AS (SELECT u AS node, count(*) AS d FROM adj GROUP BY u),
dc AS (SELECT l3.community, CAST(sum(deg.d) AS BIGINT) AS d_c
       FROM l3 JOIN deg USING (node) GROUP BY l3.community),
agg AS (SELECT CAST(count(*) AS INT) AS n_communities,
               CAST(sum(d_c * d_c) AS BIGINT) AS sum_dc2
        FROM dc)
SELECT agg.n_communities, mm.m,
  round(CAST(inte.e_int AS DOUBLE) / mm.m
        - CAST(agg.sum_dc2 AS DOUBLE) / (4.0 * mm.m * mm.m), 6) AS modularity
FROM agg, mm, inte
"""


@register("community_modularity", oracle=_MODULARITY_ORACLE)
def q_community_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the 3-round LPA partition of the
    co-purchase graph — the community-quality metric, computed from
    exact integer edge/degree sums (one double division at the end)."""
    from pyspark.sql import functions as F

    from flink_ms_spark.operators.graph import cooccurrence_edges, lpa_communities

    li = load_table(spark, sf_dir, "lineitem")
    # materialize the edge set ONCE (three consumers: LPA, the
    # intra-community count, the degree table) — localCheckpoint blocks
    # are GC-released, unlike a bare persist; and keep m / e_int as
    # 1-row frames crossJoined into ONE composed job instead of two
    # eager .count() driver actions per invocation (the dedup_report
    # composition rule)
    edges = cooccurrence_edges(li, "l_orderkey", "l_partkey").localCheckpoint(
        eager=True
    )
    labels = lpa_communities(edges, n_iters=3)  # eager, model-scale
    la = labels.withColumnRenamed("node", "u").withColumnRenamed(
        "community", "cu"
    )
    lb = labels.withColumnRenamed("node", "v").withColumnRenamed(
        "community", "cv"
    )
    m_df = edges.agg(F.count("*").cast("long").alias("m"))
    e_int_df = (
        edges.join(la, "u")
        .join(lb, "v")
        .where(F.col("cu") == F.col("cv"))
        .agg(F.count("*").cast("double").alias("e_int"))
    )
    adj = edges.select("u", "v").unionAll(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    deg = adj.groupBy("u").agg(F.count("*").alias("d"))
    dc = (
        labels.join(deg, labels["node"] == deg["u"])
        .groupBy("community")
        .agg(F.sum("d").alias("d_c"))
    )
    agg = dc.agg(
        F.count("*").cast("int").alias("n_communities"),
        F.sum(F.col("d_c") * F.col("d_c")).alias("sum_dc2"),
    )
    return (
        agg.crossJoin(F.broadcast(m_df))
        .crossJoin(F.broadcast(e_int_df))
        .select(
            "n_communities",
            "m",
            F.round(
                F.col("e_int") / F.col("m")
                - F.col("sum_dc2").cast("double")
                / (F.lit(4.0) * F.col("m") * F.col("m")),
                6,
            ).alias("modularity"),
        )
    )


# --------------------------------------------------------------------------
# SQ8 scalar quantization — per-dim min/max linear byte codes, the
# training-free embedding compression baseline (4× vs float32). Fully
# SQL-expressible: the oracle recomputes stats and codes itself.
# Sequential list_sum/fold on both engines keeps float order identical.

_SQ8_ORACLE = """
WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
dimn AS (SELECT max(len(v)) AS nd FROM e),
flat AS (SELECT e.vec_id, i.i, e.v[i.i] AS x
         FROM e, dimn, unnest(generate_series(1, dimn.nd)) AS i(i)),
st AS (SELECT i, min(x) AS mn, max(x) AS mx FROM flat GROUP BY i),
arrs AS (SELECT list(mn ORDER BY i) AS mns,
                list(CASE WHEN mx > mn THEN mx - mn
                     ELSE CAST(1.0 AS DOUBLE) END ORDER BY i) AS sps
         FROM st),
codes AS (SELECT e.vec_id, e.v, a.mns, a.sps,
            list_transform(generate_series(1, len(e.v)),
              i -> round((e.v[i] - a.mns[i]) / a.sps[i] * 255.0, 0)) AS code
          FROM e CROSS JOIN arrs a)
SELECT vec_id,
  CAST(list_sum(code) AS BIGINT) AS code_sum,
  CAST(len(v) AS INT) AS n_dims,
  round(list_sum(list_transform(generate_series(1, len(v)),
      i -> (code[i] / 255.0 * sps[i] + mns[i] - v[i])
         * (code[i] / 255.0 * sps[i] + mns[i] - v[i]))) / len(v), 6)
    AS recon_mse
FROM codes
"""


@register("sq8_stats", oracle=_SQ8_ORACLE)
def q_sq8_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQ8 byte-code checksums + reconstruction MSE per vector."""
    from flink_ms_spark.operators.similarity import sq8_stats

    return sq8_stats(load_table(spark, sf_dir, "embeddings"))


# --------------------------------------------------------------------------
# PCA projection — top-3 principal scores per vector; mean/components
# are fixture-trained literals shared with the oracle, which computes
# the same sequential dot products in DuckDB list math.


def _pca_oracle() -> str:
    from flink_ms_spark.operators.similarity import pca_from_parquet

    sf_dir = os.environ.get("SPARK_GRAFT_SF_ORACLE", "/root/testdata/sf0.01")
    mean, comps = pca_from_parquet(sf_dir, k=3)
    mean_lit = "[" + ", ".join(repr(float(x)) for x in mean) + "]::DOUBLE[]"
    comp_lits = [
        "[" + ", ".join(repr(float(x)) for x in c) + "]::DOUBLE[]" for c in comps
    ]
    pc_exprs = ",\n  ".join(
        f"round(list_sum(list_transform(generate_series(1, len(v)),"
        f" i -> (v[i] - ({mean_lit})[i]) * ({comp_lits[j]})[i])), 6) AS pc{j + 1}"
        for j in range(len(comp_lits))
    )
    return f"""
WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings)
SELECT vec_id,
  {pc_exprs}
FROM e
"""


@register("pca_scores", oracle=_pca_oracle)
def q_pca_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 PCA scores per embedding (corpus map / outlier view)."""
    from flink_ms_spark.operators.similarity import pca_from_parquet, pca_scores

    emb = load_table(spark, sf_dir, "embeddings")
    mean, comps = pca_from_parquet(sf_dir, k=3)
    return pca_scores(emb, mean, comps)


# --------------------------------------------------------------------------
# Tokenizer vocab coverage: share of token INSTANCES covered by the
# global top-100 vocabulary (ties → token asc) — the OOV-rate metric
# that decides a vocab size before training a tokenizer.

_VOCAB_COVERAGE_ORACLE = f"""
WITH tok AS (SELECT doc_id, lang, unnest({_TOKS}) AS t FROM documents),
freq AS (SELECT t, count(*) AS n FROM tok GROUP BY t),
vocab AS (SELECT t FROM (SELECT t, row_number() OVER
            (ORDER BY n DESC, t ASC) AS rk FROM freq) WHERE rk <= 100),
j AS (SELECT tok.lang, tok.t, CASE WHEN v.t IS NULL THEN 1 ELSE 0 END AS oov
      FROM tok LEFT JOIN vocab v ON tok.t = v.t)
SELECT lang, CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(sum(oov) AS BIGINT) AS n_oov,
       round(sum(oov) / CAST(count(*) AS DOUBLE), 6) AS oov_rate
FROM j GROUP BY lang
"""


@register("vocab_coverage", oracle=_VOCAB_COVERAGE_ORACLE)
def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language OOV rate under the global top-100 vocab.

    Scale: one token-count aggregate (vocab-sized), top-V via
    sort+limit partial top-k, broadcast semi-join back onto the token
    stream — the corpus pays one explode + one keyed agg."""
    from pyspark.sql import functions as F

    from flink_ms_spark.operators.text import tokens
    from flink_ms_spark.partitioning import fan_out

    docs = load_table(spark, sf_dir, "documents")
    tok = fan_out(docs).select(
        "lang", F.explode(tokens(F.col("text"))).alias("t")
    )
    freq = tok.groupBy("t").agg(F.count("*").alias("n"))
    # top-100 via sort+limit (TakeOrderedAndProject — per-partition
    # partial top-k, merged on the driver), NOT row_number over an
    # unpartitioned window: the vocabulary table grows with the corpus
    # (100M+ terms at web scale) and a global window would drag it all
    # through one task
    vocab = (
        freq.orderBy(F.col("n").desc(), F.col("t").asc())
        .limit(100)
        .select("t", F.lit(1).alias("in_vocab"))
    )
    j = tok.join(F.broadcast(vocab), "t", "left")
    oov = F.when(F.col("in_vocab").isNull(), 1).otherwise(0)
    return j.groupBy("lang").agg(
        F.count("*").alias("n_tokens"),
        F.sum(oov).alias("n_oov"),
        F.round(F.sum(oov) / F.count("*"), 6).alias("oov_rate"),
    )


# --------------------------------------------------------------------------
# Vocabulary coverage CURVE — OOV rate as a function of vocab size (the
# tokenizer-sizing audit: how big must the vocab be before the OOV tail
# is acceptable). ONE corpus pass: token stream left-joins the
# broadcast top-1000 rank table once; the three cutoffs are conditional
# sums in the same aggregate, unpivoted to rows.

_VOCAB_CURVE_ORACLE = """
WITH tok AS (SELECT unnest(string_split_regex(trim(text), '\\s+')) AS t
             FROM documents),
freq AS (SELECT t, count(*) AS n FROM tok GROUP BY t),
rk AS (SELECT t, row_number() OVER (ORDER BY n DESC, t) AS rk FROM freq
       QUALIFY rk <= 1000),
j AS (SELECT tok.t, rk.rk FROM tok LEFT JOIN rk ON tok.t = rk.t),
a AS (SELECT count(*) AS total,
        sum(CASE WHEN rk IS NULL OR rk > 10 THEN 1 ELSE 0 END) AS o10,
        sum(CASE WHEN rk IS NULL OR rk > 100 THEN 1 ELSE 0 END) AS o100,
        sum(CASE WHEN rk IS NULL OR rk > 1000 THEN 1 ELSE 0 END) AS o1000
      FROM j)
SELECT CAST(10 AS INT) AS vocab_k, CAST(total AS BIGINT) AS n_tokens,
       CAST(o10 AS BIGINT) AS n_oov,
       CAST(round(o10 * 1.0 / total, 6) AS DOUBLE) AS oov_rate FROM a
UNION ALL SELECT CAST(100 AS INT), CAST(total AS BIGINT), CAST(o100 AS BIGINT),
       CAST(round(o100 * 1.0 / total, 6) AS DOUBLE) FROM a
UNION ALL SELECT CAST(1000 AS INT), CAST(total AS BIGINT), CAST(o1000 AS BIGINT),
       CAST(round(o1000 * 1.0 / total, 6) AS DOUBLE) FROM a
"""


@register("vocab_coverage_curve", oracle=_VOCAB_CURVE_ORACLE)
def q_vocab_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vocab_k, n_tokens, n_oov, oov_rate) for k in {10, 100, 1000}.
    Scale: rank table = TakeOrdered top-1000 (per-partition partial
    top-k) + a row_number window over those 1000 rows only; the corpus
    pays one explode, one broadcast left join, one aggregate."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from flink_ms_spark.operators.text import tokens
    from flink_ms_spark.partitioning import fan_out

    docs = load_table(spark, sf_dir, "documents")
    tok = fan_out(docs).select(F.explode(tokens(F.col("text"))).alias("t"))
    freq = tok.groupBy("t").agg(F.count("*").alias("n"))
    top = freq.orderBy(F.col("n").desc(), F.col("t").asc()).limit(1000)
    w = Window.partitionBy().orderBy(F.col("n").desc(), F.col("t").asc())
    rk = top.withColumn("rk", F.row_number().over(w)).select("t", "rk")
    j = tok.join(F.broadcast(rk), "t", "left")

    def oov(k: int):
        return F.sum(
            F.when(F.col("rk").isNull() | (F.col("rk") > k), 1).otherwise(0)
        )

    a = j.agg(
        F.count("*").alias("total"),
        oov(10).alias("o10"),
        oov(100).alias("o100"),
        oov(1000).alias("o1000"),
    )

    def row(k: int, col: str):
        return a.select(
            F.lit(k).cast("int").alias("vocab_k"),
            F.col("total").cast("long").alias("n_tokens"),
            F.col(col).cast("long").alias("n_oov"),
            F.round(F.col(col) / F.col("total"), 6).alias("oov_rate"),
        )

    return row(10, "o10").unionByName(row(100, "o100")).unionByName(
        row(1000, "o1000")
    )


# --------------------------------------------------------------------------
# Corpus dedup report: the one-row summary a curation run logs —
# exact-dup volume and LSH near-dup candidate volume side by side.

_DEDUP_REPORT_ORACLE = """
WITH norm AS (SELECT doc_id,
         md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS h
       FROM documents),
g AS (SELECT h, count(*) AS n FROM norm GROUP BY h),
-- n_docs = sum of group sizes (the doc count), NOT count(*) (the
-- distinct-digest count) — the two only coincide on a dup-free corpus
-- like sf0.01; sf0.1 carries 8 exact dups and exposes the difference
ex AS (SELECT CAST(sum(n) AS BIGINT) AS n_docs,
              CAST(sum(n) - count(*) AS BIGINT) AS n_exact_dups
       FROM g),
toks AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM documents),
sh AS (SELECT doc_id, unnest(t) AS s FROM toks),
x AS (SELECT doc_id,
        CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT) % 2147483647 AS x
      FROM sh),
hs AS (SELECT doc_id, hh.h, ((2 * hh.h + 1) * x + hh.h * 12345 + 7) % 2147483647 AS mh
       FROM x CROSS JOIN (SELECT unnest(generate_series(1, 4)) AS h) hh),
sigs AS (SELECT doc_id, h, min(mh) AS minhash FROM hs GROUP BY doc_id, h),
bands AS (SELECT doc_id, h AS band, CAST(minhash AS VARCHAR) AS band_sig
          FROM sigs),
bsz AS (SELECT band, band_sig, count(*) AS n FROM bands
        GROUP BY band, band_sig HAVING count(*) >= 2),
dropped AS (SELECT CAST(coalesce(sum(n), 0) AS BIGINT) AS n_dropped_bucket_docs
            FROM bsz WHERE n > 64),
keep AS (SELECT band, band_sig FROM bsz WHERE n <= 64),
pairs AS (SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
          FROM bands a JOIN bands b USING (band, band_sig)
          JOIN keep USING (band, band_sig)
          WHERE a.doc_id < b.doc_id)
SELECT ex.n_docs, ex.n_exact_dups,
       (SELECT CAST(count(*) AS BIGINT) FROM pairs) AS n_neardup_pairs,
       round(ex.n_exact_dups / CAST(ex.n_docs AS DOUBLE), 6) AS exact_dup_rate,
       (SELECT n_dropped_bucket_docs FROM dropped) AS n_dropped_bucket_docs
FROM ex
"""


@register("dedup_report", oracle=_DEDUP_REPORT_ORACLE)
def q_dedup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row corpus dedup summary: doc count, exact-dup volume and
    rate, LSH (4-hash, 1-row bands) near-dup candidate pair volume
    from buckets within the 64-doc cap, and the doc-slot volume of the
    oversize buckets that were dropped instead of pair-expanded.

    Scale: ONE composed lazy job (the driver's collect is the only
    action). The LSH stage goes through ``lsh_pair_stats`` with
    ``max_bucket_size=64`` — a hot boilerplate bucket is counted, never
    expanded, so the quadratic blow-up a web-scale template bucket
    would cause (10^6 docs → 10^12 pairs) cannot happen; its volume is
    reported in ``n_dropped_bucket_docs``, the honest curation-log
    form."""
    from pyspark.sql import functions as F

    from flink_ms_spark.operators.dedup import (
        exact_dedup_groups,
        lsh_pair_stats,
        minhash_signatures,
    )

    docs = load_table(spark, sf_dir, "documents")
    ex = exact_dedup_groups(docs).agg(
        F.sum("n_dups").cast("long").alias("n_docs"),
        (F.sum("n_dups") - F.count("*")).cast("long").alias("n_exact_dups"),
    )
    sigs = minhash_signatures(docs, num_hashes=4, shingle_n=1)
    stats = lsh_pair_stats(sigs, band_size=1, max_bucket_size=64)
    return ex.crossJoin(stats).select(
        "n_docs",
        "n_exact_dups",
        "n_neardup_pairs",
        F.round(F.col("n_exact_dups") / F.col("n_docs"), 6).alias(
            "exact_dup_rate"
        ),
        "n_dropped_bucket_docs",
    )


# --------------------------------------------------------------------------
# Embedding centroid drift: split the corpus into two deterministic
# cohorts (vec_id parity — stand-in for "last month vs this month")
# and measure, per label, how far the class centroid moved: cosine
# similarity and L2 shift between cohort centroids. The audit a
# training pipeline runs on every new snapshot to catch upstream
# distribution shift BEFORE spending GPU-hours on it. Per-dim means
# are rounded to 6 dp on both engines before the second-level
# aggregation so the derived dot/norm math is bit-stable across
# engines. Scale: one posexplode (narrow), one (label, dim)-keyed
# partial agg — the shuffled table is |labels|x|dims| rows (model
# scale), and the final per-label rollup is trivial. No UDFs, no
# driver collection.

_CENTROID_DRIFT_ORACLE = """
WITH e AS (SELECT label, vec_id % 2 AS cohort, j AS pos,
                  CAST(embedding[j] AS DOUBLE) AS v
           FROM embeddings,
                LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS j) t),
pd AS (SELECT label, pos,
              round(avg(v) FILTER (WHERE cohort = 0), 6) AS a,
              round(avg(v) FILTER (WHERE cohort = 1), 6) AS b
       FROM e GROUP BY label, pos)
SELECT label,
  CAST(round(sum(a * b) / sqrt(sum(a * a) * sum(b * b)), 6) AS DOUBLE) AS cos_sim,
  CAST(round(sqrt(sum((a - b) * (a - b))), 6) AS DOUBLE) AS l2_shift
FROM pd GROUP BY label
"""


@register("centroid_drift", oracle=_CENTROID_DRIFT_ORACLE)
def q_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid shift between the two vec_id-parity cohorts:
    cosine similarity + L2 distance of the cohort mean embeddings."""
    from pyspark.sql import functions as F

    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select(
        "label",
        (F.col("vec_id") % 2).alias("cohort"),
        F.posexplode(
            F.transform("embedding", lambda x: x.cast("double"))
        ).alias("pos", "v"),
    )
    pd_ = e.groupBy("label", "pos").agg(
        F.round(F.avg(F.when(F.col("cohort") == 0, F.col("v"))), 6).alias("a"),
        F.round(F.avg(F.when(F.col("cohort") == 1, F.col("v"))), 6).alias("b"),
    )
    return pd_.groupBy("label").agg(
        F.round(
            F.sum(F.col("a") * F.col("b"))
            / F.sqrt(F.sum(F.col("a") * F.col("a")) * F.sum(F.col("b") * F.col("b"))),
            6,
        ).alias("cos_sim"),
        F.round(F.sqrt(F.sum((F.col("a") - F.col("b")) * (F.col("a") - F.col("b")))), 6).alias(
            "l2_shift"
        ),
    )


# --------------------------------------------------------------------------
# REAL audio decode lane: RIFF/WAVE PCM16 generate → stdlib chunk-walk
# decode → level/crossing stats (operators/multimodal.py). Oracle =
# independent numpy-free Python replay (manual little-endian int16 +
# integer sums — int16² sums over 64 samples stay exact in float64,
# so sqrt/round agree bit-for-bit with the numpy path).


def _wav_stats_oracle() -> str:
    import hashlib
    import math

    import pyarrow.parquet as papq

    sf_dir = os.environ.get("SPARK_GRAFT_SF_ORACLE", "/root/testdata/sf0.01")
    t = papq.read_table(
        os.path.join(sf_dir, "documents.parquet"), columns=["doc_id"]
    )
    n, sr = 64, 8000
    rows = []
    for did in t.column("doc_id").to_pylist():
        seed = hashlib.md5(str(int(did)).encode()).digest()
        data = (seed * (2 * n // len(seed) + 1))[: 2 * n]
        v = []
        for i in range(n):
            x = data[2 * i] | (data[2 * i + 1] << 8)
            v.append(x - 65536 if x >= 32768 else x)
        rms = round(math.sqrt(sum(s * s for s in v) / n), 6)
        zc = sum(1 for i in range(n - 1) if v[i] * v[i + 1] < 0)
        rows.append((did, sr, n, round(n / sr, 6), rms, max(abs(s) for s in v), zc))
    vals = ", ".join(
        f"({d}, {s}, {k}, {du!r}, {r!r}, {p}, {z})"
        for d, s, k, du, r, p, z in rows
    )
    return (
        "SELECT media_id, CAST(sample_rate AS INT) AS sample_rate, "
        "CAST(n_samples AS INT) AS n_samples, "
        "CAST(duration_s AS DOUBLE) AS duration_s, CAST(rms AS DOUBLE) AS rms, "
        "CAST(peak AS INT) AS peak, CAST(zero_crossings AS INT) AS zero_crossings "
        + values_clause(
            vals,
            "t(media_id, sample_rate, n_samples, duration_s, "
            "rms, peak, zero_crossings)",
        )
    )


@register("media_audio_stats", oracle=_wav_stats_oracle)
def q_media_audio_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fully REAL audio lane: RIFF/WAVE PCM16 payloads synthesized
    per document, decoded by the stdlib chunk walker, reduced to
    level/crossing stats — the audio sibling of media_pixel_stats."""
    from flink_ms_spark.operators.multimodal import (
        audio_stats,
        synthesize_wav_media,
    )

    docs = load_table(spark, sf_dir, "documents")
    return audio_stats(synthesize_wav_media(docs))


# --------------------------------------------------------------------------
# Epoch-aware token budgeting under data constraint (Muennighoff et al.
# 2023, "Scaling Data-Constrained Language Models" — repeated epochs
# carry diminishing value). Each source may be repeated up to
# MAX_EPOCHS times; the marginal value of epoch e decays geometrically
# (decay 1/2 — exact in binary, so effective-token sums are
# bit-reproducible), weighted by a per-source quality proxy. The
# allocator is a PREFIX water-fill: epoch candidates sorted by marginal
# rate (quality · decay^(e-1)) descending are kept while the running
# raw-token cost stays within the budget (170% of the corpus — forces
# a non-trivial partial allocation at any SF). Scale: the corpus-wide
# work is ONE per-source token census; the allocation table is
# |sources| × MAX_EPOCHS rows, so the rank-and-cumsum window is
# model-scale, never doc-scale.

_DCM_EPOCHS = 4

_DATA_CONSTRAINED_ORACLE = f"""
WITH tok AS (SELECT source, CAST(len({{toks}}) AS BIGINT) AS x FROM documents),
src AS (SELECT source, CAST(sum(x) AS BIGINT) AS raw_tokens,
               CAST(round(avg(CAST(x AS DOUBLE)), 6) AS DOUBLE) AS quality
        FROM tok GROUP BY source),
cand AS (SELECT s.source, s.raw_tokens, s.quality, e.e AS epoch,
                s.quality * power(CAST(0.5 AS DOUBLE), e.e - 1) AS rate
         FROM src s, unnest(generate_series(1, {_DCM_EPOCHS})) AS e(e)),
ranked AS (SELECT *, sum(raw_tokens) OVER (
             ORDER BY rate DESC, source ASC, epoch ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running,
           -- budget = 1.7 * corpus tokens, derived from the SAME
           -- candidate table (each source carries raw_tokens on all
           -- {_DCM_EPOCHS} epoch rows, so the unbounded sum is
           -- {_DCM_EPOCHS}*corpus): exact-integer (T*4*17)//40 == (T*17)//10
           sum(raw_tokens) OVER () * 17 // ({_DCM_EPOCHS} * 10) AS b
           FROM cand)
SELECT source,
  CAST(any_value(quality) AS DOUBLE) AS quality,
  CAST(any_value(raw_tokens) AS BIGINT) AS source_tokens,
  CAST(count(*) FILTER (WHERE kept) AS INT) AS n_epochs,
  CAST(sum(raw_tokens) FILTER (WHERE kept) AS BIGINT) AS raw_used,
  CAST(round(coalesce(sum(CAST(raw_tokens AS DOUBLE)
        * power(CAST(0.5 AS DOUBLE), epoch - 1)) FILTER (WHERE kept),
        CAST(0.0 AS DOUBLE)), 6) AS DOUBLE) AS effective_tokens
FROM (SELECT r.*, r.running <= r.b AS kept FROM ranked r)
GROUP BY source
"""


def _dcm_oracle() -> str:
    return _DATA_CONSTRAINED_ORACLE.format(toks=_DUCK_TOKS_MIX)


@register("data_constrained_mix", oracle=_dcm_oracle)
def q_data_constrained_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix water-fill epoch allocation: per-source epoch candidates
    ranked by quality-weighted geometric marginal value, kept while
    cumulative raw-token cost fits the 1.7× budget; reports epochs,
    raw tokens consumed, and decay-weighted effective tokens."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from flink_ms_spark.operators.text import token_count

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("source", token_count("text").cast("long").alias("x"))
    src = tok.groupBy("source").agg(
        F.sum("x").cast("long").alias("raw_tokens"),
        F.round(F.avg(F.col("x").cast("double")), 6).alias("quality"),
    )
    cand = src.select(
        "source", "raw_tokens", "quality",
        F.explode(F.sequence(F.lit(1), F.lit(_DCM_EPOCHS))).alias("epoch"),
    ).withColumn(
        "rate",
        F.col("quality") * F.pow(F.lit(0.5), F.col("epoch") - 1),
    )
    w = (
        Window.orderBy(
            F.col("rate").desc(), F.col("source").asc(), F.col("epoch").asc()
        ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # budget derives from the SAME candidate table (each source repeats
    # raw_tokens on all epoch rows → unbounded sum = EPOCHS × corpus),
    # so the corpus is scanned exactly ONCE — a separate 1-row budget
    # aggregate would re-run the token census (measured: second full
    # parquet scan in the physical plan). Both windows run on the
    # |sources|×EPOCHS table: model-scale by construction.
    w_all = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ranked = cand.withColumn("running", F.sum("raw_tokens").over(w)).withColumn(
        "t_all", F.sum("raw_tokens").over(w_all)
    )
    # DECIMAL before the multiply: DuckDB's SUM OVER () promotes to
    # HUGEINT, so its *17 can never overflow — the int64 Spark side
    # would wrap past t_all ≈ 5.4e17 and diverge the kept set. Same
    # discipline as the token_gini DECIMAL fix (ADVICE r7/r8).
    kept = ranked.withColumn(
        "kept",
        F.col("running")
        <= F.expr(
            f"cast(t_all as decimal(38,0)) * 17 div ({_DCM_EPOCHS} * 10)"
        ),
    )
    eff = F.col("raw_tokens").cast("double") * F.pow(
        F.lit(0.5), F.col("epoch") - 1
    )
    return kept.groupBy("source").agg(
        F.any_value("quality").alias("quality"),
        F.any_value("raw_tokens").cast("long").alias("source_tokens"),
        F.sum(F.col("kept").cast("int")).cast("int").alias("n_epochs"),
        F.sum(F.when(F.col("kept"), F.col("raw_tokens"))).cast("long").alias(
            "raw_used"
        ),
        F.round(
            F.coalesce(
                F.sum(F.when(F.col("kept"), eff)), F.lit(0.0)
            ),
            6,
        ).alias("effective_tokens"),
    )
