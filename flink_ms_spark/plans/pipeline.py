"""Training-data pipeline queries (north-star extensions beyond the
reference's surface): duplicate-cluster resolution, vocabulary /
TF-IDF, deterministic train/valid/test splits, stratified sampling,
and value histograms — the operations a large-scale corpus-curation
pipeline runs after the per-doc scoring ops in ``northstar.py``.

All hash/sampling decisions are md5-based so the DuckDB oracle can
reproduce them exactly (same trick as ``minhash``: 15-hex-char prefix
→ 60-bit integer, identical on both engines).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from flink_ms_spark.operators.cluster import (
    canonical_per_component,
    connected_components_bipartite,
)
from flink_ms_spark.operators.dedup import minhash_signatures
from flink_ms_spark.plans.northstar import _MINHASH_ORACLE
from flink_ms_spark.plans.registry import fixture_index, register, values_clause
from flink_ms_spark.sources.tables import load_table

# --------------------------------------------------------------------------
# Duplicate-cluster resolution: connected components over the LSH
# candidate graph (3-gram-shingle minhash, 4 one-row bands — candidate
# iff ANY minhash collides). The Spark side never materializes pairwise
# edges: it runs min-label propagation on the bipartite doc↔bucket
# membership graph (see connected_components_bipartite — a k-doc bucket
# is k rows, not k²/2 edges; the unigram variant of this fixture is
# ~95% complete as a pair graph at sf0.1, which is exactly the blow-up
# web-scale boilerplate causes). The oracle derives the SAME components
# from explicit pairs via recursive-CTE reachability.

_CC_CORE = f"""
WITH RECURSIVE sigs AS ({_MINHASH_ORACLE}),
bands AS (SELECT doc_id, h AS band, minhash AS band_sig FROM sigs),
pairs AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
          FROM bands x JOIN bands y USING (band, band_sig)
          WHERE x.doc_id < y.doc_id),
edges AS (SELECT a AS u, b AS v FROM pairs UNION SELECT b AS u, a AS v FROM pairs),
r AS (
  SELECT u, u AS reach FROM (SELECT DISTINCT u FROM edges)
  UNION
  SELECT r.u, e.v AS reach FROM r JOIN edges e ON e.u = r.reach
),
comp AS (SELECT u AS doc_id, MIN(reach) AS component FROM r GROUP BY u)
"""

_DUP_CLUSTERS_ORACLE = _CC_CORE + "SELECT doc_id, component FROM comp"

_DUP_CANONICAL_ORACLE = _CC_CORE + (
    "SELECT component, count(*) AS n_docs, min(doc_id) AS canonical_doc_id "
    "FROM comp GROUP BY component"
)


def _lsh_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    sigs = minhash_signatures(docs, num_hashes=4, shingle_n=3)
    membership = sigs.select(
        F.col("doc_id").alias("node"),
        F.concat_ws(":", "h", "minhash").alias("group"),
    )
    return connected_components_bipartite(membership)


@register("dup_clusters", oracle=_DUP_CLUSTERS_ORACLE)
def q_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters: every doc in an LSH candidate pair labeled
    with the min doc_id of its connected component (min-label
    propagation; oracle = recursive CTE reachability)."""
    cc = _lsh_components(spark, sf_dir)
    return cc.select(F.col("node").alias("doc_id"), "component")


@register("dup_canonical", oracle=_DUP_CANONICAL_ORACLE)
def q_dup_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster summary: size + canonical (min-id) member per
    component — the survivors list of a cluster-dedup pass."""
    return canonical_per_component(_lsh_components(spark, sf_dir))


# --------------------------------------------------------------------------
# Vocabulary: term + total tf + doc-frequency, top-100 by tf.

_VOCAB_ORACLE = """
WITH toks AS (SELECT doc_id, unnest(string_split_regex(lower(text), '[^a-z]+')) AS term
              FROM documents)
SELECT term, count(*) AS tf, count(DISTINCT doc_id) AS df
FROM toks WHERE term <> '' AND length(term) >= 2
GROUP BY term ORDER BY tf DESC, term LIMIT 100
"""


@register("vocab_topk", oracle=_VOCAB_ORACLE)
def q_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary (lowercased a-z tokens, len>=2): top-100 terms
    by collection frequency with document frequency."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split(F.lower(F.col("text")), "[^a-z]+")).alias("term")
    ).filter("term <> '' AND length(term) >= 2")
    vocab = toks.groupBy("term").agg(
        F.count("*").alias("tf"), F.countDistinct("doc_id").alias("df")
    )
    return vocab.orderBy(F.desc("tf"), "term").limit(100)


# --------------------------------------------------------------------------
# TF-IDF: top-3 terms per doc. Ratio idf (tf·(N+1)/(df+1)) instead of
# log idf — integer numerator + one IEEE division is bit-identical
# across engines, so the ranking (and hash) is deterministic; log-idf
# last-ulp differences across libm implementations are not.

_TFIDF_ORACLE = """
WITH toks AS (SELECT doc_id, unnest(string_split_regex(lower(text), '[^a-z]+')) AS term
              FROM documents),
tfd AS (SELECT doc_id, term, count(*) AS tf FROM toks
        WHERE term <> '' AND length(term) >= 2 GROUP BY doc_id, term),
dfd AS (SELECT term, count(*) AS df FROM tfd GROUP BY term),
n AS (SELECT count(*) AS n_total FROM documents),
scored AS (
  SELECT tfd.doc_id, tfd.term,
         CAST(tfd.tf * (n.n_total + 1) AS DOUBLE) / CAST(dfd.df + 1 AS DOUBLE) AS score
  FROM tfd JOIN dfd ON tfd.term = dfd.term CROSS JOIN n),
ranked AS (
  SELECT doc_id, term, score,
         row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rk
  FROM scored)
SELECT doc_id, term, rk, CAST(round(score, 6) AS DOUBLE) AS tfidf
FROM ranked WHERE rk <= 3
"""


@register("tfidf_top_terms", oracle=_TFIDF_ORACLE)
def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document (ratio-idf variant — see module
    docstring for why not log-idf)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split(F.lower(F.col("text")), "[^a-z]+")).alias("term")
    ).filter("term <> '' AND length(term) >= 2")
    tfd = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    dfd = tfd.groupBy("term").agg(F.count("*").alias("df"))
    n = docs.agg(F.count("*").alias("n_total"))
    scored = (
        tfd.join(dfd, "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            (
                (F.col("tf") * (F.col("n_total") + F.lit(1))).cast("double")
                / (F.col("df") + F.lit(1)).cast("double")
            ).alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), "term")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter("rk <= 3")
        .select("doc_id", "term", "rk", F.round("score", 6).alias("tfidf"))
    )


# --------------------------------------------------------------------------
# Deterministic train/valid/test split: md5(doc_id) mod 100 → 80/10/10.

_SPLIT_ORACLE = """
WITH b AS (SELECT n_chars,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 AS bucket
           FROM documents)
SELECT CASE WHEN bucket < 80 THEN 'train' WHEN bucket < 90 THEN 'valid' ELSE 'test' END AS split,
       count(*) AS n_docs,
       CAST(round(avg(n_chars), 6) AS DOUBLE) AS avg_chars
FROM b GROUP BY 1 ORDER BY split
"""


@register("split_assign", oracle=_SPLIT_ORACLE)
def q_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-based 80/10/10 split with per-split counts and mean doc
    length — content-stable (a doc keeps its split across reruns and
    across engines), the property random splits lack."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10).cast(
            "long"
        )
        % 100
    )
    split = (
        F.when(bucket < 80, "train").when(bucket < 90, "valid").otherwise("test")
    ).alias("split")
    return (
        docs.select(split, "n_chars")
        .groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg("n_chars"), 6).alias("avg_chars"),
        )
        .orderBy("split")
    )


# --------------------------------------------------------------------------
# Stratified sampling: deterministic ~10% per language stratum.

_STRATIFIED_ORACLE = """
WITH h AS (SELECT doc_id, lang, md5(CAST(doc_id AS VARCHAR)) AS hk FROM documents),
r AS (SELECT doc_id, lang,
        row_number() OVER (PARTITION BY lang ORDER BY hk, doc_id) AS rn,
        count(*) OVER (PARTITION BY lang) AS cnt
      FROM h)
SELECT doc_id, lang FROM r WHERE rn <= (cnt + 9) // 10
"""


@register("stratified_sample", oracle=_STRATIFIED_ORACLE)
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language ceil(10%) sample, chosen by md5 rank so the sample
    is deterministic and engine-independent (integer ceil via
    (n+9) div 10 — float 0.1 arithmetic is not cross-engine-stable)."""
    docs = load_table(spark, sf_dir, "documents")
    h = docs.select("doc_id", "lang", F.md5(F.col("doc_id").cast("string")).alias("hk"))
    w = Window.partitionBy("lang").orderBy("hk", "doc_id")
    wc = Window.partitionBy("lang")
    r = h.select(
        "doc_id",
        "lang",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(wc).alias("cnt"),
    )
    return r.filter(F.col("rn") <= F.expr("(cnt + 9) div 10")).select("doc_id", "lang")


# --------------------------------------------------------------------------
# Equal-width histogram over events.value (20 bins).

_HISTOGRAM_ORACLE = """
WITH mm AS (SELECT min(value) AS mn, max(value) AS mx FROM events),
b AS (SELECT LEAST(CAST(floor(((value - mn) / (mx - mn)) * 20) AS INT), 19) AS bin
      FROM events CROSS JOIN mm)
SELECT bin, count(*) AS n FROM b GROUP BY bin ORDER BY bin
"""


@register("value_histogram", oracle=_HISTOGRAM_ORACLE)
def q_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """20-bin equal-width histogram of events.value. The bin expression
    is pure IEEE (sub/div/mul/floor), so both engines place every row
    identically; the max value is clamped into the last bin."""
    events = load_table(spark, sf_dir, "events")
    mm = events.agg(F.min("value").alias("mn"), F.max("value").alias("mx"))
    b = events.crossJoin(F.broadcast(mm)).select(
        F.least(
            F.floor(((F.col("value") - F.col("mn")) / (F.col("mx") - F.col("mn"))) * 20)
            .cast("int"),
            F.lit(19),
        ).alias("bin")
    )
    return b.groupBy("bin").agg(F.count("*").alias("n")).orderBy("bin")


# --------------------------------------------------------------------------
# As-of join: each purchase matched to the user's most recent earlier
# (or same-instant) view. Oracle = DuckDB's native ASOF LEFT JOIN;
# Spark side = union+window single-shuffle implementation.

_ASOF_ORACLE = """
WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
v AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'view')
SELECT p.event_id, p.user_id, p.ts AS purchase_ts,
       v.event_id AS view_event_asof
FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND p.ts >= v.ts
"""


@register("asof_purchase_view", oracle=_ASOF_ORACLE)
def q_asof_purchase_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of join purchases→views per user (see
    operators/asof.py for the union+window plan shape)."""
    from flink_ms_spark.operators.asof import asof_join_backward

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        F.col("ts").alias("t"),
    )
    purchases = ev.filter("event_type = 'purchase'").select(
        "event_id", "user_id", "t"
    )
    views = ev.filter("event_type = 'view'").select(
        "user_id", "t", F.col("event_id").alias("view_event")
    )
    out = asof_join_backward(
        purchases, views, on="user_id", ts_col="t", right_value_cols=["view_event"]
    )
    return out.select(
        "event_id",
        "user_id",
        F.col("t").alias("purchase_ts"),
        F.col("view_event_asof"),
    )


# --------------------------------------------------------------------------
# Sequence packing: chunk docs into ~2048-token packs per language
# stratum (cumulative token count before each doc, integer-divided by
# the budget — the standard approximate packing for LLM pretraining
# shards; per-stratum windows keep the sort distributed).

_PACKING_ORACLE = r"""
WITH t AS (SELECT doc_id, lang,
             CAST(len(string_split_regex(trim(text), '\s+')) AS INT) AS n_tokens
           FROM documents),
c AS (SELECT doc_id, lang, n_tokens,
        sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                            ROWS UNBOUNDED PRECEDING) - n_tokens AS cum_before
      FROM t)
SELECT lang, CAST(cum_before // 2048 AS BIGINT) AS pack_id,
       count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS total_tokens
FROM c GROUP BY lang, pack_id ORDER BY lang, pack_id
"""
# CAST AS BIGINT: DuckDB integer sum() is HUGEINT → float64 in the
# driver's pandas fetch ("3.0" vs Spark's "3") — hash poison.


@register("sequence_packing", oracle=_PACKING_ORACLE)
def q_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget packing (2048/pack) per language stratum."""
    from flink_ms_spark.operators.text import token_count

    docs = load_table(spark, sf_dir, "documents")
    t = docs.select("doc_id", "lang", token_count("text").alias("n_tokens"))
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = t.withColumn(
        "cum_before", F.sum("n_tokens").over(w) - F.col("n_tokens")
    )
    return (
        c.select("lang", F.expr("cum_before div 2048").alias("pack_id"), "n_tokens")
        .groupBy("lang", "pack_id")
        .agg(F.count("*").alias("n_docs"), F.sum("n_tokens").alias("total_tokens"))
        .orderBy("lang", "pack_id")
    )


# --------------------------------------------------------------------------
# Exact interpolated quantiles per event type (both engines implement
# the same linear-interpolation definition; verified bit-equal after
# round-6). The approximate sketch path (percentile_approx) is pinned
# separately in tests/test_sketches.py — at 100 TB you'd reach for the
# sketch, with this exact form as the small-partition oracle.

_QUANTILES_ORACLE = """
SELECT event_type,
       count(*) AS n,
       CAST(round(quantile_cont(value, 0.5), 6) AS DOUBLE) AS p50,
       CAST(round(quantile_cont(value, 0.9), 6) AS DOUBLE) AS p90,
       CAST(round(quantile_cont(value, 0.99), 6) AS DOUBLE) AS p99
FROM events GROUP BY event_type ORDER BY event_type
"""


@register("value_quantiles", oracle=_QUANTILES_ORACLE)
def q_value_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """p50/p90/p99 of events.value per event type (exact percentile)."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
            F.round(F.expr("percentile(value, 0.9)"), 6).alias("p90"),
            F.round(F.expr("percentile(value, 0.99)"), 6).alias("p99"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# Gopher-style repetition filters (Rae et al. 2021 §A1.1): per-doc
# most-common-token fraction and duplicate-bigram fraction, plus the
# filter verdict. The bigram stats are computed with higher-order array
# functions (zip_with/array_distinct) — per-row JVM work, NO shuffle;
# only the top-token mode needs the token explode + two partial-agg
# shuffles. At 100 TB both aggs combine map-side, and the doc_id
# grouping carries no skew (keys are unique).

_REPETITION_ORACLE = """
WITH toks AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
              FROM documents),
cnt AS (SELECT doc_id, tok, count(*) AS c
        FROM (SELECT doc_id, unnest(t) AS tok FROM toks)
        GROUP BY doc_id, tok),
agg AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens, max(c) AS top_cnt
        FROM cnt GROUP BY doc_id),
big AS (SELECT doc_id, len(bg) AS n_bigrams, len(list_distinct(bg)) AS n_dist
        FROM (SELECT doc_id,
                     list_transform(generate_series(1, len(t) - 1),
                                    i -> t[i] || ' ' || t[i + 1]) AS bg
              FROM toks WHERE len(t) >= 2)),
r AS (SELECT a.doc_id, a.n_tokens,
             CAST(round(CAST(a.top_cnt AS DOUBLE) / a.n_tokens, 6) AS DOUBLE)
               AS top_token_frac,
             CAST(round(CASE WHEN b.n_bigrams IS NULL THEN CAST(0 AS DOUBLE)
                             ELSE CAST(b.n_bigrams - b.n_dist AS DOUBLE)
                                  / b.n_bigrams END, 6) AS DOUBLE)
               AS dup_bigram_frac
      FROM agg a LEFT JOIN big b USING (doc_id))
SELECT doc_id, n_tokens, top_token_frac, dup_bigram_frac,
       (top_token_frac > 0.2 OR dup_bigram_frac > 0.5) AS repetitive
FROM r
"""


@register("repetition_stats", oracle=_REPETITION_ORACLE)
def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc repetition quality stats + Gopher-style filter verdict."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select("doc_id", F.split(F.trim("text"), r"\s+").alias("t"))
    agg = (
        t.select("doc_id", F.explode("t").alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(F.sum("c").alias("n_tokens"), F.max("c").alias("top_cnt"))
    )
    big = t.filter(F.size("t") >= 2).select(
        "doc_id",
        F.expr(
            "zip_with(slice(t, 1, size(t) - 1), slice(t, 2, size(t) - 1),"
            " (a, b) -> concat(a, ' ', b))"
        ).alias("bg"),
    ).select(
        "doc_id",
        F.size("bg").alias("n_bigrams"),
        F.size(F.array_distinct("bg")).alias("n_dist"),
    )
    r = agg.join(big, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        F.round(
            F.col("top_cnt").cast("double") / F.col("n_tokens"), 6
        ).alias("top_token_frac"),
        F.round(
            F.when(F.col("n_bigrams").isNull(), F.lit(0.0)).otherwise(
                (F.col("n_bigrams") - F.col("n_dist")).cast("double")
                / F.col("n_bigrams")
            ),
            6,
        ).alias("dup_bigram_frac"),
    )
    return r.withColumn(
        "repetitive",
        (F.col("top_token_frac") > 0.2) | (F.col("dup_bigram_frac") > 0.5),
    )


# --------------------------------------------------------------------------
# Eval-set decontamination (GPT-3 §C / PaLM style): docs whose id ≡ 0
# (mod 100) stand in for the held-out benchmark; every other doc is
# scored by the fraction of its distinct word-5-grams that collide with
# the eval set's 5-gram universe. Spark side builds 5-grams with
# transform(sequence)+slice (per-row JVM, no shuffle), then a BROADCAST
# left join against the (small, by construction) eval-gram set — at
# 100 TB the eval corpus is a few GB of grams, exactly the broadcast
# regime; the only shuffle is the final per-doc count.

# Embedding-level decontamination — the semantic complement of the
# lexical 5-gram overlap below: a training vector is contaminated when
# its cosine similarity to ANY eval vector clears the threshold
# (paraphrase-grade leakage that n-gram overlap misses). Eval set =
# vec_id < 50 (benchmark-scale by construction); the Spark side
# broadcasts it and streams the corpus — one scan, one per-id max agg.
# Per-pair cosines are rounded to 6 dp BEFORE the max so the
# cross-engine argmax cannot flip on float summation order.

_SEM_DECON_ORACLE = """
WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
norms AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
          FROM e),
ev AS (SELECT * FROM norms WHERE vec_id < 50),
tr AS (SELECT * FROM norms WHERE vec_id >= 50),
m AS (SELECT tr.vec_id,
        max(round(list_dot_product(tr.v, ev.v) / (tr.nrm * ev.nrm), 6)) AS mc
      FROM tr CROSS JOIN ev GROUP BY tr.vec_id)
SELECT vec_id, CAST(mc AS DOUBLE) AS max_eval_cos,
       CAST(CASE WHEN mc >= 0.9 THEN 1 ELSE 0 END AS INT) AS contaminated
FROM m
"""


@register("semantic_decontaminate", oracle=_SEM_DECON_ORACLE)
def q_semantic_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Max cosine of each training vector against the eval-embedding
    set (vec_id < 50), flagged at 0.9 — embedding-space leakage audit."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    norms = emb.withColumn(
        "nrm",
        F.sqrt(
            F.aggregate(
                F.transform("v", lambda x: x * x), F.lit(0.0), lambda a, x: a + x
            )
        ),
    )
    ev = norms.where(F.col("vec_id") < 50).select(
        F.col("v").alias("ev_v"), F.col("nrm").alias("ev_nrm")
    )
    tr = norms.where(F.col("vec_id") >= 50)
    dot = F.aggregate(
        F.zip_with("v", "ev_v", lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x
    )
    cos = F.round(dot / (F.col("nrm") * F.col("ev_nrm")), 6)
    return (
        tr.crossJoin(F.broadcast(ev))
        .select("vec_id", cos.alias("c"))
        .groupBy("vec_id")
        .agg(F.max("c").alias("max_eval_cos"))
        .select(
            "vec_id",
            "max_eval_cos",
            (F.col("max_eval_cos") >= 0.9).cast("int").alias("contaminated"),
        )
    )


_DECONTAM_ORACLE = """
WITH toks AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
              FROM documents),
g AS (SELECT DISTINCT doc_id, gram FROM (
        SELECT doc_id,
               unnest(list_transform(generate_series(1, len(t) - 4),
                      i -> array_to_string(t[i:i+4], ' '))) AS gram
        FROM toks WHERE len(t) >= 5)),
ev AS (SELECT DISTINCT gram FROM g WHERE doc_id % 100 = 0),
j AS (SELECT tr.doc_id, CASE WHEN ev.gram IS NULL THEN 0 ELSE 1 END AS hit
      FROM (SELECT * FROM g WHERE doc_id % 100 <> 0) tr
      LEFT JOIN ev ON tr.gram = ev.gram)
SELECT doc_id, count(*) AS n_grams, CAST(sum(hit) AS BIGINT) AS n_hit,
       CAST(round(CAST(sum(hit) AS DOUBLE) / count(*), 6) AS DOUBLE)
         AS contamination,
       round(CAST(sum(hit) AS DOUBLE) / count(*), 6) >= 0.5 AS contaminated
FROM j GROUP BY doc_id
"""


@register("decontaminate", oracle=_DECONTAM_ORACLE)
def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-gram overlap of each doc against the doc_id%100==0 eval set."""
    docs = load_table(spark, sf_dir, "documents")
    grams = (
        docs.select("doc_id", F.split(F.trim("text"), r"\s+").alias("t"))
        .filter(F.size("t") >= 5)
        .select(
            "doc_id",
            F.explode(
                F.array_distinct(
                    F.expr(
                        "transform(sequence(1, size(t) - 4),"
                        " i -> concat_ws(' ', slice(t, i, 5)))"
                    )
                )
            ).alias("gram"),
        )
    )
    ev = (
        grams.filter(F.col("doc_id") % 100 == 0)
        .select("gram")
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    out = (
        grams.filter(F.col("doc_id") % 100 != 0)
        .join(F.broadcast(ev), "gram", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.sum(F.coalesce("_hit", F.lit(0))).alias("n_hit"),
        )
    )
    contamination = F.round(
        F.col("n_hit").cast("double") / F.col("n_grams"), 6
    )
    return out.select(
        "doc_id",
        "n_grams",
        "n_hit",
        contamination.alias("contamination"),
        (contamination >= 0.5).alias("contaminated"),
    )


# --------------------------------------------------------------------------
# Domain-mix accounting: per-source token share of the corpus and the
# resampling weight that would equalize the mix (uniform target). One
# narrow scan + one tiny agg; the OVER () totals run on the ~20-row
# aggregate, not the corpus, so this is scan-bound at any scale.

_DOMAIN_MIX_ORACLE = """
WITH a AS (SELECT source, count(*) AS n_docs,
                  CAST(sum(len(string_split_regex(trim(text), '\\s+')))
                       AS BIGINT) AS tokens
           FROM documents GROUP BY source)
SELECT source, n_docs, tokens,
       CAST(round(CAST(tokens AS DOUBLE) / sum(tokens) OVER (), 6) AS DOUBLE)
         AS share,
       CAST(round(CAST(sum(tokens) OVER () AS DOUBLE)
                  / count(*) OVER () / tokens, 6) AS DOUBLE) AS weight
FROM a ORDER BY source
"""


@register("domain_mix", oracle=_DOMAIN_MIX_ORACLE)
def q_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus share + uniform-rebalance sampling weight."""
    from flink_ms_spark.operators.text import token_count

    docs = load_table(spark, sf_dir, "documents")
    a = (
        docs.select("source", token_count("text").alias("n_tokens"))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("tokens"),
        )
    )
    w = Window.partitionBy()
    return a.select(
        "source",
        "n_docs",
        "tokens",
        F.round(
            F.col("tokens").cast("double") / F.sum("tokens").over(w), 6
        ).alias("share"),
        F.round(
            F.sum("tokens").over(w).cast("double")
            / F.count("*").over(w)
            / F.col("tokens"),
            6,
        ).alias("weight"),
    ).orderBy("source")


# --------------------------------------------------------------------------
# Unigram LM quality scoring (CCNet-style, Wenzek et al. 2020): fit a
# corpus unigram model, score each doc by mean negative log-likelihood.
# High avg_nll = rare-token-heavy (noise/garble candidates); low =
# boilerplate-ish. The vocab aggregate is tiny (it's a vocabulary, not
# a corpus) so the prob join broadcasts; total-count is a 1-row cross
# join the optimizer folds into the broadcast side. Two shuffles total
# (vocab agg, per-doc avg), both with map-side partial aggregation.

_LM_SCORE_ORACLE = """
WITH toks AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS tok
              FROM documents),
v AS (SELECT tok, count(*) AS c FROM toks GROUP BY tok),
tot AS (SELECT CAST(sum(c) AS DOUBLE) AS n FROM v),
s AS (SELECT t.doc_id, -ln(v.c / tot.n) AS nll
      FROM toks t JOIN v USING (tok) CROSS JOIN tot)
SELECT doc_id, count(*) AS n_tokens,
       CAST(round(avg(nll), 6) AS DOUBLE) AS avg_nll
FROM s GROUP BY doc_id
"""


@register("lm_score", oracle=_LM_SCORE_ORACLE)
def q_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc mean negative log-likelihood under a corpus unigram LM."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split(F.trim("text"), r"\s+")).alias("tok")
    )
    v = toks.groupBy("tok").agg(F.count("*").alias("c"))
    tot = v.agg(F.sum("c").cast("double").alias("n"))
    probs = F.broadcast(v.crossJoin(F.broadcast(tot)))
    return (
        toks.join(probs, "tok")
        .select("doc_id", (-F.log(F.col("c") / F.col("n"))).alias("nll"))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.round(F.avg("nll"), 6).alias("avg_nll"),
        )
    )


# --------------------------------------------------------------------------
# Candidate-verify near-dup: LSH (3-gram minhash bands) proposes pairs,
# exact Levenshtein confirms. This is the canonical two-phase web-dedup
# shape — the quadratic exact metric runs ONLY on the candidate set, so
# its cost scales with near-dup density, not corpus size². The verify
# join ships each candidate's text once (shuffle join on doc_id; at
# 100 TB you'd sort the pair list by id so text fetches batch per
# partition — here Catalyst's shuffle join does exactly that).

_LEV_ORACLE = f"""
WITH sigs AS ({_MINHASH_ORACLE}),
pairs AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
          FROM sigs x JOIN sigs y ON x.h = y.h AND x.minhash = y.minhash
          WHERE x.doc_id < y.doc_id),
j AS (SELECT a, b, levenshtein(da.text, db.text) AS lev,
             greatest(len(da.text), len(db.text)) AS mx
      FROM pairs
      JOIN documents da ON da.doc_id = a
      JOIN documents db ON db.doc_id = b)
SELECT a, b, CAST(lev AS BIGINT) AS lev,
       CAST(round(CAST(lev AS DOUBLE) / mx, 6) AS DOUBLE) AS rel_dist
FROM j WHERE CAST(lev AS DOUBLE) / mx <= 0.4
"""


@register("lev_neardup", oracle=_LEV_ORACLE)
def q_lev_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidates verified by relative Levenshtein distance ≤ 0.4."""
    from flink_ms_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
    )

    docs = load_table(spark, sf_dir, "documents")
    sigs = minhash_signatures(docs, num_hashes=4, shingle_n=3)
    # AQE coalesces the (small-bytes) candidate shuffle to 1 partition,
    # which would serialize the O(len²) Levenshtein verify — fan the
    # pair list back out so the verify stage uses every core. Plain
    # repartition, not fan_out: fan_out's partition-count probe would
    # execute the whole candidate plan a second time.
    pairs = lsh_candidate_pairs(sigs, band_size=1).repartition(
        spark.sparkContext.defaultParallelism
    )
    da = docs.select(F.col("doc_id").alias("a"), F.col("text").alias("_ta"))
    db = docs.select(F.col("doc_id").alias("b"), F.col("text").alias("_tb"))
    # Length prefilter BEFORE the DP (guide §2.3 — filter early, and
    # it is exact): lev(a,b) ≥ |len(a)−len(b)|, so any pair this drops
    # has rel_dist > 0.4 and is dropped by the final filter anyway.
    # The predicate is the final filter's EXACT expression shape
    # (double division by mx, same 0.4 literal) with lev replaced by
    # the length diff: IEEE division by a fixed positive divisor is
    # monotone in the numerator, so diff/mx > 0.4 ⇒ lev/mx ≥ diff/mx
    # > 0.4 — no float-boundary pair can be dropped here yet kept by
    # the final filter. At sf0.1 this removes 14,345 of 36,271
    # candidate pairs before the O(len²) DP kernel below (the banded
    # JVM form it replaces already rejected big length gaps in O(1),
    # so the prefilter only pays off combined with the full-DP kernel).
    pre = pairs.join(da, "a").join(db, "b").where(
        F.abs(F.length("_ta") - F.length("_tb")).cast("double")
        / F.greatest(F.length("_ta"), F.length("_tb"))
        <= F.lit(0.4)
    )

    # Exact Levenshtein in a bit-parallel numpy kernel (guide §4.2 —
    # hand whole batches to vectorized native code): Myers' bit-vector
    # DP advanced across a whole chunk of pairs per numpy op
    # (functions/editdist.py). Measured at sf0.1: 247 µs/pair vs
    # 579 µs/pair for a DuckDB C++ full-DP kernel and ~1.2 ms/pair for
    # the JVM threshold-banded `levenshtein(a, b, k)` codegen form it
    # replaces — the verify stage was 25.8 s summed runtime (23.9 s
    # CPU), the single hottest stage in the bench; the Myers kernel
    # runs it in ~6 s summed. Exactness: full unit-cost edit distance,
    # validated bit-identical to DuckDB's levenshtein (the oracle's
    # own function) on all 36,271 raw candidate pairs at sf0.1.
    lev_schema = T.StructType(
        [
            T.StructField("a", T.LongType(), False),
            T.StructField("b", T.LongType(), False),
            T.StructField("lev", T.LongType(), True),
            T.StructField("mx", T.IntegerType(), True),
        ]
    )

    def lev_kernel(batches):
        import pandas as pd

        from flink_ms_spark.functions.editdist import lev_pairs

        for pdf in batches:
            if len(pdf) == 0:
                continue
            # NULL text: JVM levenshtein yields NULL and the rel_dist
            # filter drops the pair — mirror that (fixtures have none).
            ok = pdf["_ta"].notna() & pdf["_tb"].notna()
            lev = pd.array([None] * len(pdf), dtype="Int64")
            if ok.any():
                lev[ok.to_numpy()] = lev_pairs(
                    pdf.loc[ok, "_ta"].tolist(), pdf.loc[ok, "_tb"].tolist()
                )
            yield pd.DataFrame(
                {"a": pdf["a"], "b": pdf["b"], "lev": lev, "mx": pdf["mx"]}
            )

    # mx stays a JVM `greatest(length, length)` column (pass-through)
    # so only the DP itself moves engines.
    j = pre.select(
        "a",
        "b",
        "_ta",
        "_tb",
        F.greatest(F.length("_ta"), F.length("_tb")).alias("mx"),
    ).mapInPandas(lev_kernel, schema=lev_schema)
    return j.where(
        F.col("lev").cast("double") / F.col("mx") <= 0.4
    ).select(
        "a",
        "b",
        "lev",
        F.round(F.col("lev").cast("double") / F.col("mx"), 6).alias("rel_dist"),
    )


# --------------------------------------------------------------------------
# Random-hyperplane LSH near-dup over embeddings (Charikar 2002
# SimHash for vectors). The planes are md5-derived at import time and
# embedded as LITERALS in both the Spark plan and the oracle SQL, so
# the two engines bucket by bit-identical projections — no RNG-state
# coupling. Bucketing is pure codegen'd column math; only the
# within-bucket verify (upper-triangular matmul) crosses into Arrow.

from flink_ms_spark.operators.similarity import (  # noqa: E402
    hyperplane_neardup,
    hyperplane_planes,
)

_HP_PLANES = hyperplane_planes(n_planes=4, dim=64, seed=7)
_HP_BITS = " || ".join(
    "CASE WHEN list_dot_product(v, ["
    + ", ".join(repr(w) for w in row)
    + "]) >= 0 THEN '1' ELSE '0' END"
    for row in _HP_PLANES
)

_HP_ORACLE = f"""
WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
c AS (SELECT vec_id, v, {_HP_BITS} AS code,
             sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
      FROM e),
pairs AS (SELECT a.vec_id AS a, b.vec_id AS b,
            CAST(round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) AS DOUBLE)
              AS cos_sim
          FROM c a JOIN c b USING (code) WHERE a.vec_id < b.vec_id)
SELECT a, b, cos_sim FROM pairs WHERE cos_sim >= 0.4
"""


@register("hyperplane_neardup", oracle=_HP_ORACLE)
def q_hyperplane_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-plane random-hyperplane LSH + exact cosine ≥ 0.4 verify."""
    emb = load_table(spark, sf_dir, "embeddings")
    return hyperplane_neardup(emb, n_planes=4, threshold=0.4)


# --------------------------------------------------------------------------
# Winsorized robust stats: clip events.value at the per-type exact
# p01/p99, then mean/stddev of the clipped series — the outlier-robust
# summary a feature-QA pass runs before training. The quantile agg and
# the re-join are both on event_type (low cardinality, broadcast).

_WINSOR_ORACLE = """
WITH q AS (SELECT event_type,
                  quantile_cont(value, 0.01) AS lo,
                  quantile_cont(value, 0.99) AS hi
           FROM events GROUP BY event_type),
c AS (SELECT e.event_type, least(greatest(e.value, q.lo), q.hi) AS v
      FROM events e JOIN q USING (event_type))
SELECT event_type, count(*) AS n,
       CAST(round(avg(v), 6) AS DOUBLE) AS w_mean,
       CAST(round(stddev_samp(v), 6) AS DOUBLE) AS w_std
FROM c GROUP BY event_type ORDER BY event_type
"""


@register("winsorized_stats", oracle=_WINSOR_ORACLE)
def q_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type mean/std after clipping at exact p01/p99."""
    events = load_table(spark, sf_dir, "events")
    q = events.groupBy("event_type").agg(
        F.expr("percentile(value, 0.01)").alias("lo"),
        F.expr("percentile(value, 0.99)").alias("hi"),
    )
    c = events.join(F.broadcast(q), "event_type").select(
        "event_type", F.least(F.greatest("value", "lo"), "hi").alias("v")
    )
    return (
        c.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.round(F.avg("v"), 6).alias("w_mean"),
            F.round(F.stddev_samp("v"), 6).alias("w_std"),
        )
        .orderBy("event_type")
    )


def _pq_oracle() -> str:
    """Deferred oracle for pq_topk: replicate the full PQ pipeline in
    numpy — codebooks via the SAME pyarrow trainer the serve path
    uses (bit-identical), encode by per-subspace argmin, ADC
    accumulation in the same subspace order (identical float64 add
    sequence), 6-dp rounding, ascending (ad2, b) rank — and embed the
    expected top-k as VALUES. An independent single-node recomputation
    of the distributed mapInPandas scan, same pattern as
    _ivf_kmeans_oracle's embedded centroids."""
    import numpy as np
    import pyarrow.parquet as papq

    from flink_ms_spark.operators.similarity import pq_codebooks_from_parquet

    sf_dir = os.environ.get("SPARK_GRAFT_SF_ORACLE", "/root/testdata/sf0.01")
    cb = pq_codebooks_from_parquet(sf_dir, n_subspaces=16, n_codes=32, seed=42)
    t = papq.read_table(os.path.join(sf_dir, "embeddings.parquet"))
    ids = np.asarray(t.column("vec_id").to_pylist(), dtype=np.int64)
    m = np.array(t.column("embedding").to_pylist(), dtype=np.float64)
    n_sub, _, sub = cb.shape
    codes = np.empty((len(m), n_sub), dtype=np.int64)
    for s in range(n_sub):
        x = m[:, s * sub : (s + 1) * sub]
        d2 = ((x[:, None, :] - cb[s][None, :, :]) ** 2).sum(axis=2)
        codes[:, s] = d2.argmin(axis=1)
    tables = np.stack(
        [
            ((m[:, s * sub : (s + 1) * sub][:, None, :] - cb[s][None, :, :]) ** 2).sum(
                axis=2
            )
            for s in range(n_sub)
        ],
        axis=1,
    )
    ad2 = np.zeros((len(ids), len(ids)))
    for s in range(n_sub):
        ad2 += tables[:, s, codes[:, s]]
    ad2 = np.round(ad2, 6)
    out = []
    for qi in range(len(ids)):
        order = sorted(
            (j for j in range(len(ids)) if ids[j] != ids[qi]),
            key=lambda j: (ad2[qi, j], ids[j]),
        )[:5]
        out.extend(
            (int(ids[qi]), int(ids[j]), float(ad2[qi, j]), rk + 1)
            for rk, j in enumerate(order)
        )
    rows = ", ".join(f"({a}, {b}, {d!r}, {rk})" for a, b, d, rk in out)
    return (
        "SELECT a, b, CAST(ad2 AS DOUBLE) AS ad2, CAST(rk AS INT) AS rk "
        + values_clause(rows, "t(a, b, ad2, rk)")
    )


@register("pq_topk", oracle=_pq_oracle)
def q_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (Jégou et al. 2011): 16 subspaces × 32
    codes (16 bytes/vector — 16× compression of 64×float32), ADC
    table-lookup scan SERVING the persisted index (built once per
    fixture by build_index, like a resident engine's indexing job —
    the serve plan reads the codes parquet and never retrains).
    Codebooks come from the shared pyarrow trainer so the DuckDB
    oracle's numpy replay is bit-identical. Recall@5 vs exact L2
    asserted in tests/test_curation_ops.py (random-vector
    distance-concentration worst case)."""
    from flink_ms_spark.operators.similarity import (
        build_index,
        pq_codebooks_from_parquet,
        pq_index_topk,
    )

    # v4: rebalance-sized files; v3 was gen-stamped codes/gen=G; v2 was
    # shared-pyarrow-trainer codebooks
    idx = fixture_index(spark, sf_dir, "pq", "v4", lambda emb, path: build_index(
        emb, path, "pq", codebooks=pq_codebooks_from_parquet(
            sf_dir, n_subspaces=16, n_codes=32, seed=42)))
    return pq_index_topk(spark, idx, load_table(spark, sf_dir, "embeddings"), k=5)


# --------------------------------------------------------------------------
# Banded range join: per event, how many events (any user) landed in
# the strictly-preceding 5 minutes. Non-equi time joins plan as
# nested-loop in Spark; operators/rangejoin.py rewrites to an equi
# join on 5-minute buckets (left side explodes to ≤2 candidate
# buckets) + exact band filter. Micros-long arithmetic on both
# engines (fixture timestamps are micro-precision, verified).

_PRECEDING_ORACLE = """
WITH e AS (SELECT event_id, epoch_us(ts) AS t FROM events),
c AS (SELECT a.event_id, count(*) AS n
      FROM e a JOIN e b ON b.t >= a.t - 300000000 AND b.t < a.t
      GROUP BY a.event_id)
SELECT e.event_id, CAST(coalesce(c.n, 0) AS BIGINT) AS n_preceding
FROM e LEFT JOIN c USING (event_id)
"""


@register("preceding_5min_count", oracle=_PRECEDING_ORACLE)
def q_preceding_5min_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events in the strictly-preceding 5-minute band, per event."""
    from flink_ms_spark.operators.rangejoin import banded_range_join

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", F.expr("unix_micros(CAST(ts AS TIMESTAMP))").alias("l_ts")
    )
    r = ev.select(F.col("event_id").alias("r_id"), F.col("l_ts").alias("r_ts"))
    j = banded_range_join(
        ev, r, left_ts="l_ts", right_ts="r_ts", lower=-300_000_000, upper=0
    )
    counts = j.groupBy("event_id").agg(F.count("*").alias("n"))
    return ev.join(counts, "event_id", "left").select(
        "event_id", F.coalesce("n", F.lit(0)).cast("bigint").alias("n_preceding")
    )


# --------------------------------------------------------------------------
# Cross-document repeated n-grams (the detection signal behind exact
# substring dedup, Lee et al. 2021): 10-gram spans appearing in ≥2
# distinct documents, ranked by document frequency. Span construction
# is transform(sequence)+slice per row (no shuffle); the only shuffle
# is the gram groupBy, map-side combined. At 100 TB the head of this
# list IS the boilerplate/license-text catalog you strip before
# training.

_DUP_NGRAMS_ORACLE = """
WITH toks AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
              FROM documents),
g AS (SELECT DISTINCT doc_id, gram FROM (
        SELECT doc_id,
               unnest(list_transform(generate_series(1, len(t) - 9),
                      i -> array_to_string(t[i:i+9], ' '))) AS gram
        FROM toks WHERE len(t) >= 10))
SELECT gram, count(*) AS df
FROM g GROUP BY gram HAVING count(*) >= 2
ORDER BY df DESC, gram LIMIT 100
"""


@register("duplicated_ngrams", oracle=_DUP_NGRAMS_ORACLE)
def q_duplicated_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-100 10-gram spans shared by ≥2 documents (boilerplate
    catalog; df = number of distinct docs containing the span)."""
    from flink_ms_spark.partitioning import fan_out

    docs = load_table(spark, sf_dir, "documents")
    # fan_out with NO cap (the char_trigram_lm rule): the 10-gram
    # explode multiplies work per input byte, so it needs full
    # parallelism — r15 profile showed the whole explode+combine on
    # ONE task (1.0 s serial) because the small fixture scan arrives
    # as one partition; at corpus scale the scan already has splits
    # and this is a no-op.
    grams = (
        fan_out(docs.select("doc_id", F.split(F.trim("text"), r"\s+").alias("t")))
        .filter(F.size("t") >= 10)
        .select(
            "doc_id",
            F.explode(
                F.array_distinct(
                    F.expr(
                        "transform(sequence(1, size(t) - 9),"
                        " i -> concat_ws(' ', slice(t, i, 10)))"
                    )
                )
            ).alias("gram"),
        )
    )
    return (
        grams.groupBy("gram")
        .agg(F.count("*").alias("df"))
        .where(F.col("df") >= 2)
        .orderBy(F.desc("df"), "gram")
        .limit(100)
    )


# --------------------------------------------------------------------------
# Character-entropy quality signal: Shannon entropy (bits) of the
# per-doc character distribution — near-zero entropy = repeated-char
# garbage, unusually high = binary-ish noise. Portable because both
# engines compute the same -Σ p·log2(p) over integer counts and the
# result is rounded to 6 dp (libm ulp differences vanish well below
# that). The char explode is the only heavy stage; its groupBy is
# map-side combined on (doc_id, char) with ≤ |alphabet| groups per doc.

_ENTROPY_ORACLE = """
WITH ch AS (SELECT doc_id, unnest(string_split(text, '')) AS c FROM documents),
cc AS (SELECT doc_id, c, count(*) AS n FROM ch GROUP BY doc_id, c),
tot AS (SELECT doc_id, CAST(sum(n) AS DOUBLE) AS t FROM cc GROUP BY doc_id)
SELECT cc.doc_id,
       CAST(tot.t AS BIGINT) AS n_chars,
       count(*) AS n_distinct_chars,
       CAST(round(-sum((cc.n / tot.t) * log2(cc.n / tot.t)), 6) AS DOUBLE)
         AS char_entropy
FROM cc JOIN tot USING (doc_id)
GROUP BY cc.doc_id, tot.t
"""


@register("char_entropy", oracle=_ENTROPY_ORACLE)
def q_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc Shannon entropy (bits) of the character distribution."""
    docs = load_table(spark, sf_dir, "documents")
    cc = (
        docs.select("doc_id", F.explode(F.split("text", "")).alias("c"))
        .groupBy("doc_id", "c")
        .agg(F.count("*").alias("n"))
    )
    tot = cc.groupBy("doc_id").agg(F.sum("n").cast("double").alias("t"))
    p = F.col("n") / F.col("t")
    return (
        cc.join(tot, "doc_id")
        .groupBy("doc_id", "t")
        .agg(
            F.count("*").alias("n_distinct_chars"),
            F.round(-F.sum(p * F.log2(p)), 6).alias("char_entropy"),
        )
        .select(
            "doc_id",
            F.col("t").cast("bigint").alias("n_chars"),
            "n_distinct_chars",
            "char_entropy",
        )
    )


# --------------------------------------------------------------------------
# Fixed-k deterministic per-stratum sample: exactly min(k, |stratum|)
# docs per language, chosen by md5(doc_id) order — the cross-engine-
# reproducible analogue of per-group reservoir sampling (fractional
# sampling is q:stratified_sample). One window sort per stratum.

_FIXED_K_ORACLE = """
WITH r AS (SELECT doc_id, lang,
             row_number() OVER (PARTITION BY lang
                                ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
           FROM documents)
SELECT doc_id, lang, rk FROM r WHERE rk <= 5
"""


@register("fixed_k_sample", oracle=_FIXED_K_ORACLE)
def q_fixed_k_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly 5 docs per language by md5 order (deterministic)."""
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    return (
        docs.select("doc_id", "lang")
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 5)
    )


def _compression_oracle() -> str:
    """Deferred oracle for compression_ratio: DuckDB has no zlib, so
    the builder recomputes every ratio in single-node Python (same
    zlib level 6 / utf-8 / 6-dp contract as the UDF) over the current
    fixture and embeds the expectation as VALUES — an independent
    recomputation of the distributed Arrow-batched scan, same pattern
    as _pq_oracle."""
    import zlib
    from decimal import ROUND_HALF_UP, Decimal

    import duckdb

    sf_dir = os.environ.get("SPARK_GRAFT_SF_ORACLE", "/root/testdata/sf0.01")
    con = duckdb.connect()
    docs = con.execute(
        "SELECT doc_id, text FROM read_parquet(?) ORDER BY doc_id",
        [os.path.join(sf_dir, "documents.parquet")],
    ).fetchall()
    rows = []
    for doc_id, text in docs:
        b = (text or "").encode("utf-8")
        raw = len(zlib.compress(b, 6)) / len(b) if b else 1.0
        # Spark's round() on DOUBLE is HALF_UP on the exact binary
        # expansion (dyadic ratios like 89/128 DO hit the .xxxxxx5
        # boundary); Python's round() is HALF_EVEN — match Spark.
        ratio = float(
            Decimal(raw).quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP)
        )
        rows.append(f"({doc_id}, {ratio!r}, {len(text or '')})")
    return (
        "SELECT doc_id, CAST(zlib_ratio AS DOUBLE) AS zlib_ratio, "
        "CAST(n_chars AS INT) AS n_chars "
        + values_clause(', '.join(rows), "t(doc_id, zlib_ratio, n_chars)")
    )


@register("compression_ratio", oracle=_compression_oracle)
def q_compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """zlib-redundancy quality signal per doc (pandas-UDF path — the
    sanctioned Arrow-batched exception; bounds + monotonicity pinned
    in tests/test_curation_ops.py)."""
    from flink_ms_spark.operators.text import compression_ratio_udf

    docs = load_table(spark, sf_dir, "documents")
    ratio = compression_ratio_udf()
    return docs.select(
        "doc_id",
        F.round(ratio("text"), 6).alias("zlib_ratio"),
        F.length("text").alias("n_chars"),
    )


# --------------------------------------------------------------------------
# Capstone #2 — the training-mix manifest: exact-dedup survivors pass
# the token gate, get their deterministic split (md5(doc_id) mod 100 →
# 80/10/10), and the result is the per-(split, lang) doc/token ledger
# with each cell's token share WITHIN its split — the table a batch
# scheduler feeds from. One plan: dedup agg → semi join → map-side
# gate/split → final agg (+ a window over the ~15-row aggregate).

_MIX_MANIFEST_ORACLE = """
WITH keepers AS (
  SELECT min(doc_id) AS doc_id FROM documents
  GROUP BY md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))),
kept AS (SELECT d.* FROM documents d JOIN keepers k USING (doc_id)),
gated AS (
  SELECT doc_id, lang,
         len(string_split_regex(trim(text), '\\s+')) AS n_tokens,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
           % 100 AS bucket
  FROM kept
  WHERE len(string_split_regex(trim(text), '\\s+')) >= 20),
cells AS (
  SELECT CASE WHEN bucket < 80 THEN 'train'
              WHEN bucket < 90 THEN 'valid' ELSE 'test' END AS split,
         lang, count(*) AS n_docs,
         CAST(sum(n_tokens) AS BIGINT) AS total_tokens
  FROM gated GROUP BY 1, lang)
SELECT split, lang, n_docs, total_tokens,
       CAST(round(CAST(total_tokens AS DOUBLE)
                  / sum(total_tokens) OVER (PARTITION BY split), 6) AS DOUBLE)
         AS split_share
FROM cells ORDER BY split, lang
"""


@register("training_mix_manifest", oracle=_MIX_MANIFEST_ORACLE)
def q_training_mix_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup → gate → split → per-(split, lang) token ledger."""
    from flink_ms_spark.operators.dedup import exact_dedup_groups
    from flink_ms_spark.operators.text import token_count

    docs = load_table(spark, sf_dir, "documents")
    keepers = exact_dedup_groups(docs).select(F.col("keeper_id").alias("doc_id"))
    kept = docs.join(keepers, "doc_id", "left_semi")
    gated = kept.select(
        "doc_id",
        "lang",
        token_count("text").alias("n_tokens"),
        (
            F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10)
            .cast("long")
            % 100
        ).alias("bucket"),
    ).where(F.col("n_tokens") >= 20)
    cells = (
        gated.withColumn(
            "split",
            F.when(F.col("bucket") < 80, "train")
            .when(F.col("bucket") < 90, "valid")
            .otherwise("test"),
        )
        .groupBy("split", "lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        )
    )
    w = Window.partitionBy("split")
    return cells.select(
        "split",
        "lang",
        "n_docs",
        "total_tokens",
        F.round(
            F.col("total_tokens").cast("double") / F.sum("total_tokens").over(w), 6
        ).alias("split_share"),
    ).orderBy("split", "lang")


# --------------------------------------------------------------------------
# BM25 lexical search — the keyword-query complement to the ANN family
# (cosine_topk / ivf_topk / pq_topk): score documents against a fixed
# term set with Okapi BM25 (k1=1.2, b=0.75) and return the top 20.
# The idf uses the raw Robertson ratio (N - df + 0.5)/(df + 0.5)
# WITHOUT the log: the log is monotone, so rankings are identical, and
# rational arithmetic is bit-deterministic across engines where libm
# log() is not (same trick as tfidf_top_terms). Every literal is cast
# to DOUBLE on both sides — bare decimals are DECIMAL-typed in both
# Spark and DuckDB and poison float parity.
#
# Scale path: tokenize → per-doc tf is one shuffle; df for the query
# terms is a tiny aggregate (broadcast back); the scoring join is
# tf ⋈ broadcast(df) ⋈ dl, then a global top-k (rank-limit pushes a
# partial TakeOrdered to each partition). At 100 TB the tf/dl tables
# are the inverted-index build — persist them once, reuse per query.

_BM25_TERMS = ["join", "vector", "spark"]

# Shared CTE chain ending in `bm25_scored(doc_id, score)` — composed
# into _BM25_ORACLE here and _RRF_ORACLE (plans/curation.py) so the
# scoring math exists in exactly one place.
BM25_SCORED_CTES = f"""
toks AS (SELECT doc_id, unnest(string_split_regex(lower(text), '[^a-z]+')) AS term
              FROM documents),
tfd AS (SELECT doc_id, term, count(*) AS tf FROM toks WHERE term <> ''
        GROUP BY doc_id, term),
dl AS (SELECT doc_id, CAST(sum(tf) AS DOUBLE) AS dlen FROM tfd GROUP BY doc_id),
stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dlen) AS avgdl FROM dl),
q AS (SELECT unnest({_BM25_TERMS!r}) AS term),
dfq AS (SELECT q.term, CAST(count(DISTINCT t.doc_id) AS DOUBLE) AS df
        FROM q JOIN tfd t ON t.term = q.term GROUP BY q.term),
bm25_scored AS (
  SELECT t.doc_id,
         sum(((s.n_docs - d.df + CAST(0.5 AS DOUBLE)) / (d.df + CAST(0.5 AS DOUBLE)))
             * (CAST(t.tf AS DOUBLE) * CAST(2.2 AS DOUBLE))
             / (CAST(t.tf AS DOUBLE)
                + CAST(1.2 AS DOUBLE)
                  * (CAST(0.25 AS DOUBLE)
                     + CAST(0.75 AS DOUBLE) * l.dlen / s.avgdl))) AS score
  FROM tfd t JOIN dfq d ON t.term = d.term
       JOIN dl l ON t.doc_id = l.doc_id
       CROSS JOIN stats s
  GROUP BY t.doc_id)"""

_BM25_ORACLE = f"""
WITH {BM25_SCORED_CTES}
SELECT doc_id, CAST(round(score, 6) AS DOUBLE) AS bm25
FROM bm25_scored ORDER BY round(score, 6) DESC, doc_id LIMIT 20
"""


@register("bm25_search", oracle=_BM25_ORACLE)
def q_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-20 for a fixed keyword query (rational idf).

    Reference parity: the reference's text pipeline is bag-of-words
    scoring over parsed documents; this is the ranked-retrieval form.
    """
    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.select(
            "doc_id",
            F.explode(F.split(F.lower(F.col("text")), "[^a-z]+")).alias("term"),
        )
        .filter("term <> ''")
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    dl = tf.groupBy("doc_id").agg(F.sum("tf").cast("double").alias("dlen"))
    stats = dl.agg(
        F.count("*").cast("double").alias("n_docs"), F.avg("dlen").alias("avgdl")
    )
    dfq = (
        tf.filter(F.col("term").isin(_BM25_TERMS))
        .groupBy("term")
        .agg(F.countDistinct("doc_id").cast("double").alias("df"))
    )
    scored = (
        tf.join(F.broadcast(dfq), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "contrib",
            ((F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5)))
            * (F.col("tf").cast("double") * F.lit(2.2))
            / (
                F.col("tf").cast("double")
                + F.lit(1.2)
                * (F.lit(0.25) + F.lit(0.75) * F.col("dlen") / F.col("avgdl"))
            ),
        )
        .groupBy("doc_id")
        .agg(F.sum("contrib").alias("score"))
    )
    # frontier on the ROUNDED score (round-before-frontier, like
    # shipping_priority/top_supplier): raw float sums accumulate in
    # engine-specific order, so a raw-ordered LIMIT can pick different
    # rank-20 members per engine even when every emitted rounded value
    # agrees
    return (
        scored.withColumn("bm25", F.round("score", 6))
        .orderBy(F.desc("bm25"), "doc_id")
        .limit(20)
        .select("doc_id", "bm25")
    )


# --------------------------------------------------------------------------
# Per-source duplication census: join the LSH connected-component map
# back onto the corpus and report, per source, how many documents are
# non-canonical members of a near-dup cluster (the rows a
# cluster-dedup pass would drop). This is the curation-log view a
# data engineer reads before deciding which crawl snapshot to
# re-scrape — the reference for "which source is polluting the mix".
# Scale: reuses the bipartite min-label components (no pair
# materialization); the only new work is a doc_id-keyed join of the
# component map against the corpus and a per-source rollup.

_NEARDUP_RATE_ORACLE = _CC_CORE + """
SELECT d.source,
       count(*) AS n_docs,
       CAST(count(*) FILTER (WHERE c.doc_id IS NOT NULL
                             AND c.doc_id <> c.component) AS BIGINT) AS n_dups,
       CAST(round(count(*) FILTER (WHERE c.doc_id IS NOT NULL
                                   AND c.doc_id <> c.component)
                  / CAST(count(*) AS DOUBLE), 6) AS DOUBLE) AS dup_rate
FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
GROUP BY d.source
"""


@register("neardup_rate_by_source", oracle=_NEARDUP_RATE_ORACLE)
def q_neardup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source near-duplicate rate: fraction of each source's docs
    that are non-canonical members of an LSH dup cluster."""
    cc = _lsh_components(spark, sf_dir)
    dups = (
        cc.filter(F.col("node") != F.col("component"))
        .select(F.col("node").alias("doc_id"), F.lit(1).alias("_dup"))
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    return (
        docs.join(dups, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.coalesce(F.col("_dup"), F.lit(0))).cast("long").alias("n_dups"),
            F.round(
                F.sum(F.coalesce(F.col("_dup"), F.lit(0)))
                / F.count("*").cast("double"),
                6,
            ).alias("dup_rate"),
        )
    )


# --------------------------------------------------------------------------
# Gopher quality-rule battery (Rae et al. 2021 §A1.1) — the full
# non-repetition rule set as one pass (repetition rules live in
# ``repetition_stats``): word-count band, mean-word-length band,
# symbol-to-word ratio (# and ...), alphabetic-word fraction, and the
# required-stopword floor (≥2 of the 8 canonical Gopher stop words).
# Everything is per-row column math over the token array (one narrow
# map, NO explode — the arrays stay row-local), then a single
# partial-aggregating shuffle keyed by source. At 100 TB: a scan-shaped
# job; the per-source agg is a handful of keys with map-side combine.

_GOPHER_STOPS = ("the", "be", "to", "of", "and", "that", "have", "with")

_GOPHER_ORACLE = f"""
WITH toks AS (SELECT doc_id, source, text,
                     string_split_regex(trim(text), '\\s+') AS t
              FROM documents),
d AS (SELECT source,
             len(t) AS n_words,
             CAST(list_sum(list_transform(t, w -> len(w))) AS DOUBLE)
               / len(t) AS mean_wl,
             CAST((len(text) - len(replace(text, '#', '')))
                  + (len(text) - len(replace(text, '...', ''))) / 3
                  AS DOUBLE) / len(t) AS sym_ratio,
             CAST(len(list_filter(t, w -> regexp_matches(w, '[A-Za-z]')))
                  AS DOUBLE) / len(t) AS alpha_frac,
             len(list_distinct(list_filter(t,
                 w -> list_contains({list(_GOPHER_STOPS)}, w)))) AS stop_hits
      FROM toks),
r AS (SELECT source,
             (n_words BETWEEN 50 AND 100000) AS r_wordcount,
             (mean_wl >= 3 AND mean_wl <= 10) AS r_meanlen,
             (sym_ratio < 0.1) AS r_symbol,
             (alpha_frac >= 0.8) AS r_alpha,
             (stop_hits >= 2) AS r_stop
      FROM d)
SELECT source, count(*) AS n_docs,
       CAST(round(avg(CASE WHEN r_wordcount THEN 1.0 ELSE 0.0 END), 6) AS DOUBLE) AS wordcount_rate,
       CAST(round(avg(CASE WHEN r_meanlen THEN 1.0 ELSE 0.0 END), 6) AS DOUBLE) AS meanlen_rate,
       CAST(round(avg(CASE WHEN r_symbol THEN 1.0 ELSE 0.0 END), 6) AS DOUBLE) AS symbol_rate,
       CAST(round(avg(CASE WHEN r_alpha THEN 1.0 ELSE 0.0 END), 6) AS DOUBLE) AS alpha_rate,
       CAST(round(avg(CASE WHEN r_stop THEN 1.0 ELSE 0.0 END), 6) AS DOUBLE) AS stop_rate,
       CAST(sum(CASE WHEN r_wordcount AND r_meanlen AND r_symbol
                      AND r_alpha AND r_stop THEN 1 ELSE 0 END) AS BIGINT) AS n_pass_all
FROM r GROUP BY source ORDER BY source
"""


@register("gopher_rules", oracle=_GOPHER_ORACLE)
def q_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source pass rates for the Gopher §A1.1 quality rules."""
    stops = ", ".join(f"'{s}'" for s in _GOPHER_STOPS)
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "source",
        F.expr("split(trim(text), '\\\\s+')").alias("t"),
        F.col("text"),
    ).select(
        "source",
        F.size("t").alias("n_words"),
        (
            F.expr("aggregate(t, 0L, (a, w) -> a + length(w))").cast("double")
            / F.size("t")
        ).alias("mean_wl"),
        (
            (
                (F.length("text") - F.length(F.replace(F.col("text"), F.lit("#"))))
                + (F.length("text") - F.length(F.replace(F.col("text"), F.lit("...")))) / 3
            ).cast("double")
            / F.size("t")
        ).alias("sym_ratio"),
        (
            F.size(F.expr("filter(t, w -> w rlike '[A-Za-z]')")).cast("double")
            / F.size("t")
        ).alias("alpha_frac"),
        F.size(
            F.array_distinct(F.expr(f"filter(t, w -> w IN ({stops}))"))
        ).alias("stop_hits"),
    )
    r = d.select(
        "source",
        F.col("n_words").between(50, 100000).alias("r_wordcount"),
        ((F.col("mean_wl") >= 3) & (F.col("mean_wl") <= 10)).alias("r_meanlen"),
        (F.col("sym_ratio") < 0.1).alias("r_symbol"),
        (F.col("alpha_frac") >= 0.8).alias("r_alpha"),
        (F.col("stop_hits") >= 2).alias("r_stop"),
    )

    def rate(c: str):
        return F.round(
            F.avg(F.when(F.col(c), F.lit(1.0)).otherwise(F.lit(0.0))), 6
        )

    return r.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        rate("r_wordcount").alias("wordcount_rate"),
        rate("r_meanlen").alias("meanlen_rate"),
        rate("r_symbol").alias("symbol_rate"),
        rate("r_alpha").alias("alpha_rate"),
        rate("r_stop").alias("stop_rate"),
        F.sum(
            F.when(
                F.col("r_wordcount")
                & F.col("r_meanlen")
                & F.col("r_symbol")
                & F.col("r_alpha")
                & F.col("r_stop"),
                1,
            ).otherwise(0)
        ).cast("long").alias("n_pass_all"),
    ).orderBy("source")


# --------------------------------------------------------------------------
# Bloom-prefiltered decontamination (round 10) — the scale path of
# `decontaminate`. The exact variant broadcasts the eval-gram SET as a
# hash relation; at web scale that set (billions of grams) cannot
# ship, but its BLOOM FILTER (~10 bits/item for ~1% fp) can. Spark's
# internal BloomFilterAggregate/might_contain pair is NOT in the
# public SQL registry (4.1: runtime-filter-only), so the filter is
# built explicitly — which also keeps every bit reproducible:
# k=5 positions per gram from JVM-side xxhash64(seed, gram) mod m,
# positions collected ONCE (distinct, ≤ min(k·n, m) ints — a bloom
# must fit in memory by definition, that is its point), packed into a
# numpy bitmap and broadcast; the train-side membership test is the
# same k JVM hash columns + one Arrow-batched pandas UDF doing bitmap
# fancy-indexing (the sanctioned vectorized-Python exception — there
# is no built-in that probes a broadcast bitmap). The prefilter
# discards ~everything at scan speed with ZERO shuffle; an exact
# left-semi join then confirms only the bloom hits (false positives
# die here; blooms have no false negatives, so the result is EXACTLY
# the plain semi join the oracle runs). A doc is contaminated on ANY
# confirmed 4-gram hit (the GPT-3-style any-collision rule —
# 13-grams in the paper, 4 here because the synthetic fixture's
# ~60-token docs share no span longer than 4 tokens — vs
# `decontaminate`'s 50%-of-5-grams overlap score).

_BLOOM_SEEDS = (17, 89, 251, 509, 1021)
_BLOOM_BITS = 1 << 21  # ~2M bits; ~10 bits/item at the fixture scale


def _bloom_positions(col):
    """k bit positions for a gram: xxhash64 over (seed literal, gram)
    — a seeded family, deterministic on both build and probe sides."""
    return [
        F.pmod(F.xxhash64(F.lit(s), col), F.lit(_BLOOM_BITS)).cast("long")
        for s in _BLOOM_SEEDS
    ]

_BLOOM_DECON_ORACLE = """
WITH toks AS (SELECT doc_id, source,
                     string_split_regex(trim(text), '\\s+') AS t
              FROM documents),
g AS (SELECT DISTINCT doc_id, source, gram FROM (
        SELECT doc_id, source,
               unnest(list_transform(generate_series(1, len(t) - 3),
                      i -> array_to_string(t[i:i+3], ' '))) AS gram
        FROM toks WHERE len(t) >= 4)),
ev AS (SELECT DISTINCT gram FROM g WHERE doc_id % 100 = 0),
hits AS (SELECT DISTINCT tr.doc_id, tr.source
         FROM (SELECT * FROM g WHERE doc_id % 100 <> 0) tr
         JOIN ev ON tr.gram = ev.gram),
train AS (SELECT DISTINCT doc_id, source FROM toks
          WHERE doc_id % 100 <> 0 AND len(t) >= 4),
agg AS (SELECT t.source, count(*) AS n_docs,
               CAST(sum(CASE WHEN h.doc_id IS NULL THEN 0 ELSE 1 END)
                    AS BIGINT) AS n_contaminated
        FROM train t LEFT JOIN hits h
          ON t.doc_id = h.doc_id GROUP BY t.source)
SELECT source, n_docs, n_contaminated,
       round(CAST(n_contaminated AS DOUBLE) * 100 / n_docs, 6)
         AS contaminated_pct
FROM agg ORDER BY source
"""


@register("bloom_decontaminate", oracle=_BLOOM_DECON_ORACLE)
def q_bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source any-4-gram eval contamination via bloom prefilter +
    exact confirm."""
    docs = load_table(spark, sf_dir, "documents")
    grams = (
        docs.select(
            "doc_id", "source", F.split(F.trim("text"), r"\s+").alias("t")
        )
        .filter(F.size("t") >= 4)
        .select(
            "doc_id",
            "source",
            F.explode(
                F.array_distinct(
                    F.expr(
                        "transform(sequence(1, size(t) - 3),"
                        " i -> concat_ws(' ', slice(t, i, 4)))"
                    )
                )
            ).alias("gram"),
        )
    )
    # the eval-gram set is consumed TWICE (bloom-bitmap build AND the
    # exact-confirm semi join) — pin it eagerly so the eval-side scan +
    # explode runs once; it stays tiny by construction (the eval slice)
    ev = (
        grams.filter(F.col("doc_id") % 100 == 0)
        .select("gram")
        .distinct()
        .localCheckpoint(eager=True)
    )
    # build: distinct set-bit positions of the eval grams (bounded by
    # the bitmap size), packed into a broadcast numpy bitmap — at
    # corpus scale the caller sizes _BLOOM_BITS to the REAL eval
    # cardinality (bits scale linearly, ~10 bits/item for ~1% fp)
    import numpy as np

    positions = (
        ev.select(F.explode(F.array(*_bloom_positions(F.col("gram")))).alias("pos"))
        .distinct()
        .collect()
    )
    bitmap = np.zeros(_BLOOM_BITS, dtype=bool)
    bitmap[[r.pos for r in positions]] = True
    bc = spark.sparkContext.broadcast(bitmap)

    from pyspark.sql.types import BooleanType

    @F.pandas_udf(BooleanType())
    def _might_contain(h0, h1, h2, h3, h4):
        import pandas as pd

        bm = bc.value
        hit = bm[h0.to_numpy()]
        for h in (h1, h2, h3, h4):
            hit &= bm[h.to_numpy()]
        return pd.Series(hit)

    # corpus-side grams via a mapInPandas str.join kernel (the r14
    # shingle_rows pattern — the interpreted per-position concat_ws
    # HOF cost ~3.8 s CPU at sf0.1 for this one pass); the doc_id
    # slice filter runs BEFORE the kernel so it still pushes to the
    # scan (an opaque kernel would swallow it). The eval side keeps
    # the JVM form: its %100 filter prunes the scan to the eval slice,
    # which an opaque kernel input would forfeit.
    from pyspark.sql import types as T

    gram_schema = T.StructType(
        [
            T.StructField("doc_id", docs.schema["doc_id"].dataType, False),
            T.StructField("gram", T.StringType(), False),
        ]
    )

    def gram_kernel(batches):
        import re

        import pandas as pd

        ws = re.compile(r"[ \t\n\x0B\f\r]+")
        for pdf in batches:
            ids_out, g_out = [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                if text is None:
                    continue
                t = ws.split(text.strip(" "))
                if len(t) < 4:
                    continue
                for g in dict.fromkeys(
                    " ".join(t[i : i + 4]) for i in range(len(t) - 3)
                ):
                    ids_out.append(doc_id)
                    g_out.append(g)
            yield pd.DataFrame({"doc_id": ids_out, "gram": g_out})

    from flink_ms_spark.partitioning import FANOUT_KB_PER_TASK, fan_out

    train_grams = fan_out(
        docs.filter(F.col("doc_id") % 100 != 0).select("doc_id", "text"),
        kb_per_task=FANOUT_KB_PER_TASK,
    ).mapInPandas(gram_kernel, schema=gram_schema)
    probes = _bloom_positions(F.col("gram"))
    prefiltered = train_grams.where(_might_contain(*probes))
    confirmed = prefiltered.join(F.broadcast(ev), "gram", "left_semi")
    hit_docs = confirmed.select("doc_id").distinct().withColumn(
        "_hit", F.lit(1)
    )
    train_docs = (
        docs.filter(F.col("doc_id") % 100 != 0)
        .filter(F.size(F.split(F.trim("text"), r"\s+")) >= 4)
        .select("doc_id", "source")
    )
    return (
        train_docs.join(hit_docs, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.coalesce("_hit", F.lit(0))).cast("long").alias(
                "n_contaminated"
            ),
        )
        .select(
            "source",
            "n_docs",
            "n_contaminated",
            F.round(
                F.col("n_contaminated").cast("double") * 100
                / F.col("n_docs"),
                6,
            ).alias("contaminated_pct"),
        )
        .orderBy("source")
    )
