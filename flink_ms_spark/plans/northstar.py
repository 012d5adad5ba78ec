"""North-star oracle queries: dedup, similarity search, text analysis
over the documents/embeddings fixtures — the training-data-pipeline
operators (build brief; graded alongside SURVEY.md §2).

Spark side always goes through the package operators
(operators/dedup.py, operators/similarity.py, operators/text.py); the
oracle SQL spells the same semantics in DuckDB. Hashing is md5-based
everywhere precisely so these pipelines ARE oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_ms_spark.operators.dedup import (
    exact_dedup_groups,
    lsh_candidate_pairs,
    minhash_signatures,
    ngram_jaccard,
    simhash,
)
from flink_ms_spark.operators.multimodal import (
    decode_image_meta,
    extract_features,
    fake_image_decoder,
    synthesize_media,
)
from flink_ms_spark.operators.similarity import cosine_topk, embedding_neardup, ivf_topk
from flink_ms_spark.operators.text import (
    bpe_ish_token_count,
    char_count_no_spaces,
    fingerprint,
    predict_lang,
    quality_columns,
    rolling_fingerprints,
    scrub_pii,
    token_count,
)
from flink_ms_spark.plans.registry import fixture_index, register, register_sql
from flink_ms_spark.sources.tables import load_table

# Shared DuckDB fragments
_DUCK_NORM = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
_DUCK_TOKS = "string_split_regex(trim(text), '\\s+')"


# --------------------------------------------------------------------------
# exact dedup


@register(
    "dedup_exact",
    oracle=f"""
SELECT md5({_DUCK_NORM}) AS text_hash, count(*) AS n_dups, min(doc_id) AS keeper_id
FROM documents GROUP BY 1
""",
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_dedup_groups(load_table(spark, sf_dir, "documents"))


# --------------------------------------------------------------------------
# document fingerprint


@register(
    "doc_fingerprint",
    oracle=f"SELECT doc_id, md5({_DUCK_NORM}) AS fp FROM documents",
)
def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", fingerprint("text").alias("fp"))


# --------------------------------------------------------------------------
# text quality columns


@register(
    "text_quality",
    oracle=f"""
WITH t AS (
  SELECT doc_id, text, {_DUCK_TOKS} AS toks FROM documents)
SELECT doc_id,
  CAST(len(toks) AS INT) AS n_tokens,
  CAST(round(length(regexp_replace(text, '\\s+', '', 'g')) * 1.0 / len(toks), 6)
       AS DOUBLE) AS avg_token_len,
  CAST(round(len(list_filter(toks, x -> list_contains(
        ['the','a','and','of','to','in','is','it'], lower(x)))) * 1.0 / len(toks), 6)
       AS DOUBLE) AS stopword_ratio,
  CAST(round((length(text) - length(regexp_replace(text, '[A-Z]', '', 'g')))
       * 1.0 / length(text), 6) AS DOUBLE) AS upper_ratio,
  CAST(round((length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))
       * 1.0 / length(text), 6) AS DOUBLE) AS digit_ratio
FROM t
""",
)
def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return quality_columns(docs).drop("text")


# --------------------------------------------------------------------------
# model-based quality scores — the classifier stage (frozen
# fixture-trained logistic weights served as pure column math; see
# ml/quality.py for the trainer that produces/refreshes the weights)


def _quality_logit_oracle() -> str:
    from flink_ms_spark.ml.quality import FROZEN_WEIGHTS

    w0, w1, w2, w3, w4, w5 = FROZEN_WEIGHTS
    return f"""
WITH t AS (SELECT doc_id, text, {_DUCK_TOKS} AS toks FROM documents),
f AS (SELECT doc_id,
  round(length(regexp_replace(text, '\\s+', '', 'g')) * 1.0 / len(toks), 6)
    AS avg_token_len,
  round(len(list_filter(toks, x -> list_contains(
    ['the','a','and','of','to','in','is','it'], lower(x)))) * 1.0 / len(toks), 6)
    AS stopword_ratio,
  round((length(text) - length(regexp_replace(text, '[A-Z]', '', 'g')))
    * 1.0 / length(text), 6) AS upper_ratio,
  round((length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))
    * 1.0 / length(text), 6) AS digit_ratio,
  round(ln(1.0 + len(toks)), 6) AS log_n_tokens
FROM t),
z AS (SELECT doc_id,
  round({w0!r} + {w1!r} * avg_token_len + {w2!r} * stopword_ratio
        + {w3!r} * upper_ratio + {w4!r} * digit_ratio
        + {w5!r} * log_n_tokens, 6) AS quality_logit
FROM f)
SELECT doc_id, CAST(quality_logit AS DOUBLE) AS quality_logit,
  CAST(round(1.0 / (1.0 + exp(-quality_logit)), 6) AS DOUBLE) AS quality_prob
FROM z
"""


@register("quality_logit_scores", oracle=_quality_logit_oracle)
def q_quality_logit_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality probability per doc — the learned
    generalization of the boolean heuristic gates (one probability
    knob instead of N cliff-edge thresholds). Serving is codegen'd
    column math over frozen literal weights: scan-speed at 100 TB,
    no UDF, no shuffle."""
    from flink_ms_spark.ml.quality import score_quality

    return score_quality(load_table(spark, sf_dir, "documents"))


# --------------------------------------------------------------------------
# quality-model calibration — decile reliability table: predicted
# probability vs empirical weak-label rate (the ML-ops audit that says
# whether 0.8 MEANS 80%). Buckets on the rounded prob; both engines
# compute identical bucket ids and integer counts.


def _quality_calibration_oracle() -> str:
    from flink_ms_spark.ml.quality import FROZEN_WEIGHTS

    w0, w1, w2, w3, w4, w5 = FROZEN_WEIGHTS
    return f"""
WITH t AS (SELECT doc_id, text, {_DUCK_TOKS} AS toks FROM documents),
f AS (SELECT doc_id, toks, text,
  round(length(regexp_replace(text, '\\s+', '', 'g')) * 1.0 / len(toks), 6)
    AS avg_token_len,
  round(len(list_filter(toks, x -> list_contains(
    ['the','a','and','of','to','in','is','it'], lower(x)))) * 1.0 / len(toks), 6)
    AS stopword_ratio,
  round((length(text) - length(regexp_replace(text, '[A-Z]', '', 'g')))
    * 1.0 / length(text), 6) AS upper_ratio,
  round((length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))
    * 1.0 / length(text), 6) AS digit_ratio,
  round(ln(1.0 + len(toks)), 6) AS log_n_tokens
FROM t),
z AS (SELECT doc_id,
  round(1.0 / (1.0 + exp(-round({w0!r} + {w1!r} * avg_token_len
    + {w2!r} * stopword_ratio + {w3!r} * upper_ratio
    + {w4!r} * digit_ratio + {w5!r} * log_n_tokens, 6))), 6) AS prob,
  CASE WHEN stopword_ratio >= 0.03 AND avg_token_len BETWEEN 2.0 AND 12.0
            AND len(toks) >= 5 THEN 1 ELSE 0 END AS label
FROM f)
SELECT CAST(least(floor(prob * 10), 9) AS INT) AS bucket,
       CAST(count(*) AS BIGINT) AS n,
       CAST(round(avg(prob), 6) AS DOUBLE) AS mean_prob,
       CAST(round(sum(label) * 1.0 / count(*), 6) AS DOUBLE) AS label_rate
FROM z GROUP BY 1
"""


@register("quality_calibration", oracle=_quality_calibration_oracle)
def q_quality_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability table of the frozen quality model: per probability
    decile, the mean predicted probability vs the empirical weak-label
    rate. Scan-speed column math + one 10-group aggregate."""
    from flink_ms_spark.ml.quality import (
        quality_feature_frame,
        score_quality,
        weak_label,
    )

    docs = load_table(spark, sf_dir, "documents")
    labeled = quality_feature_frame(docs).withColumn("label", weak_label())
    z = score_quality(docs).join(
        labeled.select("doc_id", "label"), "doc_id"
    )
    return (
        z.select(
            F.least(F.floor(F.col("quality_prob") * 10), F.lit(9))
            .cast("int")
            .alias("bucket"),
            "quality_prob",
            "label",
        )
        .groupBy("bucket")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.round(F.avg("quality_prob"), 6).alias("mean_prob"),
            F.round(F.sum("label") / F.count("*"), 6).alias("label_rate"),
        )
    )


# --------------------------------------------------------------------------
# curation funnel — the per-stage survivor counts a curation run logs
# (the funnel view of the corpus_curation capstone, with the
# model-based quality gate as the final stage)


def _curation_funnel_oracle() -> str:
    from flink_ms_spark.ml.quality import FROZEN_WEIGHTS

    w0, w1, w2, w3, w4, w5 = FROZEN_WEIGHTS
    return f"""
WITH keepers AS (
  SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5({_DUCK_NORM})),
kept AS (SELECT d.* FROM documents d JOIN keepers k USING (doc_id)),
en AS (SELECT * FROM kept WHERE lang = 'en'),
f AS (SELECT doc_id, {_DUCK_TOKS} AS toks, text FROM en),
z AS (SELECT doc_id,
  round({w0!r}
    + {w1!r} * round(length(regexp_replace(text, '\\s+', '', 'g')) * 1.0 / len(toks), 6)
    + {w2!r} * round(len(list_filter(toks, x -> list_contains(
        ['the','a','and','of','to','in','is','it'], lower(x)))) * 1.0 / len(toks), 6)
    + {w3!r} * round((length(text) - length(regexp_replace(text, '[A-Z]', '', 'g')))
        * 1.0 / length(text), 6)
    + {w4!r} * round((length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))
        * 1.0 / length(text), 6)
    + {w5!r} * round(ln(1.0 + len(toks)), 6), 6) AS logit
  FROM f),
q AS (SELECT doc_id FROM z WHERE round(1.0 / (1.0 + exp(-logit)), 6) >= 0.5)
SELECT CAST(0 AS INT) AS stage_no, 'raw' AS stage,
       CAST(count(*) AS BIGINT) AS n_docs FROM documents
UNION ALL SELECT 1, 'exact_dedup', count(*) FROM kept
UNION ALL SELECT 2, 'lang_en', count(*) FROM en
UNION ALL SELECT 3, 'quality_model', count(*) FROM q
"""


@register("curation_funnel", oracle=_curation_funnel_oracle)
def q_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stage survivor counts: raw → exact-dedup keepers → English
    gate → model-based quality gate (prob ≥ 0.5, frozen weights). The
    curation-log funnel a 100 TB run emits per shard — each stage is a
    semi-join/filter refinement of the last, counted in ONE composed
    plan (the driver's collect is the only action)."""
    from flink_ms_spark.ml.quality import score_quality

    docs = load_table(spark, sf_dir, "documents")
    keepers = exact_dedup_groups(docs).select(
        F.col("keeper_id").alias("doc_id")
    )
    kept = docs.join(keepers, "doc_id", "left_semi")
    en = kept.where(F.col("lang") == "en")
    q = en.join(
        score_quality(en).where(F.col("quality_prob") >= 0.5).select("doc_id"),
        "doc_id",
        "left_semi",
    )

    def stage(no: int, name: str, df: DataFrame) -> DataFrame:
        return df.agg(
            F.lit(no).cast("int").alias("stage_no"),
            F.lit(name).alias("stage"),
            F.count("*").cast("long").alias("n_docs"),
        )

    return (
        stage(0, "raw", docs)
        .unionByName(stage(1, "exact_dedup", kept))
        .unionByName(stage(2, "lang_en", en))
        .unionByName(stage(3, "quality_model", q))
    )


# --------------------------------------------------------------------------
# language-ID heuristic


@register(
    "lang_id",
    oracle=f"""
WITH t AS (SELECT doc_id, lang, list_transform({_DUCK_TOKS}, x -> lower(x)) AS toks
           FROM documents)
SELECT doc_id, lang,
  CASE
    WHEN list_has_any(toks, ['the','and','of']) THEN 'en'
    WHEN list_has_any(toks, ['der','die','das','und']) THEN 'de'
    WHEN list_has_any(toks, ['le','la','les','et']) THEN 'fr'
    WHEN list_has_any(toks, ['el','los','las','y']) THEN 'es'
    ELSE 'zh'
  END AS predicted_lang
FROM t
""",
)
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", "lang", predict_lang("text").alias("predicted_lang"))


def _q_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the marker-word language-ID heuristic
    against the declared lang column — the classifier-audit a
    curation run keeps next to the classifier itself. One narrow map
    + one tiny (≤ |langs|²) keyed agg."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(
            F.col("lang").alias("declared"),
            predict_lang("text").alias("predicted"),
        )
        .groupBy("declared", "predicted")
        .agg(F.count("*").alias("n"))
    )


register(
    "lang_confusion",
    oracle=f"""
WITH t AS (SELECT lang AS declared,
             list_transform({_DUCK_TOKS}, x -> lower(x)) AS toks
           FROM documents),
p AS (SELECT declared,
  CASE
    WHEN list_has_any(toks, ['the','and','of']) THEN 'en'
    WHEN list_has_any(toks, ['der','die','das','und']) THEN 'de'
    WHEN list_has_any(toks, ['le','la','les','et']) THEN 'fr'
    WHEN list_has_any(toks, ['el','los','las','y']) THEN 'es'
    ELSE 'zh'
  END AS predicted
FROM t)
SELECT declared, predicted, count(*) AS n FROM p GROUP BY declared, predicted
""",
)(_q_lang_confusion)


# --------------------------------------------------------------------------
# MinHash signatures (3-gram shingles)

_MINHASH_ORACLE = f"""
WITH toks AS (SELECT doc_id, {_DUCK_TOKS} AS t FROM documents),
sh AS (SELECT doc_id, unnest(list_transform(
         generate_series(1, greatest(len(t) - 2, 1)),
         i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) AS s
       FROM toks),
x AS (SELECT doc_id,
        CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT) % 2147483647 AS x
      FROM sh),
hs AS (SELECT doc_id, hh.h, ((2 * hh.h + 1) * x + hh.h * 12345 + 7) % 2147483647 AS mh
       FROM x CROSS JOIN (SELECT unnest(generate_series(1, 4)) AS h) hh)
SELECT doc_id, CAST(h AS INT) AS h, min(mh) AS minhash
FROM hs GROUP BY doc_id, h
"""


@register("minhash", oracle=_MINHASH_ORACLE)
def q_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    sigs = minhash_signatures(docs, num_hashes=4, shingle_n=3)
    return sigs.select("doc_id", F.col("h").cast("int").alias("h"), "minhash")


# --------------------------------------------------------------------------
# LSH candidate pairs (unigram shingles, 1-row bands → any-match)

_LSH_ORACLE = """
WITH toks AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM documents),
sh AS (SELECT doc_id, unnest(t) AS s FROM toks),
x AS (SELECT doc_id,
        CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT) % 2147483647 AS x
      FROM sh),
hs AS (SELECT doc_id, hh.h, ((2 * hh.h + 1) * x + hh.h * 12345 + 7) % 2147483647 AS mh
       FROM x CROSS JOIN (SELECT unnest(generate_series(1, 4)) AS h) hh),
sigs AS (SELECT doc_id, h, min(mh) AS minhash
         FROM hs GROUP BY doc_id, h),
bands AS (SELECT doc_id, CAST((h - 1) // 1 AS INT) AS band,
                 string_agg(h || ':' || minhash, ',' ORDER BY h || ':' || minhash) AS band_sig
          FROM sigs GROUP BY doc_id, CAST((h - 1) // 1 AS INT))
SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
FROM bands x JOIN bands y USING (band, band_sig)
WHERE x.doc_id < y.doc_id
"""


@register("lsh_pairs", oracle=_LSH_ORACLE)
def q_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup candidates: unigram minhash, band size 1 (candidate if
    ANY of the 4 minhashes collide) — high recall over the small-vocab
    fixture corpus."""
    docs = load_table(spark, sf_dir, "documents")
    sigs = minhash_signatures(docs, num_hashes=4, shingle_n=1)
    return lsh_candidate_pairs(sigs, band_size=1)


# --------------------------------------------------------------------------
# Cross-method near-dup agreement — how much do MinHash-LSH and SimHash
# discovery overlap? The triangulation audit a curation run keeps when
# two independent near-dup families gate the same corpus: high overlap
# ⇒ the signals corroborate; divergence names the docs one family
# misses (LSH keys on shared VOCABULARY, SimHash on shared token
# DISTRIBUTION — they genuinely see different things).

_METHOD_AGREEMENT_ORACLE = """
WITH toks AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM documents),
sh AS (SELECT doc_id, unnest(t) AS s FROM toks),
x AS (SELECT doc_id,
        CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT) % 2147483647 AS x
      FROM sh),
hs AS (SELECT doc_id, hh.h, ((2 * hh.h + 1) * x + hh.h * 12345 + 7) % 2147483647 AS mh
       FROM x CROSS JOIN (SELECT unnest(generate_series(1, 4)) AS h) hh),
msigs AS (SELECT doc_id, h, min(mh) AS minhash FROM hs GROUP BY doc_id, h),
mbands AS (SELECT doc_id, h AS band, CAST(minhash AS VARCHAR) AS band_sig FROM msigs),
mkeep AS (SELECT band, band_sig FROM mbands
          GROUP BY band, band_sig HAVING count(*) BETWEEN 2 AND 64),
lsh AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
        FROM mbands x JOIN mbands y USING (band, band_sig)
        JOIN mkeep USING (band, band_sig)
        WHERE x.doc_id < y.doc_id),
stoks AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS t
          FROM documents),
th AS (SELECT doc_id, md5(t) AS h FROM stoks),
votes AS (SELECT doc_id, bb.b,
            CASE WHEN (strpos('0123456789abcdef', substr(h, bb.b, 1)) - 1) % 2 = 1
                 THEN 1 ELSE -1 END AS v
          FROM th CROSS JOIN (SELECT unnest(generate_series(1, 32)) AS b) bb),
bits AS (SELECT doc_id, b, CASE WHEN sum(v) > 0 THEN '1' ELSE '0' END AS bit
         FROM votes GROUP BY doc_id, b),
ssig AS (SELECT doc_id, string_agg(bit, '' ORDER BY b) AS s FROM bits GROUP BY doc_id),
sbands AS (SELECT doc_id, s, bb.band, substr(s, bb.band * 8 + 1, 8) AS band_sig
           FROM ssig CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS band) bb),
scand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b, x.s AS sa, y.s AS sb
          FROM sbands x JOIN sbands y USING (band, band_sig)
          WHERE x.doc_id < y.doc_id),
simp AS (SELECT a, b FROM (
           SELECT a, b,
             list_sum(list_transform(generate_series(1, 32),
               i -> CASE WHEN substr(sa, i, 1) != substr(sb, i, 1)
                    THEN 1 ELSE 0 END)) AS hamming
           FROM scand) WHERE hamming <= 2),
agg AS (SELECT
  (SELECT count(*) FROM lsh) AS n_lsh,
  (SELECT count(*) FROM simp) AS n_simhash,
  (SELECT count(*) FROM lsh JOIN simp USING (a, b)) AS n_both)
SELECT CAST(n_lsh AS BIGINT) AS n_lsh,
       CAST(n_simhash AS BIGINT) AS n_simhash,
       CAST(n_both AS BIGINT) AS n_both,
       CAST(round(n_both * 1.0 / (n_lsh + n_simhash - n_both), 6) AS DOUBLE)
         AS pair_jaccard
FROM agg
"""


@register("dedup_method_agreement", oracle=_METHOD_AGREEMENT_ORACLE)
def q_dedup_method_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row overlap report of the two discovery families: pair
    counts from capped-bucket MinHash-LSH (4 one-row bands, 64-doc
    bucket cap) and SimHash (32-bit, hamming ≤ 2), their intersection,
    and the pair-set Jaccard. One composed plan; each family's
    shuffles are its own documented set."""
    from flink_ms_spark.operators.dedup import MINHASH_P, simhash_neardup
    from flink_ms_spark.partitioning import FANOUT_KB_PER_TASK, fan_out

    docs = load_table(spark, sf_dir, "documents")
    # ONE shared md5 pass (r14): both families hash the SAME token
    # stream — minhash's shingle_n=1 base hash is md5(token) mod p and
    # simhash votes on md5(token) hex digits — so the corpus is
    # tokenized and md5-hashed once into a pinned per-doc hex array,
    # and each family derives its signatures from that table (the
    # query used to run two ~5 s md5 scans at sf0.1 for identical
    # digests). shingles(text, 1) equals the raw token array,
    # including the empty-doc one-entry guard, so the minhash base
    # values are bit-identical to minhash_signatures'.
    # hashlib mapInPandas kernel (the r14 minhash_signatures pattern):
    # one pass emits BOTH the hex array (_hs, simhash votes) and the
    # 60-bit base hashes (_xs, minhash side) — the interpreted JVM HOF
    # form cost ~3 s CPU for the md5 pass plus 4 conv-per-element
    # traversals for the signature derivation at sf0.1. NULL text keeps
    # its NULL-array row (transform-of-NULL semantics).
    import pandas as pd
    from pyspark.sql import types as T

    base_schema = T.StructType(
        [
            T.StructField("doc_id", docs.schema["doc_id"].dataType, False),
            T.StructField("_xs", T.ArrayType(T.LongType()), True),
            T.StructField("_ssig", T.StringType(), True),
        ]
    )

    def tok_hashes_kernel(batches):
        import hashlib
        import re

        import numpy as np

        ws = re.compile(r"[ \t\n\x0B\f\r]+")
        md5 = hashlib.md5
        p = MINHASH_P
        for pdf in batches:
            ids_out, xs_out, sig_out = [], [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                ids_out.append(doc_id)
                if text is None:
                    xs_out.append(None)
                    sig_out.append(None)
                    continue
                hexes = [
                    md5(t.encode("utf-8")).hexdigest()
                    for t in ws.split(text.strip(" "))
                ]
                xs_out.append([int(h[:15], 16) % p for h in hexes])
                # 32-bit simhash: hex-digit parity votes, vectorized —
                # digit value's low bit == (strpos('0123..f', d)-1) % 2,
                # the oracle's formula; bit set iff ones strictly beat
                # half the token count (ties → '0', simhash() contract)
                arr = np.frombuffer("".join(hexes).encode(), dtype=np.uint8)
                vals = arr - 48 - (arr >= 97) * 39
                ones = (vals & 1).reshape(len(hexes), 32).sum(axis=0)
                n = len(hexes)
                sig_out.append(
                    "".join("1" if 2 * o > n else "0" for o in ones)
                )
            if not ids_out:
                # an empty object column arrives as float64 and
                # Arrow cannot cast that to list<...> — skip
                continue
            yield pd.DataFrame(
                {"doc_id": ids_out, "_xs": xs_out, "_ssig": sig_out}
            )

    # kb_per_task: byte-proportional md5 kernel (the minhash_signatures
    # family) — r15 closed the one remaining uncapped site class: the
    # uncapped 32-task checkpoint wave here measured 8.0 s summed
    # runtime for 0.18 s of CPU at sf0.1 (pure Python-worker wave
    # overhead), and downstream consumers inherit the width.
    base = (
        fan_out(docs.select("doc_id", "text"), kb_per_task=FANOUT_KB_PER_TASK)
        .mapInPandas(tok_hashes_kernel, schema=base_schema)
        .localCheckpoint(eager=True)
    )
    mins = F.transform(
        F.sequence(F.lit(1), F.lit(4)),
        lambda hh: F.array_min(
            F.transform(
                F.col("_xs"),
                lambda x: ((F.lit(2) * hh + 1) * x + hh * F.lit(12_345) + 7)
                % MINHASH_P,
            )
        ),
    )
    sigs = base.select(
        "doc_id", F.posexplode(mins).alias("pos", "minhash")
    ).select("doc_id", (F.col("pos") + 1).cast("int").alias("h"), "minhash")
    # capped buckets — the same curation-log form as dedup_report: a
    # hot boilerplate bucket is dropped, never pair-expanded, so the
    # audit itself cannot go quadratic at scale (uncapped, this query
    # measured 24 s at sf0.1; capped, sub-2 s). Each family's pair set
    # is EAGERLY checkpointed: the three count branches consume lsh and
    # simp twice each, and AQE's concurrent stage futures re-ran both
    # subtrees per consumer (r14 profile: the simhash side alone was
    # ~1.6 s and executed twice); the pinned pair sets are
    # candidate-bounded rows, so the checkpoint is cheap at any scale.
    lsh = lsh_candidate_pairs(
        sigs,
        band_size=1,
        max_bucket_size=64,
    ).localCheckpoint(eager=True)
    simp = (
        simhash_neardup(
            docs,
            bits=32,
            n_bands=4,
            max_hamming=2,
            signatures=base.where(F.col("_ssig").isNotNull()).select(
                "doc_id", F.col("_ssig").alias("simhash")
            ),
        )
        .select("a", "b")
        .localCheckpoint(eager=True)
    )
    n_lsh = lsh.agg(F.count("*").cast("long").alias("n_lsh"))
    n_sim = simp.agg(F.count("*").cast("long").alias("n_simhash"))
    n_both = (
        lsh.join(simp, ["a", "b"])
        .agg(F.count("*").cast("long").alias("n_both"))
    )
    return (
        n_lsh.crossJoin(n_sim)
        .crossJoin(n_both)
        .select(
            "n_lsh",
            "n_simhash",
            "n_both",
            F.round(
                F.col("n_both")
                / (F.col("n_lsh") + F.col("n_simhash") - F.col("n_both")),
                6,
            ).alias("pair_jaccard"),
        )
    )


# --------------------------------------------------------------------------
# SimHash (8-bit, md5-digit votes)

_SIMHASH_ORACLE = """
WITH toks AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS t
              FROM documents),
th AS (SELECT doc_id, md5(t) AS h FROM toks),
votes AS (SELECT doc_id, bb.b,
            CASE WHEN (strpos('0123456789abcdef', substr(h, bb.b, 1)) - 1) % 2 = 1
                 THEN 1 ELSE -1 END AS v
          FROM th CROSS JOIN (SELECT unnest(generate_series(1, 8)) AS b) bb),
bits AS (SELECT doc_id, b, CASE WHEN sum(v) > 0 THEN '1' ELSE '0' END AS bit
         FROM votes GROUP BY doc_id, b)
SELECT doc_id, string_agg(bit, '' ORDER BY b) AS simhash
FROM bits GROUP BY doc_id
"""


@register("simhash", oracle=_SIMHASH_ORACLE)
def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash(load_table(spark, sf_dir, "documents"), bits=8)


# --------------------------------------------------------------------------
# SimHash near-dup: Hamming-banded candidates + exact verify (32-bit,
# 4 bands of 8 — pigeonhole covers hamming ≤ 2 with no false negatives;
# 8-bit bands give 2^-8 bucket selectivity, so candidates stay near-dup
# scale instead of quadratic — 16-bit sigs measured 57 s at sf0.1)

_SIMHASH_NEARDUP_ORACLE = """
WITH toks AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS t
              FROM documents),
th AS (SELECT doc_id, md5(t) AS h FROM toks),
votes AS (SELECT doc_id, bb.b,
            CASE WHEN (strpos('0123456789abcdef', substr(h, bb.b, 1)) - 1) % 2 = 1
                 THEN 1 ELSE -1 END AS v
          FROM th CROSS JOIN (SELECT unnest(generate_series(1, 32)) AS b) bb),
bits AS (SELECT doc_id, b, CASE WHEN sum(v) > 0 THEN '1' ELSE '0' END AS bit
         FROM votes GROUP BY doc_id, b),
sig AS (SELECT doc_id, string_agg(bit, '' ORDER BY b) AS s FROM bits GROUP BY doc_id),
bands AS (SELECT doc_id, s, bb.band, substr(s, bb.band * 8 + 1, 8) AS band_sig
          FROM sig CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS band) bb),
cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b, x.s AS sa, y.s AS sb
         FROM bands x JOIN bands y USING (band, band_sig)
         WHERE x.doc_id < y.doc_id),
h AS (SELECT a, b,
        list_sum(list_transform(generate_series(1, 32),
          i -> CASE WHEN substr(sa, i, 1) != substr(sb, i, 1)
               THEN 1 ELSE 0 END)) AS hamming
      FROM cand)
SELECT a, b, CAST(hamming AS INT) AS hamming FROM h WHERE hamming <= 2
"""


@register("simhash_neardup", oracle=_SIMHASH_NEARDUP_ORACLE)
def q_simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hamming near-dup pairs (≤ 2 differing bits of the 32-bit
    SimHash): band-bucket candidates, exact zip_with verify — the
    SimHash complement to MinHash LSH discovery."""
    from flink_ms_spark.operators.dedup import simhash_neardup

    return simhash_neardup(
        load_table(spark, sf_dir, "documents"),
        bits=32, n_bands=4, max_hamming=2,
    )


# --------------------------------------------------------------------------
# n-gram Jaccard verification on a fixed pair set

_JACCARD_ORACLE = """
WITH toks AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM documents),
sh AS (SELECT DISTINCT doc_id, unnest(t) AS s FROM toks),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
pairs AS (SELECT d1.doc_id AS a, d2.doc_id AS b
          FROM documents d1 JOIN documents d2 ON d2.doc_id = d1.doc_id + 250),
inter AS (SELECT p.a, p.b, count(*) AS ni
          FROM pairs p JOIN sh x ON x.doc_id = p.a JOIN sh y ON y.doc_id = p.b
            AND y.s = x.s
          GROUP BY p.a, p.b)
SELECT p.a, p.b,
  CAST(round(COALESCE(i.ni, 0) * 1.0 / (sa.n + sb.n - COALESCE(i.ni, 0)), 6)
       AS DOUBLE) AS jaccard
FROM pairs p
LEFT JOIN inter i ON i.a = p.a AND i.b = p.b
JOIN sizes sa ON sa.doc_id = p.a
JOIN sizes sb ON sb.doc_id = p.b
"""


@register("ngram_jaccard", oracle=_JACCARD_ORACLE)
def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pairs = docs.select(F.col("doc_id").alias("a")).join(
        docs.select(F.col("doc_id").alias("b")), F.col("b") == F.col("a") + 250
    )
    return ngram_jaccard(pairs, docs, shingle_n=1)


# --------------------------------------------------------------------------
# exact all-pairs similarity self-join (prefix-filtered, no LSH misses)

_ALLPAIRS_ORACLE = """
WITH toks AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM documents),
idx AS (SELECT doc_id, t, unnest(generate_series(1, greatest(len(t) - 4, 1))) AS i
        FROM toks),
sh AS (SELECT DISTINCT doc_id,
              concat_ws(' ', t[i], t[i+1], t[i+2], t[i+3], t[i+4]) AS s
       FROM idx),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter AS (SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS ni
          FROM sh x JOIN sh y ON x.s = y.s AND x.doc_id < y.doc_id
          GROUP BY 1, 2),
j AS (SELECT a, b,
             CAST(round(CAST(ni AS DOUBLE) / (sa.n + sb.n - ni), 6) AS DOUBLE)
               AS jaccard
      FROM inter JOIN sizes sa ON sa.doc_id = a JOIN sizes sb ON sb.doc_id = b)
SELECT a, b, jaccard FROM j WHERE jaccard >= 0.5 ORDER BY a, b
"""


@register("allpairs_jaccard", oracle=_ALLPAIRS_ORACLE)
def q_allpairs_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every 5-gram-Jaccard ≥ 0.5 pair in the corpus, discovered by
    prefix filtering (exact — the oracle enumerates via the shared-
    shingle join, which is complete because a zero-overlap pair has
    jaccard 0)."""
    from flink_ms_spark.operators.dedup import allpairs_jaccard

    return allpairs_jaccard(load_table(spark, sf_dir, "documents"), threshold=0.5)


# --------------------------------------------------------------------------
# brute-force cosine top-k

_COSINE_ORACLE = """
WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
norms AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e),
pairs AS (SELECT a.vec_id AS a, b.vec_id AS b,
            CAST(round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) AS DOUBLE)
              AS cos_sim
          FROM norms a CROSS JOIN norms b WHERE a.vec_id <> b.vec_id),
rk AS (SELECT a, b, cos_sim,
         CAST(row_number() OVER (PARTITION BY a ORDER BY cos_sim DESC, b) AS INT) AS rk
       FROM pairs)
SELECT a, b, cos_sim, rk FROM rk WHERE rk <= 5
"""


@register("cosine_topk", oracle=_COSINE_ORACLE)
def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cosine_topk(load_table(spark, sf_dir, "embeddings"), k=5)


# --------------------------------------------------------------------------
# IVF top-k (sign-bit coarse cells)

_IVF_ORACLE = """
WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
cells AS (SELECT vec_id, v,
            (CASE WHEN v[1] >= 0 THEN '1' ELSE '0' END ||
             CASE WHEN v[2] >= 0 THEN '1' ELSE '0' END ||
             CASE WHEN v[3] >= 0 THEN '1' ELSE '0' END) AS cell,
            sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
          FROM e),
pairs AS (SELECT a.vec_id AS a, b.vec_id AS b,
            CAST(round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) AS DOUBLE)
              AS cos_sim
          FROM cells a JOIN cells b USING (cell) WHERE a.vec_id <> b.vec_id),
rk AS (SELECT a, b, cos_sim,
         CAST(row_number() OVER (PARTITION BY a ORDER BY cos_sim DESC, b) AS INT) AS rk
       FROM pairs)
SELECT a, b, cos_sim, rk FROM rk WHERE rk <= 5
"""


@register("ivf_topk", oracle=_IVF_ORACLE)
def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ivf_topk(load_table(spark, sf_dir, "embeddings"), k=5, cell_dims=3)


# --------------------------------------------------------------------------
# embedding-cosine near-duplicate pairs (LSH-cell-bucketed)

_NEARDUP_ORACLE = """
WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
cells AS (SELECT vec_id, v,
            (CASE WHEN v[1] >= 0 THEN '1' ELSE '0' END ||
             CASE WHEN v[2] >= 0 THEN '1' ELSE '0' END ||
             CASE WHEN v[3] >= 0 THEN '1' ELSE '0' END) AS cell,
            sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
          FROM e),
pairs AS (SELECT a.vec_id AS a, b.vec_id AS b,
            CAST(round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) AS DOUBLE)
              AS cos_sim
          FROM cells a JOIN cells b USING (cell) WHERE a.vec_id < b.vec_id)
SELECT a, b, cos_sim FROM pairs WHERE cos_sim >= 0.4
"""


@register("embedding_neardup", oracle=_NEARDUP_ORACLE)
def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by embedding cosine ≥ 0.4 within LSH cells (the
    fixture embeddings are random — 0.4 is the 'near-dup' tail there)."""
    return embedding_neardup(load_table(spark, sf_dir, "embeddings"), threshold=0.4)


# --------------------------------------------------------------------------
# SemDeDup-style semantic dedup: min-id survivor over near-dup pairs

_SEMANTIC_DEDUP_ORACLE = """
WITH e AS (SELECT vec_id, label,
                  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
cells AS (SELECT vec_id, v,
            (CASE WHEN v[1] >= 0 THEN '1' ELSE '0' END ||
             CASE WHEN v[2] >= 0 THEN '1' ELSE '0' END ||
             CASE WHEN v[3] >= 0 THEN '1' ELSE '0' END) AS cell,
            sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
          FROM e),
pairs AS (SELECT a.vec_id AS a, b.vec_id AS b,
            CAST(round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) AS DOUBLE)
              AS cos_sim
          FROM cells a JOIN cells b USING (cell) WHERE a.vec_id < b.vec_id),
d AS (SELECT b AS vec_id, min(a) AS dup_of FROM pairs
      WHERE cos_sim >= 0.4 GROUP BY b)
SELECT e.vec_id, e.label, d.dup_of IS NULL AS kept, d.dup_of
FROM e LEFT JOIN d USING (vec_id)
ORDER BY e.vec_id
"""


@register("semantic_dedup", oracle=_SEMANTIC_DEDUP_ORACLE)
def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup over the embeddings table: within each sign-bit cell,
    drop vectors with a smaller-id cosine-0.4 neighbor; one row per
    vector with kept flag + surviving representative."""
    from flink_ms_spark.operators.similarity import semantic_dedup

    return semantic_dedup(
        load_table(spark, sf_dir, "embeddings"), threshold=0.4, keep_cols=("label",)
    )


# --------------------------------------------------------------------------
# multimodal plumbing: binary payload → header-scan metadata

_MEDIA_META_ORACLE = """
SELECT doc_id AS media_id, 'application/octet-stream' AS mime,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       CAST(NULL AS INT) AS width, CAST(NULL AS INT) AS height
FROM documents
"""


@register("media_meta", oracle=_MEDIA_META_ORACLE)
def q_media_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary media column → mapInPandas header scan. Fixture payloads
    are UTF-8 doc bytes (opaque to the operator), so dims are NULL and
    n_bytes is the UTF-8 byte length — which DuckDB can oracle-check.
    Real PNG/JPEG header parsing is covered by unit tests."""
    media = synthesize_media(load_table(spark, sf_dir, "documents"))
    return decode_image_meta(media)


def _ivf_kmeans_oracle() -> str:
    """Deferred oracle: trains the SAME fixed-seed codebook from the
    oracle fixture via pyarrow (bit-identical to the query side, which
    shares ``codebook_from_parquet``) and embeds the centroids as
    DuckDB literals. Probe assignment uses 6-dp-rounded squared
    distance with cell-id tie-break on BOTH engines (same rounded-
    ranking contract as every cosine oracle here)."""
    import os as _os

    from flink_ms_spark.operators.similarity import codebook_from_parquet

    sf_dir = _os.environ.get("SPARK_GRAFT_SF_ORACLE", "/root/testdata/sf0.01")
    centers = codebook_from_parquet(sf_dir, n_cells=8, seed=42)
    rows = ", ".join(
        "({}, [{}]::DOUBLE[])".format(i, ", ".join(repr(float(x)) for x in c))
        for i, c in enumerate(centers)
    )
    return f"""
WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
cent AS (SELECT * FROM (VALUES {rows}) t(cell, c)),
d AS (SELECT e.vec_id, e.v, cent.cell,
        round(list_sum(list_transform(generate_series(1, len(e.v)),
                i -> (e.v[i] - cent.c[i]) * (e.v[i] - cent.c[i]))), 6) AS d2
      FROM e CROSS JOIN cent),
prb AS (SELECT vec_id, v, cell,
          row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS probe_rk
        FROM d),
nrm AS (SELECT vec_id, cell, probe_rk, v,
          CASE WHEN sqrt(list_sum(list_transform(v, x -> x * x))) = 0
               THEN CAST(1 AS DOUBLE)
               ELSE sqrt(list_sum(list_transform(v, x -> x * x))) END AS nrm
        FROM prb WHERE probe_rk <= 2),
pairs AS (SELECT q.vec_id AS a, m.vec_id AS b,
            CAST(round(list_dot_product(q.v, m.v) / (q.nrm * m.nrm), 6) AS DOUBLE)
              AS cos_sim
          FROM nrm q JOIN nrm m USING (cell)
          WHERE m.probe_rk = 1 AND q.vec_id <> m.vec_id),
ded AS (SELECT a, b, max(cos_sim) AS cos_sim FROM pairs GROUP BY a, b),
rk AS (SELECT a, b, cos_sim,
         CAST(row_number() OVER (PARTITION BY a ORDER BY cos_sim DESC, b) AS INT)
           AS rk
       FROM ded)
SELECT a, b, cos_sim, rk FROM rk WHERE rk <= 5
"""


def _ann_index_health_oracle() -> str:
    """Deferred oracle for ann_index_health: same fixed-seed coarse
    codebook as the ivf_kmeans family (shared pyarrow trainer →
    bit-identical centroids embedded as literals), then assignment =
    min 6-dp-rounded squared distance with lowest-cell tie-break on
    both engines, per-cell count + rounded mean error."""
    import os as _os

    from flink_ms_spark.operators.similarity import codebook_from_parquet

    sf_dir = _os.environ.get("SPARK_GRAFT_SF_ORACLE", "/root/testdata/sf0.01")
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
a AS (SELECT vec_id, cell, d2,
        row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rk
      FROM d)
SELECT CAST(cell AS INT) AS cell, CAST(count(*) AS BIGINT) AS n,
       CAST(round(sum(d2) / count(*), 6) AS DOUBLE) AS mean_sq_err
FROM a WHERE rk = 1 GROUP BY cell
"""


@register("ann_index_health", oracle=_ann_index_health_oracle)
def q_ann_index_health(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cell IVF index health (round-12 ANN lifecycle monitor): the
    breakdown an operator reads when reindex's coarse error drifts —
    one hot cell with rising error = localized shift, uniform rise =
    retrain. Broadcast centroids, one vectorized narrow map, O(cells)
    shuffle rows (operators/similarity.py:ivf_cell_stats)."""
    from flink_ms_spark.operators.similarity import (
        codebook_from_parquet,
        ivf_cell_stats,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    cb = codebook_from_parquet(sf_dir, n_cells=8, seed=42)
    return ivf_cell_stats(emb, cb, round_dp=6)


def _pq_subspace_error_oracle() -> str:
    """Deferred oracle for pq_subspace_error: the shared PQ trainer's
    codebooks (16×32, bit-identical to the query side) as literals;
    per (vector, subspace) the min 6-dp-rounded squared distance over
    the 32 codes on the subspace's fixed embedding slice, then
    per-subspace count + rounded mean."""
    import os as _os

    from flink_ms_spark.operators.similarity import pq_codebooks_from_parquet

    sf_dir = _os.environ.get("SPARK_GRAFT_SF_ORACLE", "/root/testdata/sf0.01")
    cb = pq_codebooks_from_parquet(sf_dir, n_subspaces=16, n_codes=32, seed=42)
    n_sub, n_codes, sub = cb.shape
    rows = ", ".join(
        "({}, [{}]::DOUBLE[])".format(s, ", ".join(repr(float(x)) for x in cb[s, c]))
        for s in range(n_sub)
        for c in range(n_codes)
    )
    return f"""
WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
cb AS (SELECT * FROM (VALUES {rows}) t(subspace, c)),
d AS (SELECT e.vec_id, cb.subspace,
        min(round(list_sum(list_transform(generate_series(1, {sub}),
                i -> (e.v[cb.subspace * {sub} + i] - cb.c[i])
                   * (e.v[cb.subspace * {sub} + i] - cb.c[i]))), 6)) AS min_d2
      FROM e CROSS JOIN cb GROUP BY e.vec_id, cb.subspace)
SELECT CAST(subspace AS INT) AS subspace, CAST(count(*) AS BIGINT) AS n,
       CAST(round(sum(min_d2) / count(*), 6) AS DOUBLE) AS mean_sq_err
FROM d GROUP BY subspace
"""


@register("pq_subspace_error", oracle=_pq_subspace_error_oracle)
def q_pq_subspace_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-subspace PQ quantization error (round-12 ANN lifecycle
    monitor): localizes drift to embedding-dimension slices — a single
    upstream encoder/modality change lights up its subspaces while the
    rest hold baseline, separating 'retrain everything' from 'one
    feature family moved'. Same scale shape as pq_quantization_error
    (operators/similarity.py:pq_subspace_error)."""
    from flink_ms_spark.operators.similarity import (
        pq_codebooks_from_parquet,
        pq_subspace_error,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    cb = pq_codebooks_from_parquet(sf_dir, n_subspaces=16, n_codes=32, seed=42)
    return pq_subspace_error(emb, cb, round_dp=6)


@register("ivf_kmeans_topk", oracle=_ivf_kmeans_oracle)
def q_ivf_kmeans_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN scale path with a TRAINED coarse quantizer (vs ivf_topk's
    deterministic sign-bit cells): k-means codebook, n_probe=2.
    Recall vs brute force is asserted in tests/test_northstar.py; the
    driver oracle re-derives the fixed-seed centroids and replays
    assignment + within-cell ranking in DuckDB."""
    from flink_ms_spark.operators.similarity import codebook_from_parquet, ivf_kmeans_topk

    emb = load_table(spark, sf_dir, "embeddings")
    codebook = codebook_from_parquet(sf_dir, n_cells=8, seed=42)
    return ivf_kmeans_topk(emb, codebook, k=5, n_probe=2)


def _ivf_members_lookup_oracle() -> str:
    """Deferred oracle for ivf_members_lookup: same fixed-seed coarse
    centroids as the ivf_kmeans family (shared pyarrow trainer,
    embedded as literals), then an independent DuckDB replay of the
    members serve — every corpus vector assigned its home cell
    (probe_rk = 1 under 6-dp-rounded d2, lowest-cell tie-break), each
    QUERY (vec_id % 100 = 0) joined only to members of ITS OWN two
    probed cells (the per-query mask contract), rounded cosine rank."""
    import os as _os

    from flink_ms_spark.operators.similarity import codebook_from_parquet

    sf_dir = _os.environ.get("SPARK_GRAFT_SF_ORACLE", "/root/testdata/sf0.01")
    centers = codebook_from_parquet(sf_dir, n_cells=8, seed=42)
    rows = ", ".join(
        "({}, [{}]::DOUBLE[])".format(i, ", ".join(repr(float(x)) for x in c))
        for i, c in enumerate(centers)
    )
    return f"""
WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
cent AS (SELECT * FROM (VALUES {rows}) t(cell, c)),
d AS (SELECT e.vec_id, e.v, cent.cell,
        round(list_sum(list_transform(generate_series(1, len(e.v)),
                i -> (e.v[i] - cent.c[i]) * (e.v[i] - cent.c[i]))), 6) AS d2
      FROM e CROSS JOIN cent),
prb AS (SELECT vec_id, v, cell,
          row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS probe_rk
        FROM d),
nrm AS (SELECT vec_id, cell, probe_rk, v,
          CASE WHEN sqrt(list_sum(list_transform(v, x -> x * x))) = 0
               THEN CAST(1 AS DOUBLE)
               ELSE sqrt(list_sum(list_transform(v, x -> x * x))) END AS nrm
        FROM prb WHERE probe_rk <= 2),
pairs AS (SELECT q.vec_id AS a, m.vec_id AS b,
            CAST(round(list_dot_product(q.v, m.v) / (q.nrm * m.nrm), 6) AS DOUBLE)
              AS cos_sim
          FROM nrm q JOIN nrm m USING (cell)
          WHERE q.vec_id % 100 = 0 AND m.probe_rk = 1
            AND q.vec_id <> m.vec_id),
rk AS (SELECT a, b, cos_sim,
         CAST(row_number() OVER (PARTITION BY a ORDER BY cos_sim DESC, b) AS INT)
           AS rk
       FROM pairs)
SELECT a, b, cos_sim, rk FROM rk WHERE rk <= 5
"""


@register("ivf_members_lookup", oracle=_ivf_members_lookup_oracle)
def q_ivf_members_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-lookup serve over the PERSISTED IVF members index
    (operators/similarity.py:ivf_members_topk): the corpus lands
    partitioned by cell at build time, so each lookup reads only its
    probed cells' partitions — O(n_probe) partition IO, the 100 TB
    point-lookup shape — and each query in the batch is ranked
    strictly against its OWN n_probe cells (reproducible vs a
    single-query run). Queries are the deterministic vec_id % 100
    slice of the corpus; centroids come from the shared pyarrow
    trainer so the DuckDB oracle replays assignment, per-query probe,
    and rounded-cosine rank bit-identically."""
    from flink_ms_spark.operators.similarity import (
        build_index,
        codebook_from_parquet,
        ivf_members_topk,
    )

    # v4: the manifest is written last (v3: rebalance-sized files; v2:
    # members stamped under gen=G)
    idx = fixture_index(spark, sf_dir, "ivfm", "v4", lambda emb, path: build_index(
        emb, path, "ivf", persist_members=True,
        centroids=codebook_from_parquet(sf_dir, n_cells=8, seed=42)))
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where((F.col("vec_id") % 100) == 0)
    return ivf_members_topk(spark, idx, queries, k=5, n_probe=2)


_MEDIA_FEATURES_ORACLE = """
SELECT doc_id AS media_id,
       CAST(octet_length(encode(text)) AS INT) AS n_bytes,
       CAST(8 AS INT) AS dim,
       CASE WHEN octet_length(encode(text)) > 0
            THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END AS feat_sum
FROM documents
"""


@register("media_features", oracle=_MEDIA_FEATURES_ORACLE)
def q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode → feature-extract over Arrow batches with the
    deterministic fake decoder (codec libs absent by design). The
    oracle checks the invariants the fake decoder guarantees: feature
    dim, payload byte length, and the normalized histogram summing to
    1 (0 for empty payloads) — so a broken Arrow path, batch schema,
    or decoder wiring all surface as driver red."""
    media = synthesize_media(load_table(spark, sf_dir, "documents"))
    feats = extract_features(media, decoder=fake_image_decoder)
    return feats.join(
        media.select("media_id", F.length("payload").alias("n_bytes")), "media_id"
    ).select(
        "media_id",
        "n_bytes",
        F.size("features").alias("dim"),
        F.round(F.aggregate("features", F.lit(0.0), lambda a, x: a + x), 6).alias(
            "feat_sum"
        ),
    )


# --------------------------------------------------------------------------
# token statistics (whitespace + BPE-ish subword counts)

# --------------------------------------------------------------------------
# PII scrub (emails/URLs/phones/ID runs — RE2-compatible patterns so
# the oracle applies the identical regexes)

_PII_ORACLE = r"""
SELECT doc_id,
  regexp_replace(regexp_replace(regexp_replace(regexp_replace(text,
    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
    'https?://[^\s]+', '<URL>', 'g'),
    '\+?\(?[0-9]{1,4}\)?[()\-\. ][0-9()\-\. ]{4,}[0-9]', '<PHONE>', 'g'),
    '[0-9]{9,}', '<ID>', 'g') AS scrubbed
FROM documents
"""


@register("pii_scrub", oracle=_PII_ORACLE)
def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", scrub_pii("text").alias("scrubbed"))


# PII census — per-type redaction totals, counted in the SAME ordered
# chain the scrubber applies (email hits counted on raw text, URL hits
# on the email-scrubbed text, …) so census numbers equal what the
# scrub actually redacted. One narrow map + one corpus aggregate.

_PII_CENSUS_ORACLE = r"""
WITH c AS (SELECT
  len(regexp_extract_all(text,
    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_email,
  regexp_replace(text,
    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS t1
FROM documents),
c2 AS (SELECT n_email,
  len(regexp_extract_all(t1, 'https?://[^\s]+')) AS n_url,
  regexp_replace(t1, 'https?://[^\s]+', '<URL>', 'g') AS t2
FROM c),
c3 AS (SELECT n_email, n_url,
  len(regexp_extract_all(t2,
    '\+?\(?[0-9]{1,4}\)?[()\-\. ][0-9()\-\. ]{4,}[0-9]')) AS n_phone,
  regexp_replace(t2,
    '\+?\(?[0-9]{1,4}\)?[()\-\. ][0-9()\-\. ]{4,}[0-9]', '<PHONE>', 'g') AS t3
FROM c2),
c4 AS (SELECT n_email, n_url, n_phone,
  len(regexp_extract_all(t3, '[0-9]{9,}')) AS n_id
FROM c3)
SELECT CAST(sum(n_email) AS BIGINT) AS n_emails,
       CAST(sum(n_url) AS BIGINT) AS n_urls,
       CAST(sum(n_phone) AS BIGINT) AS n_phones,
       CAST(sum(n_id) AS BIGINT) AS n_ids,
       CAST(sum(CASE WHEN n_email + n_url + n_phone + n_id > 0
                THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_pii
FROM c4
"""


@register("pii_census", oracle=_PII_CENSUS_ORACLE)
def q_pii_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus PII census: total emails/URLs/phones/long-ID runs the
    scrubber redacts, plus how many docs carried any — the redaction
    ledger a privacy review asks for."""
    from flink_ms_spark.operators.text import PII_PATTERNS

    docs = load_table(spark, sf_dir, "documents")
    t = F.col("text")
    counts = []
    for i, (pat, _repl) in enumerate(PII_PATTERNS):
        counts.append(F.regexp_count(t, F.lit(pat)).alias(f"_c{i}"))
        t = F.regexp_replace(t, pat, _repl)
    per = docs.select(*counts)
    return per.agg(
        F.sum("_c0").cast("long").alias("n_emails"),
        F.sum("_c1").cast("long").alias("n_urls"),
        F.sum("_c2").cast("long").alias("n_phones"),
        F.sum("_c3").cast("long").alias("n_ids"),
        F.sum(
            (
                (F.col("_c0") + F.col("_c1") + F.col("_c2") + F.col("_c3")) > 0
            ).cast("int")
        ).cast("long").alias("docs_with_pii"),
    )


_TOKEN_STATS_ORACLE = """
SELECT doc_id,
  CAST(len(string_split_regex(trim(text), '\\s+')) AS INT) AS n_tokens,
  CAST(len(regexp_extract_all(text, '\\w+|[^\\w\\s]')) AS INT) AS n_subwords,
  CAST(length(regexp_replace(text, '\\s+', '', 'g')) AS INT) AS n_chars
FROM documents
"""


@register("token_stats", oracle=_TOKEN_STATS_ORACLE)
def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        token_count("text").alias("n_tokens"),
        bpe_ish_token_count("text").alias("n_subwords"),
        char_count_no_spaces("text").alias("n_chars"),
    )


# --------------------------------------------------------------------------
# rolling-hash fingerprints (0-mod-p sampled char k-grams)

_ROLLING_FP_ORACLE = r"""
WITH n AS (SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t
           FROM documents),
g AS (SELECT doc_id, list_transform(
        generate_series(1, greatest(length(t) - 7, 1)),
        i -> substr(t, i, 8)) AS grams
      FROM n)
SELECT doc_id,
  coalesce(array_to_string(list_transform(
    list_sort(list_distinct(list_filter(
      list_transform(grams,
        s -> CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT) % 2147483647),
      h -> h % 16 = 0))),
    h -> CAST(h AS VARCHAR)), ';'), '') AS fps
FROM g
"""


@register("rolling_fingerprints", oracle=_ROLLING_FP_ORACLE)
def q_rolling_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fps is joined to a ';'-string (sorted numerically first): ARRAY
    # output crashes the driver's pandas canonicalizer (unhashable
    # list in sort_values); the operator itself still returns arrays.
    docs = load_table(spark, sf_dir, "documents")
    fps = rolling_fingerprints("text", k=8, mod=16)
    return docs.select(
        "doc_id",
        F.array_join(F.transform(fps, lambda h: h.cast("string")), ";").alias(
            "fps"
        ),
    )


# REAL demux invariants in closed form — structure AND content, no
# embedded VALUES: a T-frame stream (T = 3 + doc_id % 4) sampled at
# n=4 emits the DISTINCT original indices (k·T)//4; every re-encoded
# 8×8 frame is exactly len("P6\n8 8\n255\n") + 8·8·3 = 203 bytes; and
# because frame f's 192 pixel bytes are md5("{doc}:{f}") repeated 12×,
# the DECODED gray mean equals digest_byte_sum/16 — which DuckDB
# recomputes itself from md5() hex (exact: /16 is a power of two).
_MEDIA_FRAMES_ORACLE = """
WITH d AS (SELECT doc_id, 3 + doc_id % 4 AS T FROM documents),
k AS (SELECT unnest(range(0, 4)) AS k),
s AS (SELECT DISTINCT doc_id, (k * T) // 4 AS frame_idx
      FROM d CROSS JOIN k),
g AS (SELECT doc_id, frame_idx,
        list_sum(list_transform(range(16), i ->
          CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' ||
                                   CAST(frame_idx AS VARCHAR)),
                              1 + 2*i, 2)) AS BIGINT))) AS ds
      FROM s)
SELECT doc_id AS media_id,
       CAST(frame_idx AS INT) AS frame_idx,
       CAST(203 AS INT) AS n_bytes,
       CAST(round(ds / 16.0, 6) AS DOUBLE) AS mean_gray
FROM g
"""


@register("media_frames", oracle=_MEDIA_FRAMES_ORACLE)
def q_media_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling over REAL concatenated-P6 video streams (3-6
    frames per doc): demux, select 4 evenly spaced frames, DECODE each
    and report original index, standalone-P6 byte count, and gray mean
    (payloads never leave the executors). The oracle replays the
    selection math, the re-encode size, AND the decoded gray content
    in closed-form SQL — DuckDB independently recomputes the md5 pixel
    generator, so a broken demux, selection, re-encode, or decode goes
    driver-red without any embedded expected rows."""
    from flink_ms_spark.operators.multimodal import (
        frame_pixel_stats,
        sample_frames,
        synthesize_video_media,
    )

    media = synthesize_video_media(load_table(spark, sf_dir, "documents"))
    return frame_pixel_stats(sample_frames(media, n_frames=4))


# --------------------------------------------------------------------------
# corpus curation capstone: dedup keepers → quality gate → PII scrub →
# per-language token accounting (the composed training-data pipeline)

_CURATION_ORACLE = rf"""
WITH keepers AS (
  SELECT min(doc_id) AS doc_id FROM documents
  GROUP BY md5({_DUCK_NORM})),
kept AS (
  SELECT d.* FROM documents d JOIN keepers k USING (doc_id)),
quality AS (
  SELECT * FROM kept
  WHERE len(string_split_regex(trim(text), '\s+')) >= 20),
scrubbed AS (
  SELECT lang,
    regexp_replace(regexp_replace(regexp_replace(regexp_replace(text,
      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{{2,}}', '<EMAIL>', 'g'),
      'https?://[^\s]+', '<URL>', 'g'),
      '\+?\(?[0-9]{{1,4}}\)?[()\-\. ][0-9()\-\. ]{{4,}}[0-9]', '<PHONE>', 'g'),
      '[0-9]{{9,}}', '<ID>', 'g') AS s
  FROM quality)
SELECT lang, count(*) AS n_docs,
       CAST(sum(len(string_split_regex(trim(s), '\s+'))) AS BIGINT) AS total_tokens
FROM scrubbed GROUP BY lang
"""


@register("corpus_curation", oracle=_CURATION_ORACLE)
def q_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed pipeline in ONE plan: exact-dedup survivors →
    length gate → PII scrub → per-language token totals. One shuffle
    for the dedup agg, one broadcast-able semi join, one final agg —
    the whole curation pass is two shuffles regardless of corpus size."""
    docs = load_table(spark, sf_dir, "documents")
    keepers = exact_dedup_groups(docs).select(F.col("keeper_id").alias("doc_id"))
    kept = docs.join(keepers, "doc_id", "left_semi")
    quality = kept.where(token_count("text") >= 20)
    scrubbed = quality.select("lang", scrub_pii("text").alias("s"))
    return scrubbed.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(token_count("s")).cast("bigint").alias("total_tokens"),
    )


# --------------------------------------------------------------------------
# ANN quality audit: recall@5 of the IVF index against the brute-force
# truth — the acceptance gate a pipeline runs before trusting an
# approximate index for semantic dedup/decontamination at scale.
# Micro recall is an exact integer ratio (hits / (k * queries)), so
# the cross-engine hash never rides float-mean ordering. Scale: the
# brute tier is the audit's cost and runs on a SAMPLE in production
# (the operator takes any input DF); the comparison itself is one
# (a, b)-keyed join of two k-row-per-query lists.

_ANN_RECALL_ORACLE = """
WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
norms AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e),
bpairs AS (SELECT a.vec_id AS a, b.vec_id AS b,
             CAST(round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) AS DOUBLE)
               AS cos_sim
           FROM norms a CROSS JOIN norms b WHERE a.vec_id <> b.vec_id),
brute AS (SELECT a, b FROM (
            SELECT a, b, row_number() OVER (PARTITION BY a
                   ORDER BY cos_sim DESC, b) AS rk FROM bpairs) WHERE rk <= 5),
cells AS (SELECT vec_id, v, nrm,
            (CASE WHEN v[1] >= 0 THEN '1' ELSE '0' END ||
             CASE WHEN v[2] >= 0 THEN '1' ELSE '0' END ||
             CASE WHEN v[3] >= 0 THEN '1' ELSE '0' END) AS cell
          FROM norms),
ipairs AS (SELECT a.vec_id AS a, b.vec_id AS b,
             CAST(round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) AS DOUBLE)
               AS cos_sim
           FROM cells a JOIN cells b USING (cell) WHERE a.vec_id <> b.vec_id),
ivf AS (SELECT a, b FROM (
          SELECT a, b, row_number() OVER (PARTITION BY a
                 ORDER BY cos_sim DESC, b) AS rk FROM ipairs) WHERE rk <= 5),
hits AS (SELECT brute.a, count(ivf.b) AS n_hits
         FROM brute LEFT JOIN ivf USING (a, b) GROUP BY brute.a)
SELECT CAST(5 AS INT) AS k,
       CAST(count(*) AS BIGINT) AS n_queries,
       CAST(sum(n_hits) AS BIGINT) AS n_hits,
       CAST(round(sum(n_hits) * 1.0 / (5 * count(*)), 6) AS DOUBLE) AS recall_at_k
FROM hits
"""


@register("ann_recall", oracle=_ANN_RECALL_ORACLE)
def q_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Micro-averaged recall@5 of ivf_topk against the brute-force
    cosine truth — one row, exact integer ratio."""
    brute = q_cosine_topk(spark, sf_dir).select("a", "b")
    approx = (
        q_ivf_topk(spark, sf_dir)
        .select("a", "b")
        .withColumn("_hit", F.lit(1))
    )
    hits = (
        brute.join(approx, ["a", "b"], "left")
        .groupBy("a")
        .agg(F.sum(F.coalesce(F.col("_hit"), F.lit(0))).alias("n_hits"))
    )
    return hits.agg(
        F.lit(5).cast("int").alias("k"),
        F.count("*").cast("long").alias("n_queries"),
        F.sum("n_hits").cast("long").alias("n_hits"),
        F.round(F.sum("n_hits") / (F.lit(5) * F.count("*")), 6).alias("recall_at_k"),
    )


# --------------------------------------------------------------------------
# Hard-negative mining — the contrastive-training companion of the ANN
# family: for every anchor vector, the highest-ranked SAME-neighborhood
# neighbor with a DIFFERENT label (top-5 cosine). These are the pairs
# a metric-learning run trains against; anchors whose whole
# neighborhood shares their label emit nothing (no hard negative that
# close). Scale: rides cosine_topk's candidates-only shuffle; the
# label attach is two broadcast-size joins at fixture scale and plain
# keyed joins at corpus scale; per-anchor argmin is a keyed window.

_HARD_NEG_ORACLE = """
WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
norms AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e),
pairs AS (SELECT a.vec_id AS a, b.vec_id AS b,
            CAST(round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) AS DOUBLE)
              AS cos_sim
          FROM norms a CROSS JOIN norms b WHERE a.vec_id <> b.vec_id),
rk AS (SELECT a, b, cos_sim,
         CAST(row_number() OVER (PARTITION BY a ORDER BY cos_sim DESC, b) AS INT) AS rk
       FROM pairs QUALIFY rk <= 5),
lab AS (SELECT vec_id, label FROM embeddings),
cand AS (SELECT rk.a, la.label AS label_a, rk.b, lb.label AS label_b,
                rk.cos_sim, rk.rk
         FROM rk JOIN lab la ON rk.a = la.vec_id
                 JOIN lab lb ON rk.b = lb.vec_id
         WHERE la.label <> lb.label)
SELECT a, CAST(label_a AS INT) AS label_a, b, CAST(label_b AS INT) AS label_b,
       cos_sim, rk
FROM cand QUALIFY row_number() OVER (PARTITION BY a ORDER BY rk) = 1
"""


@register("hard_negatives", oracle=_HARD_NEG_ORACLE)
def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per anchor: the closest different-label neighbor inside its
    top-5 cosine neighborhood — the mined pair set for contrastive /
    metric training."""
    from pyspark.sql import Window

    emb = load_table(spark, sf_dir, "embeddings")
    topk = cosine_topk(emb, k=5)
    lab = emb.select("vec_id", "label")
    cand = (
        topk.join(
            lab.select(F.col("vec_id").alias("a"), F.col("label").alias("label_a")),
            "a",
        )
        .join(
            lab.select(F.col("vec_id").alias("b"), F.col("label").alias("label_b")),
            "b",
        )
        .where(F.col("label_a") != F.col("label_b"))
    )
    w = Window.partitionBy("a").orderBy(F.col("rk").asc())
    return (
        cand.withColumn("_r", F.row_number().over(w))
        .where(F.col("_r") == 1)
        .select("a", "label_a", "b", "label_b", "cos_sim", "rk")
    )


# --------------------------------------------------------------------------
# k-anonymity audit (round 10) — the METADATA twin of `pii_census`
# (which scans content): how re-identifiable is a document from its
# quasi-identifier combination (source, lang, size bucket) alone?
# Sweeney's k-anonymity: a row is at risk if its quasi-identifier
# group holds fewer than k rows. Report for k in {2, 5, 10}: groups
# below k, documents at risk, and the risk share — the release-gate
# numbers a privacy review asks for before publishing corpus metadata.
#
# Scale: ONE partial-aggregating shuffle builds the group-cardinality
# table (bounded by |sources|x|langs|x|size buckets|, never by corpus
# bytes); the k sweep and the total attach are cross joins against a
# 3-row spine and a 1-row aggregate. Dialect split is div vs // and
# explode vs unnest only.


def _k_anon_sql(div: str, kspine: str) -> str:
    return f"""
WITH q AS (SELECT source, lang, n_chars {div} 100 AS size_bucket
           FROM documents),
g AS (SELECT source, lang, size_bucket, count(*) AS n
      FROM q GROUP BY source, lang, size_bucket),
t AS (SELECT count(*) AS total FROM documents),
ks AS (SELECT {kspine} AS k)
SELECT k,
       CAST(sum(CASE WHEN n < k THEN 1 ELSE 0 END) AS BIGINT)
         AS groups_below,
       CAST(sum(CASE WHEN n < k THEN n ELSE 0 END) AS BIGINT)
         AS docs_at_risk,
       round(CAST(sum(CASE WHEN n < k THEN n ELSE 0 END) AS DOUBLE)
             * 100 / max(total), 6) AS risk_pct
FROM g CROSS JOIN ks CROSS JOIN t
GROUP BY k ORDER BY k
"""


register_sql(
    "k_anonymity",
    spark_sql=_k_anon_sql("div", "explode(array(2, 5, 10))"),
    duck_sql=_k_anon_sql("//", "unnest([2, 5, 10])"),
)
