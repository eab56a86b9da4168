"""Training-data corpus ops: dedup families, text quality/analysis, decontamination, sampling; plus rows-only and variant-residue checks."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from jsonschema_spark.plans import SparkPlanCompiler

from jsonschema_spark.queries.base import (
    _t,
    _violations,
)
from jsonschema_spark.queries.validation import (
    _events_as_spans,
)

# --------------------------------------------------------------------------
# Training-data ops: dedup / simsearch / text analysis
# --------------------------------------------------------------------------


def dedup_exact_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jsonschema_spark.operators.dedup import exact_duplicate_groups

    e = _t(spark, sf_dir, "events").select(
        F.col("event_id"),
        F.concat(F.col("user_id").cast("string"), F.lit(":"), F.col("event_type")).alias("key"),
    )
    return exact_duplicate_groups(e, "event_id", "key")


ORACLE_DEDUP_EXACT = """
SELECT md5(user_id || ':' || event_type) AS text_hash, count(*) AS cnt, min(event_id) AS keep_id
FROM events GROUP BY 1 HAVING count(*) > 1
"""


def dedup_exact_text_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup with deterministic duplicate injection (1 in 25 docs get
    one of three boilerplate texts) so the oracle asserts non-empty duplicate
    groups — the synthetic corpus has no natural exact duplicates and a
    0-row oracle is vacuous."""
    from jsonschema_spark.operators.dedup import exact_duplicate_groups

    d = _t(spark, sf_dir, "documents").withColumn(
        "text",
        F.when(
            F.col("doc_id") % 25 == 0,
            F.concat(F.lit("boilerplate text "), (F.col("doc_id") % 3).cast("string")),
        ).otherwise(F.col("text")),
    )
    return exact_duplicate_groups(d, "doc_id", "text")


ORACLE_DEDUP_TEXT = """
WITH d AS (
  SELECT doc_id,
         CASE WHEN doc_id % 25 = 0 THEN 'boilerplate text ' || (doc_id % 3)
              ELSE text END AS text
  FROM documents)
SELECT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS text_hash,
       count(*) AS cnt, min(doc_id) AS keep_id
FROM d GROUP BY 1 HAVING count(*) > 1
"""


def ngram_jaccard_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-set (1-gram) Jaccard within (lang, n_chars) blocks."""
    from jsonschema_spark.operators.dedup import normalize_text

    d = _t(spark, sf_dir, "documents", hot=True).select(
        F.col("doc_id").alias("id"),
        F.array_distinct(F.split(normalize_text(F.col("text")), " ")).alias("sh"),
        F.concat(F.col("lang"), F.lit(":"), F.col("n_chars").cast("string")).alias("block"),
    )
    a = d.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"), "block")
    b = d.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"), "block")
    pairs = a.join(b, "block").filter(F.col("id_a") < F.col("id_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    return pairs.select(
        "id_a", "id_b", F.round(inter.cast("double") / union, 9).alias("jaccard")
    ).filter(F.col("jaccard") >= 0.5)


ORACLE_NGRAM_JACCARD = """
WITH d AS (
  SELECT doc_id AS id,
         list_distinct(string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS sh,
         lang || ':' || n_chars AS block
  FROM documents)
SELECT a.id AS id_a, b.id AS id_b,
       round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
             / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 9) AS jaccard
FROM d a JOIN d b ON a.block = b.block AND a.id < b.id
WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
      / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.5
"""


def minhash_signatures_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jsonschema_spark.operators.dedup import minhash_signature

    sig = minhash_signature(_t(spark, sf_dir, "documents", hot=True), "doc_id", "text", k=4, shingle_n=3)
    return sig.select(
        "id",
        F.col("sig")[0].alias("sig_0"),
        F.col("sig")[1].alias("sig_1"),
        F.col("sig")[2].alias("sig_2"),
        F.col("sig")[3].alias("sig_3"),
    )


ORACLE_MINHASH = """
WITH toks AS (
  SELECT doc_id AS id,
         string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS t
  FROM documents),
sh AS (
  SELECT id,
         CASE WHEN len(t) >= 3
              THEN list_distinct([array_to_string(t[i:i+2], ' ') FOR i IN range(1, len(t) - 1)])
              ELSE [array_to_string(t, ' ')] END AS s
  FROM toks)
SELECT id,
       list_min([md5('0:' || x) FOR x IN s]) AS sig_0,
       list_min([md5('1:' || x) FOR x IN s]) AS sig_1,
       list_min([md5('2:' || x) FOR x IN s]) AS sig_2,
       list_min([md5('3:' || x) FOR x IN s]) AS sig_3
FROM sh
"""


def text_quality_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jsonschema_spark.operators.text import quality_features

    q = quality_features(_t(spark, sf_dir, "documents", hot=True), "doc_id", "text")
    return q.select(
        "id",
        "n_chars",
        "n_tokens",
        F.round("punct_ratio", 9).alias("punct_ratio"),
        F.round("mean_word_len", 9).alias("mean_word_len"),
        F.round("stopword_ratio", 9).alias("stopword_ratio"),
    )


ORACLE_TEXT_QUALITY = """
WITH t AS (
  SELECT doc_id AS id, length(text) AS n_chars,
         string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS toks,
         length(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS clean_len
  FROM documents)
SELECT id, n_chars, len(toks) AS n_tokens,
       round(CAST(n_chars - clean_len AS DOUBLE) / greatest(n_chars, 1), 9) AS punct_ratio,
       round(CAST(list_sum([length(x) FOR x IN toks]) AS DOUBLE) / len(toks), 9) AS mean_word_len,
       round(CAST(len(list_filter(toks, x -> x IN ('the','and','of','to','in','is','that','it','for','with'))) AS DOUBLE)
             / greatest(len(toks), 1), 9) AS stopword_ratio
FROM t
"""


def lang_id_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jsonschema_spark.operators.text import lang_id

    return lang_id(_t(spark, sf_dir, "documents"), "doc_id", "text")


def _oracle_lang_id() -> str:
    from jsonschema_spark.operators.text import STOPWORDS

    score = {
        lang: f"len(list_filter(toks, x -> x IN ({', '.join(repr(w) for w in words)})))"
        for lang, words in STOPWORDS.items()
    }
    best = f"greatest({', '.join(score.values())})"
    pred = "'und'"
    for lang in reversed(list(STOPWORDS)):
        pred = f"CASE WHEN {score[lang]} = best AND best > 0 THEN '{lang}' ELSE {pred} END"
    return f"""
WITH t AS (
  SELECT doc_id AS id,
         string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS toks
  FROM documents),
s AS (SELECT id, toks, {best} AS best FROM t)
SELECT id, {pred} AS pred_lang FROM s
"""


def token_count_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jsonschema_spark.operators.text import token_count

    d = _t(spark, sf_dir, "documents")
    return (
        d.select("lang", token_count(F.col("text")).alias("tc"))
        .groupBy("lang")
        .agg(F.sum("tc").alias("total_tokens"), F.count(F.lit(1)).alias("n_docs"))
    )


def bpe_token_stats_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language BPE-ish token accounting: GPT-2 pretokenizer segment
    counts (the model-free lower bound on true BPE tokens) summed per lang,
    next to the whitespace count — the per-source token budget readout a
    data-mixing plan is written against."""
    from jsonschema_spark.operators.text import bpe_token_count, token_count

    d = _t(spark, sf_dir, "documents")
    return (
        d.select(
            "lang",
            bpe_token_count(F.col("text")).alias("bc"),
            token_count(F.col("text")).alias("wc"),
        )
        .groupBy("lang")
        .agg(
            F.sum("bc").alias("total_pretokens"),
            F.sum("wc").alias("total_ws_tokens"),
            F.count(F.lit(1)).alias("n_docs"),
        )
    )


# the pretokenizer regex inlined with SQL quote-doubling ('' for ')
ORACLE_BPE_TOKEN_STATS = """
SELECT lang,
       CAST(sum(len(regexp_extract_all(text, '''(?:s|t|re|ve|m|ll|d)| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+'))) AS BIGINT) AS total_pretokens,
       CAST(sum(len(string_split(trim(text), ' '))) AS BIGINT) AS total_ws_tokens,
       count(*) AS n_docs
FROM documents GROUP BY 1
"""


ORACLE_TOKEN_COUNT = """
SELECT lang, CAST(sum(len(string_split(trim(text), ' '))) AS BIGINT) AS total_tokens, count(*) AS n_docs
FROM documents GROUP BY 1
"""


def fingerprint_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jsonschema_spark.operators.text import fingerprint

    return fingerprint(_t(spark, sf_dir, "documents"), "doc_id", "text", n=1, keep=4)


ORACLE_FINGERPRINT = """
WITH t AS (
  SELECT doc_id AS id,
         list_distinct(string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS sh
  FROM documents)
SELECT id, array_to_string(list_sort([md5(x) FOR x IN sh])[1:4], '') AS fingerprint FROM t
"""


def simsearch_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jsonschema_spark.operators.simsearch import brute_force_topk

    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = brute_force_topk(emb, queries, k=5)
    return out.select("query_id", "neighbor_id", "rank", F.round("cosine", 6).alias("cosine"))


ORACLE_SIMSEARCH = """
WITH corpus AS (SELECT vec_id, [CAST(x AS DOUBLE) FOR x IN embedding] AS emb FROM embeddings),
q AS (SELECT vec_id AS query_id, emb AS qv FROM corpus WHERE vec_id < 3),
scored AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
         list_dot_product(c.emb, q.qv) / (sqrt(list_dot_product(c.emb, c.emb)) * sqrt(list_dot_product(q.qv, q.qv))) AS cos
  FROM corpus c, q),
ranked AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rank,
         cos
  FROM scored)
SELECT query_id, neighbor_id, rank, round(cos, 6) AS cosine FROM ranked WHERE rank <= 5
"""


# ----- rows-only checks (non-SQL-expressible or engine-specific hashing) ----


def lsh_candidate_pairs_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jsonschema_spark.operators.dedup import lsh_candidate_pairs, minhash_signature

    sig = minhash_signature(_t(spark, sf_dir, "documents"), "doc_id", "text", k=8, shingle_n=3)
    return lsh_candidate_pairs(sig, bands=4, rows_per_band=2)


def containment_pairs_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment over LSH candidate pairs: |A∩B|/|A| per
    direction on distinct 3-gram shingles — the subset/quote-heavy near-dup
    signal Jaccard misses (a short doc inside a long one scores Jaccard
    ≈ |A|/|B| but containment ≈ 1)."""
    from jsonschema_spark.operators.dedup import (
        containment_pairs,
        lsh_candidate_pairs,
        minhash_signature,
    )

    docs = _t(spark, sf_dir, "documents")
    sig = minhash_signature(docs, "doc_id", "text", k=8, shingle_n=3)
    cand = lsh_candidate_pairs(sig, bands=4, rows_per_band=2)
    return containment_pairs(docs, cand, "doc_id", "text", min_containment=0.5)


def _oracle_containment(threshold: float = 0.5) -> str:
    """Containment verifier over the SAME md5 MinHash-LSH candidate pipeline
    the Spark query runs; shingle sets are the `sh` construction the LSH
    oracle uses (distinct space-joined 3-grams)."""
    return (
        "\nWITH pairs AS (" + _oracle_lsh_pairs() + "),"
        + _ORACLE_CONTAINMENT_BODY.format(threshold=threshold)
    )


_ORACLE_CONTAINMENT_BODY = """
toks2 AS (
  SELECT doc_id AS id,
         string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS t
  FROM documents),
sh2 AS (
  SELECT id,
         CASE WHEN len(t) >= 3
              THEN list_distinct([array_to_string(t[i:i+2], ' ') FOR i IN range(1, len(t) - 1)])
              ELSE [array_to_string(t, ' ')] END AS s
  FROM toks2),
scored AS (
  SELECT p.id_a, p.id_b,
         round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(a.s), 6) AS containment_a,
         round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(b.s), 6) AS containment_b
  FROM pairs p JOIN sh2 a ON a.id = p.id_a JOIN sh2 b ON b.id = p.id_b)
SELECT id_a, id_b, containment_a, containment_b
FROM scored WHERE greatest(containment_a, containment_b) >= {threshold}
"""


def _oracle_lsh_pairs(
    k: int = 8,
    bands: int = 4,
    rows_per_band: int = 2,
    source: str = "documents",
    sh_sql: str | None = None,
) -> str:
    """DuckDB oracle for the full MinHash→band→bucket→pair pipeline. The md5
    hash family was chosen precisely so this is expressible in any engine
    (operators/dedup.py module docstring); the banding arithmetic is
    generated from the same parameters the Spark query uses. ``sh_sql``
    overrides the default flat-text shingle construction with caller CTEs
    that must end in ``sh(id, s)`` — the multimodal token-set variant swaps
    in its own set builder while reusing the signature/band/pair replay."""
    sig_items = ",\n         ".join(
        f"list_min([md5('{s}:' || x) FOR x IN s])" for s in range(k)
    )
    band_selects = "\n  UNION ALL\n  ".join(
        "SELECT id, {b} AS band, md5({parts}) AS bucket FROM sig".format(
            b=b,
            parts=" || '|' || ".join(
                f"sig[{b * rows_per_band + r + 1}]" for r in range(rows_per_band)
            ),
        )
        for b in range(bands)
    )
    if sh_sql is None:
        sh_sql = f"""toks AS (
  SELECT doc_id AS id,
         string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS t
  FROM {source}),
sh AS (
  SELECT id,
         CASE WHEN len(t) >= 3
              THEN list_distinct([array_to_string(t[i:i+2], ' ') FOR i IN range(1, len(t) - 1)])
              ELSE [array_to_string(t, ' ')] END AS s
  FROM toks)"""
    return f"""
WITH {sh_sql},
sig AS (
  SELECT id, [{sig_items}] AS sig
  FROM sh),
buckets AS (
  {band_selects}),
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM buckets a JOIN buckets b ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id)
SELECT c.id_a, c.id_b,
       CAST(len(list_filter(range(1, {k + 1}), i -> sa.sig[i] = sb.sig[i])) AS DOUBLE) / {k} AS est_jaccard
FROM cand c
JOIN sig sa ON sa.id = c.id_a
JOIN sig sb ON sb.id = c.id_b
"""


_CURATE_SPLITS = {"train": 0.9, "val": 0.05, "test": 0.05}


def curate_corpus_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end curation pipeline a training-data user actually runs,
    composed from the engine's own operators: corpus dedup (exact + LSH
    near-dup clusters) → quality filter (token count + punctuation ratio)
    → language allowlist → deterministic train/val/test split."""
    from jsonschema_spark.operators.dedup import dedup_corpus
    from jsonschema_spark.operators.sampling import hash_split
    from jsonschema_spark.operators.text import quality_features

    kept = dedup_corpus(_t(spark, sf_dir, "documents"), "doc_id", "text")
    # quality signals carry lang through the projection: a semi-join back to
    # `kept` would re-run the whole dedup DAG on both join sides
    q = quality_features(kept, "doc_id", "text", keep_cols=("lang",))
    good = q.filter(
        (F.col("n_tokens") >= 5)
        & (F.col("punct_ratio") < 0.2)
        & F.col("lang").isin("en", "de", "fr", "es")
    ).select(F.col("id").alias("doc_id"), "lang")
    return hash_split(good, "doc_id", _CURATE_SPLITS).select("doc_id", "lang", "split")


def _oracle_curate_corpus() -> str:
    from jsonschema_spark.operators.sampling import split_thresholds

    ths = split_thresholds(_CURATE_SPLITS)
    case = " ".join(f"WHEN hf < {t!r} THEN '{n}'" for n, t in ths[:-1])
    return f"""
WITH RECURSIVE {_dedup_corpus_ctes()},
retained AS (SELECT s.* FROM survivors s ANTI JOIN drop_near USING (doc_id)),
q AS (
  SELECT doc_id,
         len(string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS n_tokens,
         CAST(length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS DOUBLE)
           / greatest(length(text), 1) AS punct_ratio
  FROM retained),
good AS (
  SELECT r.doc_id, r.lang FROM retained r JOIN q USING (doc_id)
  WHERE q.n_tokens >= 5 AND q.punct_ratio < 0.2
        AND r.lang IN ('en', 'de', 'fr', 'es')),
f AS (
  SELECT doc_id, lang,
         CAST(('0x' || substr(md5('split' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
           / POWER(2, 60) AS hf
  FROM good)
SELECT doc_id, lang, CASE {case} ELSE '{ths[-1][0]}' END AS split FROM f
"""


def pack_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-then-chunk pack assignment over whitespace token counts
    (budget 512, 8 shards): the batch-prep step after dedup/sampling."""
    from jsonschema_spark.operators.packing import pack_documents
    from jsonschema_spark.operators.text import token_count

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", token_count(F.col("text")).cast("bigint").alias("tokens")
    )
    return pack_documents(d, "doc_id", "tokens", budget=512, n_shards=8)


ORACLE_PACK_DOCS = """
WITH t AS (
  SELECT doc_id,
         CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS tokens,
         CAST(('0x' || substr(md5('pack' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 8 AS shard
  FROM documents),
c AS (
  SELECT doc_id, tokens, shard,
         CAST(sum(tokens) OVER (PARTITION BY shard ORDER BY doc_id
                                ROWS UNBOUNDED PRECEDING) AS BIGINT) - tokens AS start
  FROM t)
SELECT doc_id, tokens, shard,
       start // 512 AS pack_id,
       start % 512 AS tok_offset
FROM c
"""


def redact_pii_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction (email/url/phone) with per-kind match counts. TPC-H-ish
    text contains no organic PII, so 1-in-5 docs get deterministic PII
    appended first (same de-vacuation pattern as content_validate_props) —
    the oracle performs the identical injection."""
    from jsonschema_spark.operators.text import redact_pii

    d = _t(spark, sf_dir, "documents", hot=True)
    doc_s = F.col("doc_id").cast("string")
    injected = d.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(
                F.col("text"), F.lit(" contact user"), doc_s,
                F.lit("@example.com or https://ex.example/d/"), doc_s,
                F.lit(" tel +1 555 010 "), doc_s,
            ),
        ).otherwise(F.col("text")).alias("text"),
    )
    out = redact_pii(injected, "text")
    return out.select(
        "doc_id", "text",
        *[F.col(f"n_{k}").cast("bigint").alias(f"n_{k}") for k in ("email", "url", "phone")],
    )


def domain_stats_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-frequency analysis over injected URLs (TPC-H-ish text has no
    organic URLs): 1-in-5 docs link one of 7 sites, 1-in-10 also hit a
    shared CDN host — the skewed reach distribution a blocklist audit sees."""
    from jsonschema_spark.operators.text import domain_stats

    d = _t(spark, sf_dir, "documents")
    site = F.concat(
        F.lit("http://site"), (F.col("doc_id") % 7).cast("string"), F.lit(".example.com/p/"),
        F.col("doc_id").cast("string"),
    )
    injected = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(F.col("doc_id") % 5 == 0, F.concat(F.lit(" see "), site)).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 10 == 0, F.lit(" via https://cdn.example.org/x")).otherwise(F.lit("")),
        ).alias("text"),
    )
    out = domain_stats(injected, "doc_id", "text")
    return out.select(
        "domain",
        F.col("n_urls").cast("bigint").alias("n_urls"),
        F.col("n_docs").cast("bigint").alias("n_docs"),
    )


ORACLE_DOMAIN_STATS = r"""
WITH injected AS (
  SELECT doc_id,
         text
         || CASE WHEN doc_id % 5 = 0
                 THEN ' see http://site' || CAST(doc_id % 7 AS VARCHAR)
                      || '.example.com/p/' || CAST(doc_id AS VARCHAR)
                 ELSE '' END
         || CASE WHEN doc_id % 10 = 0 THEN ' via https://cdn.example.org/x' ELSE '' END
         AS text
  FROM documents),
e AS (
  SELECT doc_id AS id, unnest(regexp_extract_all(text, 'https?://[^\s]+')) AS url
  FROM injected)
SELECT lower(regexp_extract(url, 'https?://([^/\s:]+)', 1)) AS domain,
       count(*) AS n_urls,
       CAST(count(DISTINCT id) AS BIGINT) AS n_docs
FROM e GROUP BY 1
"""


def url_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-level dedup over injected URL variants: 4 surface forms per
    canonical URL (plain / uppercase-host+default-port / utm+fragment /
    trailing slash) that all canonicalize to the same key; the small moduli
    force cross-doc groups so both the canonicalizer and the keep-lowest-id
    rule are non-vacuous."""
    from jsonschema_spark.operators.text import url_dedup

    d = _t(spark, sf_dir, "documents")
    h = (F.col("doc_id") % 5).cast("string")
    p = (F.col("doc_id") % 20).cast("string")
    q = (F.col("doc_id") % 10).cast("string")
    v = F.col("doc_id") % 4
    url = (
        F.when(v == 0, F.concat(F.lit("http://site"), h, F.lit(".example.com/p/"), p, F.lit("?id="), q))
        .when(v == 1, F.concat(F.lit("HTTP://Site"), h, F.lit(".Example.COM:80/p/"), p, F.lit("?id="), q))
        .when(v == 2, F.concat(F.lit("http://site"), h, F.lit(".example.com/p/"), p, F.lit("?id="), q, F.lit("&utm_source=news#frag")))
        .otherwise(F.concat(F.lit("http://site"), h, F.lit(".example.com/p/"), p, F.lit("/?id="), q))
    )
    injected = d.select("doc_id", url.alias("url"))
    return url_dedup(injected, "doc_id", "url")


ORACLE_URL_DEDUP = r"""
WITH injected AS (
  SELECT doc_id AS id,
    CASE CAST(doc_id % 4 AS INT)
      WHEN 0 THEN 'http://site' || CAST(doc_id % 5 AS VARCHAR) || '.example.com/p/' || CAST(doc_id % 20 AS VARCHAR) || '?id=' || CAST(doc_id % 10 AS VARCHAR)
      WHEN 1 THEN 'HTTP://Site' || CAST(doc_id % 5 AS VARCHAR) || '.Example.COM:80/p/' || CAST(doc_id % 20 AS VARCHAR) || '?id=' || CAST(doc_id % 10 AS VARCHAR)
      WHEN 2 THEN 'http://site' || CAST(doc_id % 5 AS VARCHAR) || '.example.com/p/' || CAST(doc_id % 20 AS VARCHAR) || '?id=' || CAST(doc_id % 10 AS VARCHAR) || '&utm_source=news#frag'
      ELSE 'http://site' || CAST(doc_id % 5 AS VARCHAR) || '.example.com/p/' || CAST(doc_id % 20 AS VARCHAR) || '/?id=' || CAST(doc_id % 10 AS VARCHAR)
    END AS url
  FROM documents),
c2 AS (
  SELECT id,
         regexp_replace(
           regexp_replace(regexp_replace(url, '#.*$', ''), '(utm_[a-z]+|fbclid|gclid)=[^&]*&?', '', 'g'),
           '[?&]+$', '') AS u
  FROM injected),
parts AS (
  SELECT id,
         lower(regexp_extract(u, '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1)) AS scheme,
         lower(regexp_extract(u, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)', 1)) AS hostport,
         regexp_extract(u, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]+(.*)$', 1) AS rest
  FROM c2),
canon AS (
  SELECT id,
         scheme || '://' ||
         CASE WHEN scheme = 'http' THEN regexp_replace(hostport, ':80$', '')
              WHEN scheme = 'https' THEN regexp_replace(hostport, ':443$', '')
              ELSE hostport END ||
         regexp_replace(regexp_extract(rest, '^([^?]*)', 1), '/+$', '') ||
         CASE WHEN regexp_extract(rest, '(\?.*)$', 1) = '?' THEN ''
              ELSE regexp_extract(rest, '(\?.*)$', 1) END AS canonical_url
  FROM parts),
g AS (SELECT canonical_url, min(id) AS keep_id, count(*) AS group_size
      FROM canon GROUP BY 1)
SELECT c.id, c.canonical_url, CAST(g.group_size AS BIGINT) AS group_size,
       c.id = g.keep_id AS keep
FROM canon c JOIN g USING (canonical_url)
"""


def domain_quota_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain quota sampling: cap every (injected) domain at its 5
    highest-scoring docs (score = n_chars, id tiebreak) — the salted
    two-phase exact top-n that never sorts a whole hot domain on one task."""
    from jsonschema_spark.operators.sampling import group_quota

    d = _t(spark, sf_dir, "documents")
    dom = F.concat(F.lit("site"), (F.col("doc_id") % 7).cast("string"), F.lit(".example.com"))
    slim = d.select("doc_id", dom.alias("domain"), F.col("n_chars").alias("score"))
    return group_quota(slim, "doc_id", "domain", "score", n=5)


ORACLE_DOMAIN_QUOTA = """
WITH t AS (
  SELECT doc_id AS id,
         'site' || CAST(doc_id % 7 AS VARCHAR) || '.example.com' AS domain,
         n_chars AS score
  FROM documents),
r AS (
  SELECT id, domain, score,
         row_number() OVER (PARTITION BY domain ORDER BY score DESC, id ASC) AS rnk
  FROM t)
SELECT id, domain, score, CAST(rnk AS BIGINT) AS rank FROM r WHERE rnk <= 5
"""


def _oracle_redact_pii() -> str:
    from jsonschema_spark.operators.text import PII_PATTERNS

    em, url, ph = PII_PATTERNS["email"], PII_PATTERNS["url"], PII_PATTERNS["phone"]
    return f"""
WITH injected AS (
  SELECT doc_id,
         CASE WHEN doc_id % 5 = 0
              THEN text || ' contact user' || CAST(doc_id AS VARCHAR)
                   || '@example.com or https://ex.example/d/' || CAST(doc_id AS VARCHAR)
                   || ' tel +1 555 010 ' || CAST(doc_id AS VARCHAR)
              ELSE text END AS text
  FROM documents)
SELECT doc_id,
       regexp_replace(regexp_replace(regexp_replace(
         text, '{em}', '[REDACTED]', 'g'), '{url}', '[REDACTED]', 'g'),
         '{ph}', '[REDACTED]', 'g') AS text,
       len(regexp_extract_all(text, '{em}')) AS n_email,
       len(regexp_extract_all(text, '{url}')) AS n_url,
       len(regexp_extract_all(text, '{ph}')) AS n_phone
FROM injected
"""


_SPLIT_FRACTIONS = {"train": 0.8, "val": 0.1, "test": 0.1}
_STRATA_RATES = {"en": 0.5, "de": 0.25}


def sample_split_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment by md5 hash range — stable
    across runs, engines, and corpus growth (no RNG)."""
    from jsonschema_spark.operators.sampling import hash_split

    return hash_split(_t(spark, sf_dir, "documents"), "doc_id", _SPLIT_FRACTIONS).select(
        "doc_id", "split"
    )


def _oracle_sample_split() -> str:
    from jsonschema_spark.operators.sampling import split_thresholds

    ths = split_thresholds(_SPLIT_FRACTIONS)
    case = " ".join(f"WHEN hf < {t!r} THEN '{n}'" for n, t in ths[:-1])
    return f"""
WITH f AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5('split' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
           / POWER(2, 60) AS hf
  FROM documents)
SELECT doc_id, CASE {case} ELSE '{ths[-1][0]}' END AS split FROM f
"""


def leakage_split_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-disjoint (leakage-safe) train/val/test: near-dup clusters
    (MinHash-LSH pairs -> connected components) key the split, so a test
    doc can never have a near-copy sitting in train — the contamination
    channel a per-doc hash split leaves open (Lee et al. 2022 measure the
    eval inflation it causes). split_key is exposed so the group-coherence
    property is auditable downstream."""
    from jsonschema_spark.operators.dedup import (
        duplicate_clusters,
        lsh_candidate_pairs,
        minhash_signature,
    )
    from jsonschema_spark.operators.sampling import leakage_safe_split

    docs = _t(spark, sf_dir, "documents")
    sig = minhash_signature(docs, "doc_id", "text", k=8, shingle_n=3)
    pairs = lsh_candidate_pairs(sig, bands=4, rows_per_band=2).filter(
        F.col("est_jaccard") >= 0.5
    )
    clusters = duplicate_clusters(pairs)
    return leakage_safe_split(docs, clusters, _SPLIT_FRACTIONS).select(
        "doc_id", "split_key", "split"
    )


def _oracle_leakage_split(threshold: float = 0.5) -> str:
    """The dup_clusters recursive-CTE chain + coalesce key + the exact
    hash_split md5 CASE thresholds (same doubles via split_thresholds)."""
    from jsonschema_spark.operators.sampling import split_thresholds

    ths = split_thresholds(_SPLIT_FRACTIONS)
    case = " ".join(f"WHEN hf < {t!r} THEN '{n}'" for n, t in ths[:-1])
    return f"""
WITH RECURSIVE pairs AS ({_oracle_lsh_pairs()}),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs WHERE est_jaccard >= {threshold}
  UNION ALL
  SELECT id_b AS src, id_a AS dst FROM pairs WHERE est_jaccard >= {threshold}),
nodes AS (SELECT DISTINCT src AS id FROM edges),
reach AS (
  SELECT id, id AS label FROM nodes
  UNION
  SELECT e.dst AS id, r.label FROM edges e JOIN reach r ON r.id = e.src),
clusters AS (SELECT id, min(label) AS cluster_id FROM reach GROUP BY id),
keyed AS (
  SELECT d.doc_id,
         CAST(COALESCE(c.cluster_id, d.doc_id) AS VARCHAR) AS split_key
  FROM documents d LEFT JOIN clusters c ON c.id = d.doc_id),
f AS (
  SELECT doc_id, split_key,
         CAST(('0x' || substr(md5('split' || split_key), 1, 15)) AS BIGINT)
           / POWER(2, 60) AS hf
  FROM keyed)
SELECT doc_id, split_key, CASE {case} ELSE '{ths[-1][0]}' END AS split FROM f
"""


_OUTLIER_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]


def outliers_robust_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median/MAD robust outlier screen (Iglewicz-Hoaglin family) over the
    lineitem numerics: per column (n_present, med, mad, n_outliers) with
    outlier = |x - med| > 3.5 * mad. Robust location/scale has 50%%
    breakdown, so a corrupted tail that drags mean/stddev past usefulness
    leaves this screen intact."""
    from jsonschema_spark.operators.stats import robust_outliers

    return robust_outliers(_t(spark, sf_dir, "lineitem"), _OUTLIER_COLS, k=3.5)


def _oracle_robust_outliers(k: float = 3.5) -> str:
    """Replays the three chained aggregation passes: snapped median, snapped
    MAD given the snapped median, then the count pass against k*mad — the
    1e-6 nudge-then-floor snap keeps the decision boundary the same IEEE
    double in both engines."""
    cols = _OUTLIER_COLS
    snap = "floor({x} * 1000000.0 + 0.000001) / 1000000.0"
    med_items = ",\n         ".join(
        snap.format(x=f"quantile_cont({c}, 0.5)") + f" AS md_{i}"
        for i, c in enumerate(cols)
    )
    mad_items = ",\n         ".join(
        snap.format(x=f"quantile_cont(abs(l.{c} - m.md_{i}), 0.5)") + f" AS ma_{i},\n         min(m.md_{i}) AS md_{i}"
        for i, c in enumerate(cols)
    )
    agg_items = ",\n         ".join(
        f"count(l.{c}) AS np_{i},\n         "
        f"CAST(sum(CASE WHEN abs(l.{c} - s.md_{i}) > {k!r} * s.ma_{i} THEN 1 ELSE 0 END) AS BIGINT) AS no_{i},\n         "
        f"min(s.md_{i}) AS md_{i}, min(s.ma_{i}) AS ma_{i}"
        for i, c in enumerate(cols)
    )
    selects = "\nUNION ALL\n".join(
        f"SELECT '{c}' AS \"column\", np_{i} AS n_present, md_{i} AS med, ma_{i} AS mad, no_{i} AS n_outliers FROM agg"
        for i, c in enumerate(cols)
    )
    return f"""
WITH med AS (
  SELECT {med_items}
  FROM lineitem),
stats AS (
  SELECT {mad_items}
  FROM lineitem l, med m),
agg AS (
  SELECT {agg_items}
  FROM lineitem l, stats s)
{selects}
"""



def stratified_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language deterministic subsample (en 50%, de 25%, others dropped)."""
    from jsonschema_spark.operators.sampling import stratified_sample

    return stratified_sample(
        _t(spark, sf_dir, "documents"), "doc_id", "lang", _STRATA_RATES
    ).select("doc_id", "lang")


def _oracle_stratified_sample() -> str:
    case = " ".join(f"WHEN '{v}' THEN {r!r}" for v, r in _STRATA_RATES.items())
    return f"""
SELECT doc_id, lang FROM documents
WHERE CAST(('0x' || substr(md5('sample' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
        / POWER(2, 60)
      < CASE lang {case} ELSE 0.0 END
"""


def clean_text_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text normalization over injected junk (TPC-H-ish text is already
    clean): 1-in-3 docs get a BEL control char, a zero-width space, tab
    runs, CRLF, space-hugged newlines and a 4-newline run appended; the
    cleaner must strip/collapse them all and report before/after lengths."""
    from jsonschema_spark.operators.text import clean_text

    d = _t(spark, sf_dir, "documents")
    junk = F.lit("\t\t junk\u0007\u200b\r\nmid \n end\n\n\n\ntail")
    injected = d.select(
        "doc_id",
        F.concat(
            F.col("text"), F.when(F.col("doc_id") % 3 == 0, junk).otherwise(F.lit(""))
        ).alias("text"),
    )
    return clean_text(injected, "doc_id", "text")


def _oracle_clean_text() -> str:
    from jsonschema_spark.operators.text import CLEAN_RULES

    expr = "text"
    for pat, repl in CLEAN_RULES:
        expr = f"regexp_replace({expr}, '{pat}', '{repl}', 'g')".replace("\n", "' || chr(10) || '")
    return f"""
WITH injected AS (
  SELECT doc_id AS id,
         text || CASE WHEN doc_id % 3 = 0
                      THEN chr(9) || chr(9) || ' junk' || chr(7) || chr(8203)
                           || chr(13) || chr(10) || 'mid ' || chr(10) || ' end'
                           || repeat(chr(10), 4) || 'tail'
                      ELSE '' END AS text
  FROM documents)
SELECT id, trim({expr}) AS text,
       CAST(length(text) AS BIGINT) AS n_before,
       CAST(length(trim({expr})) AS BIGINT) AS n_after
FROM injected
"""


def c4_filter_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 line/document cleaning rules (Raffel et al. 2020 §2.2) over
    injected multi-line structure (TPC-H-ish text is single-line and
    unpunctuated): every doc gets a terminated tail, 1-in-3 an extra
    short line + a proper sentence line, 1-in-7 a lorem-ipsum marker,
    1-in-11 a curly-brace code line."""
    from jsonschema_spark.operators.heuristics import c4_line_filter

    d = _t(spark, sf_dir, "documents", hot=True)
    injected = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(". More sentence one. More sentence two."),
            F.when(
                F.col("doc_id") % 3 == 0,
                F.lit("\nshort no end\nThis second appended line ends properly today."),
            ).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 7 == 0, F.lit("\nfiller lorem ipsum filler")).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 11 == 0, F.lit("\nvar conf = { mode: 1 }")).otherwise(F.lit("")),
        ).alias("text"),
    )
    return c4_line_filter(injected, "doc_id", "text")


def _c4_sql_chain(src: str) -> str:
    """DuckDB CTE chain replaying c4_line_filter over `src`(id, text).
    Exposes c4_j(id, text=original, kept_text, n_lines, n_lines_kept,
    n_sentences, keep)."""
    return rf"""c4_l AS (SELECT id, text, string_split(text, chr(10)) AS lines FROM {src}),
c4_k AS (SELECT id, text, lines,
        list_filter(lines, ln ->
          regexp_matches(regexp_replace(ln, '^\s+|\s+$', '', 'g'), '[.!?"]\s*$')
          AND (CASE WHEN length(regexp_replace(ln, '^\s+|\s+$', '', 'g')) = 0 THEN 0
               ELSE len(string_split(regexp_replace(regexp_replace(ln, '^\s+|\s+$', '', 'g'), '\s+', ' ', 'g'), ' ')) END) >= 5
        ) AS kept
      FROM c4_l),
c4_j AS (SELECT id, text, len(lines) AS n_lines, len(kept) AS n_lines_kept,
        array_to_string(list_transform(kept, x -> regexp_replace(x, '^\s+|\s+$', '', 'g')), chr(10)) AS kept_text,
        length(array_to_string(list_transform(kept, x -> regexp_replace(x, '^\s+|\s+$', '', 'g')), chr(10)))
          - length(regexp_replace(array_to_string(list_transform(kept, x -> regexp_replace(x, '^\s+|\s+$', '', 'g')), chr(10)),
                                  '[.!?]', '', 'g')) AS n_sentences,
        (length(array_to_string(list_transform(kept, x -> regexp_replace(x, '^\s+|\s+$', '', 'g')), chr(10)))
           - length(regexp_replace(array_to_string(list_transform(kept, x -> regexp_replace(x, '^\s+|\s+$', '', 'g')), chr(10)),
                                   '[.!?]', '', 'g')) >= 3
         AND NOT contains(lower(text), 'lorem ipsum')
         AND NOT contains(text, '{{')) AS keep
      FROM c4_k)"""


def _oracle_c4_filter() -> str:
    return rf"""
WITH injected AS (
  SELECT doc_id AS id,
         text || '. More sentence one. More sentence two.'
         || CASE WHEN doc_id % 3 = 0
                 THEN chr(10) || 'short no end' || chr(10)
                      || 'This second appended line ends properly today.'
                 ELSE '' END
         || CASE WHEN doc_id % 7 = 0 THEN chr(10) || 'filler lorem ipsum filler' ELSE '' END
         || CASE WHEN doc_id % 11 = 0 THEN chr(10) || 'var conf = ' || chr(123) || ' mode: 1 ' || chr(125) ELSE '' END
         AS text
  FROM documents),
{_c4_sql_chain('injected')}
SELECT id, kept_text AS text,
       CAST(n_lines AS BIGINT) AS n_lines,
       CAST(n_lines_kept AS BIGINT) AS n_lines_kept,
       CAST(n_sentences AS BIGINT) AS n_sentences,
       keep
FROM c4_j
"""


def gopher_quality_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher Table-A1 quality rules over injected rule-triggers: 1-in-5
    docs get 20 '#' symbol words (symbol-ratio trip), 1-in-9 thirty bullet
    lines (bullet-fraction trip), 1-in-13 eight ellipsis-ended lines
    (ellipsis-fraction trip), 1-in-17 are truncated to 20 chars
    (word-count trip)."""
    from jsonschema_spark.operators.heuristics import gopher_quality

    d = _t(spark, sf_dir, "documents", hot=True)
    injected = d.select(
        "doc_id",
        F.when(F.col("doc_id") % 17 == 0, F.substring(F.col("text"), 1, 20))
        .otherwise(
            F.concat(
                F.col("text"),
                F.when(F.col("doc_id") % 5 == 0, F.concat(F.lit(" "), F.repeat(F.lit("# "), 20))).otherwise(F.lit("")),
                F.when(F.col("doc_id") % 9 == 0, F.repeat(F.lit("\n- item"), 30)).otherwise(F.lit("")),
                F.when(F.col("doc_id") % 13 == 0, F.repeat(F.lit("\nthis line trails off..."), 8)).otherwise(F.lit("")),
            )
        )
        .alias("text"),
    )
    return gopher_quality(injected, "doc_id", "text")


def _gopher_sql_chain(src: str) -> str:
    """DuckDB CTE chain replaying gopher_quality over `src`(id, text).
    Exposes gop_m(id, n_words, mean_word_len, symbol_ratio, bullet_frac,
    ellipsis_frac, alpha_frac, stop_hits, keep) — UNROUNDED doubles."""
    from jsonschema_spark.operators.heuristics import GOPHER_REQUIRED_WORDS

    req = ", ".join(f"'{w}'" for w in GOPHER_REQUIRED_WORDS)
    return rf"""gop_w AS (
  SELECT id, text,
         string_split(regexp_replace(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+', ' ', 'g'), ' ') AS words,
         string_split(text, chr(10)) AS lines,
         regexp_replace(text, '…', '', 'g') AS t_nouni,
         regexp_replace(regexp_replace(text, '\.\.\.', '', 'g'), '…', '', 'g') AS t_noell
  FROM {src}),
gop_s AS (
  SELECT id, text, words, lines,
         CASE WHEN length(regexp_replace(text, '^\s+|\s+$', '', 'g')) = 0 THEN 0 ELSE len(words) END AS n_words,
         CAST(list_aggregate(list_transform(words, x -> length(x)), 'sum') AS DOUBLE) AS word_chars,
         length(text) - length(replace(text, '#', '')) AS n_hash,
         (length(t_nouni) - length(t_noell)) / 3 + (length(text) - length(t_nouni)) AS n_ell,
         len(list_filter(lines, ln -> regexp_matches(regexp_replace(ln, '^\s+|\s+$', '', 'g'), '^[-*•]'))) AS n_bullet,
         len(list_filter(lines, ln -> regexp_matches(regexp_replace(ln, '^\s+|\s+$', '', 'g'), '(\.\.\.|…)$'))) AS n_ell_lines,
         len(lines) AS n_lines,
         len(list_filter(words, x -> regexp_matches(x, '[A-Za-z]'))) AS n_alpha,
         len(list_filter([{req}],
             s -> list_contains(list_transform(words, x -> lower(regexp_replace(x, '[^A-Za-z]', '', 'g'))), s)))
           AS stop_hits
  FROM gop_w),
gop_m AS (
  SELECT id, n_words,
         word_chars / greatest(n_words, 1) AS mean_word_len,
         (n_hash + CAST(n_ell AS BIGINT)) / CAST(greatest(n_words, 1) AS DOUBLE) AS symbol_ratio,
         n_bullet / CAST(greatest(n_lines, 1) AS DOUBLE) AS bullet_frac,
         n_ell_lines / CAST(greatest(n_lines, 1) AS DOUBLE) AS ellipsis_frac,
         n_alpha / CAST(greatest(n_words, 1) AS DOUBLE) AS alpha_frac,
         stop_hits,
         (n_words >= 50 AND n_words <= 100000
          AND word_chars / greatest(n_words, 1) >= 3.0
          AND word_chars / greatest(n_words, 1) <= 10.0
          AND (n_hash + CAST(n_ell AS BIGINT)) / CAST(greatest(n_words, 1) AS DOUBLE) <= 0.1
          AND n_bullet / CAST(greatest(n_lines, 1) AS DOUBLE) <= 0.9
          AND n_ell_lines / CAST(greatest(n_lines, 1) AS DOUBLE) <= 0.3
          AND n_alpha / CAST(greatest(n_words, 1) AS DOUBLE) >= 0.8
          AND stop_hits >= 2) AS keep
  FROM gop_s)"""


def _oracle_gopher_quality() -> str:
    return rf"""
WITH injected AS (
  SELECT doc_id AS id,
         CASE WHEN doc_id % 17 = 0 THEN substr(text, 1, 20)
              ELSE text
                || CASE WHEN doc_id % 5 = 0 THEN ' ' || repeat('# ', 20) ELSE '' END
                || CASE WHEN doc_id % 9 = 0 THEN repeat(chr(10) || '- item', 30) ELSE '' END
                || CASE WHEN doc_id % 13 = 0 THEN repeat(chr(10) || 'this line trails off...', 8) ELSE '' END
         END AS text
  FROM documents),
{_gopher_sql_chain('injected')}
SELECT id,
       CAST(n_words AS BIGINT) AS n_words,
       round(mean_word_len, 6) AS mean_word_len,
       round(symbol_ratio, 6) AS symbol_ratio,
       round(bullet_frac, 6) AS bullet_frac,
       round(ellipsis_frac, 6) AS ellipsis_frac,
       round(alpha_frac, 6) AS alpha_frac,
       CAST(stop_hits AS BIGINT) AS stop_hits,
       keep
FROM gop_m
"""


def strip_html_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML → text extraction over injected page chrome: every doc is
    wrapped in html/head/style/script/comment markup with entity-encoded
    tail text; the stripper must drop the block bodies, strip tags, decode
    entities and collapse whitespace."""
    from jsonschema_spark.operators.text import strip_html

    d = _t(spark, sf_dir, "documents", hot=True)
    ds = F.col("doc_id").cast("string")
    injected = d.select(
        "doc_id",
        F.concat(
            F.lit("<html><head><title>Doc "), ds,
            F.lit('</title><style type="text/css">p { color: red }</style>'),
            F.lit('<script>if (1 < 2) { x = "</p>"; }</script></head>'),
            F.lit('<body><!-- hidden --><p class="lead">'),
            F.col("text"),
            F.lit("</p><div>Tom &amp; Jerry &lt;3 &quot;quoted&quot; &#39;q&#39;&nbsp;end</div></body></html>"),
        ).alias("text"),
    )
    return strip_html(injected, "doc_id", "text")


def _html_strip_expr(col: str = "text") -> str:
    """The strip_html regexp chain as a DuckDB expression over `col` (the
    final trim is the caller's)."""
    from jsonschema_spark.operators.text import HTML_RULES

    expr = col
    for pat, repl in HTML_RULES:
        p = pat.replace("'", "''")
        r = repl.replace("'", "''").replace("\n", "' || chr(10) || '")
        expr = f"regexp_replace({expr}, '{p}', '{r}', 'g')"
    return expr


def _oracle_strip_html() -> str:
    expr = _html_strip_expr("text")
    return f"""
WITH injected AS (
  SELECT doc_id AS id,
         '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR)
         || '</title><style type="text/css">p {{ color: red }}</style>'
         || '<script>if (1 < 2) {{ x = "</p>"; }}</script></head>'
         || '<body><!-- hidden --><p class="lead">'
         || text
         || '</p><div>Tom &amp; Jerry &lt;3 &quot;quoted&quot; &#39;q&#39;&nbsp;end</div></body></html>'
         AS text
  FROM documents),
cleaned AS (
  SELECT id, text, trim({expr}) AS out_text FROM injected)
SELECT id, out_text AS text,
       CAST(length(text) AS BIGINT) AS n_before,
       CAST(length(out_text) AS BIGINT) AS n_after
FROM cleaned
"""


_WEB_SPLITS = {"train": 0.9, "val": 0.05, "test": 0.05}


def web_pipeline_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The crawl-to-corpus pipeline end-to-end, composed from the engine's
    own operators: HTML strip → C4 line/doc rules → Gopher quality rules →
    exact dedup (keep lowest id) → deterministic train/val/test split.
    Injection gives every doc page chrome plus two closing sentences
    (guaranteeing C4 sentence count and Gopher stopwords); 1-in-7 docs get
    a lorem-ipsum paragraph (C4 doc rule), 1-in-11 an inline curly-brace
    code paragraph that SURVIVES the HTML strip (the style block's braces
    must not false-trigger — ordering matters)."""
    from jsonschema_spark.operators.dedup import normalize_text
    from jsonschema_spark.operators.heuristics import c4_line_filter, gopher_quality
    from jsonschema_spark.operators.sampling import hash_split
    from jsonschema_spark.operators.text import strip_html

    d = _t(spark, sf_dir, "documents", hot=True)
    injected = d.select(
        "doc_id",
        F.concat(
            F.lit("<html><head><style>p { x: 1 }</style></head><body><p>"),
            F.col("text"),
            F.lit(". One more of the full sentences to have and that be with us."
                  " A second complete sentence ends the page.</p>"),
            F.when(F.col("doc_id") % 7 == 0, F.lit("<p>filler lorem ipsum</p>")).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 11 == 0, F.lit("<p>inline { code } block.</p>")).otherwise(F.lit("")),
            F.lit("</body></html>"),
        ).alias("text"),
    )
    stripped = strip_html(injected, "doc_id", "text").select("id", "text")
    c4 = c4_line_filter(stripped, "id", "text")
    c4kept = c4.filter("keep").select("id", "text")
    # single-pass chain: gopher carries text through so no self-join ever
    # re-evaluates the regex stack, and the exact-dedup keep-lowest-id rule
    # is ONE min_by aggregation instead of a groupBy + semi-join (which
    # recomputed the whole chain on the probe side too)
    g = gopher_quality(c4kept, "id", "text", keep_text=True)
    norm = g.filter("keep").select(
        "id", "n_words", F.md5(normalize_text(F.col("text"))).alias("key")
    )
    kept = norm.groupBy("key").agg(
        F.min("id").alias("id"), F.min_by("n_words", "id").alias("n_words")
    )
    return hash_split(kept, "id", _WEB_SPLITS, salt="web").select("id", "n_words", "split")


def _oracle_web_pipeline() -> str:
    from jsonschema_spark.operators.sampling import split_thresholds

    ths = split_thresholds(_WEB_SPLITS)
    case = " ".join(f"WHEN hf < {t!r} THEN '{n}'" for n, t in ths[:-1])
    html_expr = _html_strip_expr("text")
    return rf"""
WITH injected AS (
  SELECT doc_id AS id,
         '<html><head><style>p ' || chr(123) || ' x: 1 ' || chr(125) || '</style></head><body><p>'
         || text
         || '. One more of the full sentences to have and that be with us.'
         || ' A second complete sentence ends the page.</p>'
         || CASE WHEN doc_id % 7 = 0 THEN '<p>filler lorem ipsum</p>' ELSE '' END
         || CASE WHEN doc_id % 11 = 0
                 THEN '<p>inline ' || chr(123) || ' code ' || chr(125) || ' block.</p>' ELSE '' END
         || '</body></html>' AS text
  FROM documents),
stripped AS (SELECT id, trim({html_expr}) AS text FROM injected),
{_c4_sql_chain('stripped')},
c4kept AS (SELECT id, kept_text AS text FROM c4_j WHERE keep),
{_gopher_sql_chain('c4kept')},
gkept AS (SELECT id, n_words FROM gop_m WHERE keep),
surv AS (SELECT c.id, c.text, g.n_words FROM c4kept c JOIN gkept g USING (id)),
norm AS (SELECT id, n_words,
                md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS key
         FROM surv),
reps AS (SELECT key, min(id) AS keep_id FROM norm GROUP BY key),
kept AS (SELECT n.id, n.n_words FROM norm n JOIN reps r ON n.id = r.keep_id),
f AS (SELECT id, n_words,
        CAST(('0x' || substr(md5('web' || CAST(id AS VARCHAR)), 1, 15)) AS BIGINT)
          / POWER(2, 60) AS hf
      FROM kept)
SELECT id, CAST(n_words AS BIGINT) AS n_words,
       CASE {case} ELSE '{ths[-1][0]}' END AS split
FROM f
"""


def keywords_tfidf_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc top-3 keywords by smoothed TF-IDF (sklearn smooth-idf,
    deterministic (tfidf DESC, term ASC) ties)."""
    from jsonschema_spark.operators.text import tfidf_keywords

    out = tfidf_keywords(_t(spark, sf_dir, "documents", hot=True), "doc_id", "text", top_k=3)
    return out.select("id", "term", "rank", F.round("tfidf", 6).alias("tfidf"))


ORACLE_KEYWORDS_TFIDF = """
WITH t AS (
  SELECT doc_id AS id,
         string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS toks
  FROM documents),
p AS (SELECT id, unnest(toks) AS term FROM t),
pairs AS (SELECT id, term, count(*) AS tf FROM p GROUP BY 1, 2),
nd AS (SELECT count(DISTINCT id) AS n_docs FROM t),
dfreq AS (SELECT term, count(*) AS df FROM pairs GROUP BY 1),
idf AS (SELECT term, ln(CAST(n_docs + 1 AS DOUBLE) / (df + 1)) + 1.0 AS idf FROM dfreq, nd),
scored AS (SELECT id, pairs.term AS term, CAST(tf AS DOUBLE) * idf AS tfidf
           FROM pairs JOIN idf USING (term)),
ranked AS (SELECT id, term,
                  row_number() OVER (PARTITION BY id ORDER BY tfidf DESC, term ASC) AS rnk,
                  tfidf
           FROM scored)
SELECT id, term, CAST(rnk AS BIGINT) AS rank, round(tfidf, 6) AS tfidf
FROM ranked WHERE rnk <= 3
"""


_MIXTURE_TARGETS = {"en": 0.5, "zh": 0.25, "de": 0.125, "es": 0.0625, "fr": 0.0625}


def mixture_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixture resampling: draw ~50% of the corpus with language
    proportions en:zh:de:es:fr = 8:4:2:1:1 (dyadic targets — the Σt fold is
    exact in any summation order, keeping the JVM and oracle thresholds
    bit-identical); under-provisioned languages keep all their docs."""
    from jsonschema_spark.operators.sampling import mixture_sample

    return mixture_sample(
        _t(spark, sf_dir, "documents"), "doc_id", "lang", _MIXTURE_TARGETS, 0.5
    )


def _oracle_mixture_sample() -> str:
    case = " ".join(
        f"WHEN '{k}' THEN CAST({v!r} AS DOUBLE)" for k, v in sorted(_MIXTURE_TARGETS.items())
    )
    return f"""
WITH t AS (SELECT doc_id AS id, lang AS grp FROM documents),
c AS (SELECT grp, count(*) AS n_g FROM t GROUP BY 1),
c2 AS (SELECT grp, n_g,
       CASE grp {case} ELSE CAST(0.0 AS DOUBLE) END AS t_g FROM c),
tot AS (SELECT sum(n_g) AS n_total, sum(t_g) AS t_sum FROM c2),
plan AS (
  SELECT grp,
         least(CAST(1.0 AS DOUBLE),
               t_g / t_sum * (CAST(0.5 AS DOUBLE) * n_total) / n_g) AS frac
  FROM c2, tot)
SELECT t.id, t.grp FROM t JOIN plan USING (grp)
WHERE CAST(('0x' || substr(md5('mix' || CAST(t.id AS VARCHAR)), 1, 15)) AS BIGINT)
        / POWER(2, 60)
      < plan.frac
"""


def dup_clusters_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidate pairs (est_jaccard ≥ 0.5) → connected components →
    (doc_id, cluster_id): the step that turns pairwise near-dup evidence
    into dedup groups (keep min-id per cluster)."""
    from jsonschema_spark.operators.dedup import (
        duplicate_clusters,
        lsh_candidate_pairs,
        minhash_signature,
    )

    sig = minhash_signature(_t(spark, sf_dir, "documents"), "doc_id", "text", k=8, shingle_n=3)
    pairs = lsh_candidate_pairs(sig, bands=4, rows_per_band=2).filter(
        F.col("est_jaccard") >= 0.5
    )
    return duplicate_clusters(pairs).select(F.col("id").alias("doc_id"), "cluster_id")


def _oracle_dup_clusters(threshold: float = 0.5) -> str:
    """Recursive-CTE connected components over the SAME md5 MinHash-LSH pair
    pipeline the Spark query runs: cluster_id = min reachable doc id."""
    return f"""
WITH RECURSIVE pairs AS ({_oracle_lsh_pairs()}),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs WHERE est_jaccard >= {threshold}
  UNION ALL
  SELECT id_b AS src, id_a AS dst FROM pairs WHERE est_jaccard >= {threshold}),
nodes AS (SELECT DISTINCT src AS id FROM edges),
reach AS (
  SELECT id, id AS label FROM nodes
  UNION
  SELECT e.dst AS id, r.label FROM edges e JOIN reach r ON r.id = e.src)
SELECT id AS doc_id, min(label) AS cluster_id FROM reach GROUP BY id
"""


def dedup_best_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware duplicate resolution: LSH pairs → connected components →
    keep the LONGEST member per cluster (ties → lowest doc id) — production
    pipelines keep the best version of a near-dup group, not the lowest-id
    one. Returns (cluster_id, rep_id, size) per duplicate group."""
    from jsonschema_spark.operators.dedup import (
        duplicate_clusters,
        lsh_candidate_pairs,
        minhash_signature,
        select_representatives,
    )

    docs = _t(spark, sf_dir, "documents")
    sig = minhash_signature(docs, "doc_id", "text", k=8, shingle_n=3)
    pairs = lsh_candidate_pairs(sig, bands=4, rows_per_band=2).filter(
        F.col("est_jaccard") >= 0.5
    )
    clusters = duplicate_clusters(pairs)
    scores = docs.select(F.col("doc_id").alias("id"), F.length("text").alias("score"))
    return select_representatives(clusters, scores)


def _oracle_dedup_best(threshold: float = 0.5) -> str:
    """The dup_clusters recursive-CTE chain plus a score join and per-cluster
    argmax (score DESC, id ASC) — replays select_representatives exactly."""
    return f"""
WITH RECURSIVE pairs AS ({_oracle_lsh_pairs()}),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs WHERE est_jaccard >= {threshold}
  UNION ALL
  SELECT id_b AS src, id_a AS dst FROM pairs WHERE est_jaccard >= {threshold}),
nodes AS (SELECT DISTINCT src AS id FROM edges),
reach AS (
  SELECT id, id AS label FROM nodes
  UNION
  SELECT e.dst AS id, r.label FROM edges e JOIN reach r ON r.id = e.src),
clusters AS (SELECT id, min(label) AS cluster_id FROM reach GROUP BY id),
scored AS (
  SELECT c.id, c.cluster_id, length(d.text) AS score
  FROM clusters c JOIN documents d ON d.doc_id = c.id)
SELECT cluster_id, id AS rep_id, size FROM (
  SELECT cluster_id, id,
         count(*) OVER (PARTITION BY cluster_id) AS size,
         row_number() OVER (PARTITION BY cluster_id ORDER BY score DESC, id ASC) AS rk
  FROM scored) WHERE rk = 1
"""


def shard_order_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle of the corpus into 8 training shards:
    (doc_id, shard, pos) derived only from md5 — the reproducible training
    order a trainer streams shard-by-shard (write partitioned by shard,
    sorted by pos)."""
    from jsonschema_spark.operators.sampling import shard_order

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    return shard_order(docs, "doc_id", n_shards=8).select("doc_id", "shard", "pos")


ORACLE_SHARD_ORDER = """
SELECT doc_id, shard,
       CAST(row_number() OVER (PARTITION BY shard ORDER BY h, doc_id) AS INT) AS pos
FROM (
  SELECT doc_id,
         md5('shard' || CAST(doc_id AS VARCHAR)) AS h,
         CAST(('0x' || substr(md5('shard' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 8 AS shard
  FROM documents)
"""


def dedup_corpus_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full corpus dedup (exact pass then LSH near-dup clusters): the
    retained doc_ids a training pipeline would keep."""
    from jsonschema_spark.operators.dedup import dedup_corpus

    out = dedup_corpus(_t(spark, sf_dir, "documents"), "doc_id", "text")
    return out.select("doc_id", "lang")


def _dedup_corpus_ctes(threshold: float = 0.5) -> str:
    """The CTE chain shared by the dedup-corpus and curation oracles: exact
    pass (min id per normalized text), the SAME LSH pair pipeline over the
    survivors, recursive-CTE connected components, drop non-representatives."""
    return f"""norm AS (
  SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS th
  FROM documents),
keep_exact AS (SELECT min(doc_id) AS doc_id FROM norm GROUP BY th),
survivors AS (SELECT d.* FROM documents d JOIN keep_exact USING (doc_id)),
pairs AS ({_oracle_lsh_pairs(source="survivors")}),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs WHERE est_jaccard >= {threshold}
  UNION ALL
  SELECT id_b AS src, id_a AS dst FROM pairs WHERE est_jaccard >= {threshold}),
nodes AS (SELECT DISTINCT src AS id FROM edges),
reach AS (
  SELECT id, id AS label FROM nodes
  UNION
  SELECT e.dst AS id, r.label FROM edges e JOIN reach r ON r.id = e.src),
drop_near AS (
  SELECT id AS doc_id FROM (SELECT id, min(label) AS cid FROM reach GROUP BY id)
  WHERE id != cid)"""


def _oracle_dedup_corpus(threshold: float = 0.5) -> str:
    return f"""
WITH RECURSIVE {_dedup_corpus_ctes(threshold)}
SELECT s.doc_id, s.lang FROM survivors s ANTI JOIN drop_near USING (doc_id)
"""


def dedup_incremental_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental cross-corpus dedup — the step a continuously-crawling
    pipeline runs per ingest batch. The existing corpus is the even doc_ids;
    the new batch is the odd doc_ids plus injected exact copies
    (doc_id % 10 = 0, verbatim text) and near copies (doc_id % 10 = 2, text
    with a trailing marker appended) of reference documents. Per-document
    verdicts (kept / exact_dup / near_dup) with the smallest matching
    reference id."""
    from jsonschema_spark.operators.dedup import dedup_against

    docs = _t(spark, sf_dir, "documents")
    ref = docs.filter(F.col("doc_id") % 2 == 0).select("doc_id", "text")
    new = (
        docs.filter(F.col("doc_id") % 2 == 1)
        .select("doc_id", "text")
        .unionByName(
            docs.filter(F.col("doc_id") % 10 == 0).select(
                (F.col("doc_id") + 100000).alias("doc_id"), "text"
            )
        )
        .unionByName(
            docs.filter(F.col("doc_id") % 10 == 2).select(
                (F.col("doc_id") + 200000).alias("doc_id"),
                F.concat(F.col("text"), F.lit(" refreshed crawl snapshot")).alias("text"),
            )
        )
    )
    rep = dedup_against(new, ref, "doc_id", "text", report=True)
    return rep.select(F.col("id").alias("doc_id"), "status", "match_id")


def bloom_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered incremental exact dedup: the existing corpus is the
    even doc_ids, the new batch is the odd doc_ids plus injected verbatim
    copies of doc_id % 10 = 0 reference docs. The Bloom filter is sized
    deliberately small (512 bits, k=2) so false positives are NON-ZERO and
    observable in the report — bloom_pass=true & status=kept rows measure
    exactly what the prefilter costs the verification join at this fill
    ratio, while status itself stays identical to the plain anti-join."""
    from jsonschema_spark.operators.bloom import bloom_dedup_against

    docs = _t(spark, sf_dir, "documents")
    ref = docs.filter(F.col("doc_id") % 2 == 0).select("doc_id", "text")
    new = (
        docs.filter(F.col("doc_id") % 2 == 1)
        .select("doc_id", "text")
        .unionByName(
            docs.filter(F.col("doc_id") % 10 == 0).select(
                (F.col("doc_id") + 100000).alias("doc_id"), "text"
            )
        )
    )
    rep = bloom_dedup_against(new, ref, "doc_id", "text", n_bits=512, k=2, report=True)
    return rep.select(F.col("id").alias("doc_id"), "bloom_pass", "status", "match_id")


def _oracle_bloom_positions(h: str, n_bits: int, k: int) -> str:
    """DuckDB replay of operators/bloom.bloom_positions over md5-hex col h."""
    return (
        f"unnest(list_transform(range(0, {k}), i -> "
        f"(CAST('0x' || substr({h}, 1, 15) AS BIGINT) "
        f"+ i * (2 * CAST('0x' || substr({h}, 17, 12) AS BIGINT) + 1)) % {n_bits}))"
    )


ORACLE_BLOOM_DEDUP = f"""
WITH ref AS (
  SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS h
  FROM documents WHERE doc_id % 2 = 0),
newb AS (
  SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS h
  FROM documents WHERE doc_id % 2 = 1
  UNION ALL
  SELECT doc_id + 100000, md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
  FROM documents WHERE doc_id % 10 = 0),
rpos AS (SELECT {_oracle_bloom_positions('h', 512, 2)} AS pos FROM ref),
words AS (
  SELECT pos // 32 AS widx, bit_or(CAST(power(2, pos % 32) AS BIGINT)) AS word
  FROM rpos GROUP BY 1),
npos AS (SELECT doc_id, h, {_oracle_bloom_positions('h', 512, 2)} AS pos FROM newb),
bp AS (
  SELECT doc_id, h,
         sum(CASE WHEN w.word IS NOT NULL
                   AND (w.word & CAST(power(2, npos.pos % 32) AS BIGINT)) <> 0
                  THEN 1 ELSE 0 END) = 2 AS bloom_pass
  FROM npos LEFT JOIN words w ON npos.pos // 32 = w.widx
  GROUP BY 1, 2),
rh AS (SELECT h, min(doc_id) AS match_id FROM ref GROUP BY 1)
SELECT bp.doc_id, bp.bloom_pass,
       CASE WHEN bp.bloom_pass AND rh.h IS NOT NULL THEN 'exact_dup'
            ELSE 'kept' END AS status,
       CASE WHEN bp.bloom_pass AND rh.h IS NOT NULL THEN rh.match_id END AS match_id
FROM bp LEFT JOIN rh ON bp.h = rh.h
"""


def _oracle_sig_ctes(
    source: str, suffix: str, k: int = 8, bands: int = 4, rows_per_band: int = 2
) -> str:
    """The MinHash signature + band-bucket CTE chain for ONE named source
    relation (columns doc_id, text) with a suffix so two corpora can coexist
    in one query — the cross-corpus analogue of _oracle_lsh_pairs."""
    sig_items = ",\n         ".join(
        f"list_min([md5('{s}:' || x) FOR x IN s])" for s in range(k)
    )
    band_selects = "\n  UNION ALL\n  ".join(
        "SELECT id, {b} AS band, md5({parts}) AS bucket FROM sig{sfx}".format(
            b=b,
            sfx=suffix,
            parts=" || '|' || ".join(
                f"sig[{b * rows_per_band + r + 1}]" for r in range(rows_per_band)
            ),
        )
        for b in range(bands)
    )
    return f"""toks{suffix} AS (
  SELECT doc_id AS id,
         string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS t
  FROM {source}),
sh{suffix} AS (
  SELECT id,
         CASE WHEN len(t) >= 3
              THEN list_distinct([array_to_string(t[i:i+2], ' ') FOR i IN range(1, len(t) - 1)])
              ELSE [array_to_string(t, ' ')] END AS s
  FROM toks{suffix}),
sig{suffix} AS (
  SELECT id, [{sig_items}] AS sig
  FROM sh{suffix}),
buckets{suffix} AS (
  {band_selects})"""


def _oracle_dedup_incremental(threshold: float = 0.5, k: int = 8) -> str:
    return f"""
WITH ref AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0),
newb AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1
  UNION ALL
  SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id % 10 = 0
  UNION ALL
  SELECT doc_id + 200000 AS doc_id, text || ' refreshed crawl snapshot' AS text
  FROM documents WHERE doc_id % 10 = 2),
ref_hash AS (
  SELECT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS th,
         min(doc_id) AS match_id
  FROM ref GROUP BY th),
new_hash AS (
  SELECT doc_id AS id, md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS th
  FROM newb),
exact_hits AS (SELECT id, match_id FROM new_hash JOIN ref_hash USING (th)),
surv AS (SELECT * FROM newb WHERE doc_id NOT IN (SELECT id FROM exact_hits)),
{_oracle_sig_ctes("surv", "_n", k=k)},
{_oracle_sig_ctes("ref", "_r", k=k)},
cand AS (
  SELECT DISTINCT n.id AS nid, r.id AS rid
  FROM buckets_n n JOIN buckets_r r ON n.band = r.band AND n.bucket = r.bucket),
near_hits AS (
  SELECT nid AS id, min(rid) AS match_id
  FROM cand c
  JOIN sig_n sn ON sn.id = c.nid
  JOIN sig_r sr ON sr.id = c.rid
  WHERE CAST(len(list_filter(range(1, {k + 1}), i -> sn.sig[i] = sr.sig[i])) AS DOUBLE) / {k}
        >= {threshold}
  GROUP BY nid)
SELECT id AS doc_id, 'exact_dup' AS status, match_id FROM exact_hits
UNION ALL
SELECT id AS doc_id, 'near_dup' AS status, match_id FROM near_hits
UNION ALL
SELECT doc_id, 'kept' AS status, CAST(NULL AS BIGINT) AS match_id
FROM surv WHERE doc_id NOT IN (SELECT id FROM near_hits)
"""


def simhash_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash signatures on the engine-portable md5-derived 60-bit hash
    family (md5_hash60) so a DuckDB oracle can recompute them exactly; the
    xxhash64 default stays the production fast path."""
    from jsonschema_spark.operators.dedup import md5_hash60, simhash

    return simhash(
        _t(spark, sf_dir, "documents", hot=True), "doc_id", "text", bits=60, hash_fn=md5_hash60
    )


ORACLE_SIMHASH = """
WITH toks AS (
  SELECT doc_id AS id,
         list_distinct(string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS t
  FROM documents),
h AS (
  SELECT id, [CAST('0x' || substr(md5(x), 1, 15) AS BIGINT) FOR x IN t] AS hs
  FROM toks)
SELECT id,
       CAST(list_sum([
         CASE WHEN list_sum([CASE WHEN (hh >> i) & 1 = 1 THEN 1 ELSE -1 END FOR hh IN hs]) > 0
              THEN (CAST(1 AS BIGINT) << i) ELSE 0 END
         FOR i IN range(0, 60)]) AS BIGINT) AS simhash
FROM h
"""


def ann_topk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jsonschema_spark.operators.simsearch import ann_topk

    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = ann_topk(
        emb, queries, k=5, bands=4, rows_per_band=6,
        spread=spark.sparkContext.defaultParallelism,
    )
    return out.select("query_id", "neighbor_id", "rank", F.round("cosine", 6).alias("cosine"))


def _hyperplane_sql_parts(bands: int, rows_per_band: int, dim: int):
    """(proj_cols, key_selects) SQL fragments that replicate the Spark
    operator's banded hyperplane LSH construction EXACTLY: the ±1 sign
    matrix is a deterministic compile-time constant (sha256-derived,
    operators/simsearch._plane_signs) inlined as literals in BOTH engines,
    so the oracle reproduces bucket keys bit-for-bit."""
    from jsonschema_spark.operators.simsearch import _plane_signs

    n_planes = bands * rows_per_band
    proj_cols = ",\n         ".join(
        "list_dot_product(v, [{lit}]) AS p{p}".format(
            lit=", ".join(str(x) for x in _plane_signs(p, dim)), p=p
        )
        for p in range(n_planes)
    )
    key_selects = "\n  UNION ALL\n  ".join(
        "SELECT id, {b} AS band, {key} AS key FROM proj".format(
            b=b,
            key=" + ".join(
                f"CAST(p{b * rows_per_band + j} > 0 AS BIGINT) * {1 << j}"
                for j in range(rows_per_band)
            ),
        )
        for b in range(bands)
    )
    return proj_cols, key_selects


def _oracle_ann_topk(k: int = 5, bands: int = 4, rows_per_band: int = 6, dim: int = 64) -> str:
    proj_cols, key_selects = _hyperplane_sql_parts(bands, rows_per_band, dim)
    return f"""
WITH e AS (
  SELECT vec_id AS id, [CAST(x AS DOUBLE) FOR x IN embedding] AS v
  FROM embeddings WHERE len(embedding) = {dim}),
proj AS (
  SELECT id, {proj_cols}
  FROM e),
keys AS (
  {key_selects}),
cand AS (
  SELECT DISTINCT q.id AS query_id, c.id AS neighbor_id
  FROM keys q JOIN keys c ON q.band = c.band AND q.key = c.key
  WHERE q.id < 3),
scored AS (
  SELECT cand.query_id, cand.neighbor_id,
         list_dot_product(cv.v, qv.v) /
         (sqrt(list_dot_product(cv.v, cv.v)) * sqrt(list_dot_product(qv.v, qv.v))) AS cos
  FROM cand
  JOIN e cv ON cv.id = cand.neighbor_id
  JOIN e qv ON qv.id = cand.query_id),
ranked AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rank,
         cos
  FROM scored)
SELECT query_id, neighbor_id, rank, round(cos, 6) AS cosine FROM ranked WHERE rank <= {k}
"""


def media_features_fake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing: binary payloads through mapInPandas (fake codec)."""
    from jsonschema_spark.operators.multimodal import extract_media_features, fake_decoder

    p = _t(spark, sf_dir, "part").select(
        F.col("p_name").alias("media_ref"),
        F.lit("image").alias("media_type"),
        F.encode("p_name", "utf-8").alias("payload"),
    )
    out = extract_media_features(p, decoder=fake_decoder, num_partitions=4)
    return out.select("media_ref", "n_bytes", "feature_hash")


ORACLE_MEDIA_FEATURES = """
SELECT p_name AS media_ref, CAST(length(p_name) AS BIGINT) AS n_bytes,
       substr(sha256(p_name), 1, 32) AS feature_hash
FROM part
"""


def span_mismatch_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-sequence equality (north-rule invariant) between the events-derived
    docs and a 'reference' where text spans drop their payload when value>450."""
    from jsonschema_spark.operators.spans import span_sequence_mismatches

    docs = _events_as_spans(spark, sf_dir)
    ref = docs.select(
        "doc_id",
        F.transform(
            "spans",
            lambda s: F.struct(
                s["kind"].alias("kind"),
                F.when(s["offset"] <= 450, s["text"]).alias("text"),
                s["media_ref"].alias("media_ref"),
                s["offset"].alias("offset"),
            ),
        ).alias("spans"),
    )
    return span_sequence_mismatches(docs, ref).select("doc_id", "n_spans")


ORACLE_SPAN_MISMATCH = """
WITH spans AS (
  SELECT user_id AS doc_id, event_id,
         CASE WHEN event_type IN ('click','view') THEN props END AS text,
         CAST(FLOOR(value) AS INT) AS off
  FROM events)
SELECT doc_id, CAST(count(*) AS INT) AS n_spans FROM spans
GROUP BY doc_id
HAVING sum(CASE WHEN off > 450 AND text IS NOT NULL THEN 1 ELSE 0 END) > 0
"""


# ----- recursive schema via $dynamicRef, statically unrolled (typed path;
# reference validate.go:684-765; SURVEY §4.2.5-6) ---------------------------

TREE_SCHEMA = {
    "$id": "https://example.test/tree",
    "$dynamicAnchor": "node",
    "type": "object",
    "properties": {
        "value": {"type": "integer", "maximum": 40},
        "child": {"$dynamicRef": "#node"},
    },
}


def kw_recursive_tree_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A recursive node schema unrolled to the struct's static depth — the
    typed planner resolves $dynamicRef through the statically-known scope
    and grounds out when the StructType has no deeper `child` field."""
    e = _t(spark, sf_dir, "events", hot=True)
    doc = e.select(
        "event_id",
        (F.col("event_id") % 50).cast("int").alias("value"),
        F.struct((F.col("event_id") % 75).cast("int").alias("value")).alias("child"),
    )
    out = SparkPlanCompiler(TREE_SCHEMA).apply(doc)
    return out.select("event_id", "valid")


ORACLE_RECURSIVE_TREE = """
SELECT event_id, ((event_id % 50) <= 40) AND ((event_id % 75) <= 40) AS valid
FROM events
"""


def variant_recursive_dynamic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive $dynamicRef over DYNAMIC JSON (no static type to ground
    on): the variant planner unrolls the cycle max_unroll times and fails
    closed past the horizon — these documents are 3 deep, well inside it, so
    semantics match the scalar exactly (r2 VERDICT gap #3)."""
    from jsonschema_spark.functions.udf import validate_json_column

    e = _t(spark, sf_dir, "events", hot=True)
    doc = F.concat(
        F.lit('{"value": '), (F.col("event_id") % 50).cast("string"),
        F.lit(', "child": {"value": '), (F.col("event_id") % 75).cast("string"),
        F.lit(', "child": {"value": '), (F.col("event_id") % 30).cast("string"),
        F.lit("}}}"),
    )
    # max_unroll=2: root + 2 unrolls covers the 3-level documents; the
    # grounding horizon sits at the (absent) 4th level. Driver-side plan
    # build is ~2s/unroll level (py4j expression construction) — a per-JOB
    # constant that amortizes to zero over table size, but the bench pays it
    # per repetition, so the unroll is sized to the data.
    out = validate_json_column(
        e.select("event_id", doc.alias("doc")), "doc", TREE_SCHEMA, max_unroll=2
    )
    return out.select("event_id", "valid")


ORACLE_VARIANT_RECURSIVE = """
SELECT event_id,
       ((event_id % 50) <= 40) AND ((event_id % 75) <= 40) AND ((event_id % 30) <= 40) AS valid
FROM events
"""


# ----- dynamic-object variant residue (patternProperties / propertyNames /
# additionalProperties / min-maxProperties over map<string,variant> keys) ----

VARIANT_DYN_SCHEMA = {
    "type": "object",
    "minProperties": 2,
    "maxProperties": 3,
    "propertyNames": {"pattern": "^[a-z_0-9]+$"},
    "properties": {"k": {"type": "integer", "minimum": 10}},
    "patternProperties": {"^x_": {"type": "string", "minLength": 5}},
    "additionalProperties": {"type": "number"},
}


def variant_dynamic_objects(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic JSON objects with varying keys validated entirely JVM-side:
    key enumeration via cast(variant AS map<string,variant>) — the residue
    that previously fell back to the Arrow UDF path."""
    from jsonschema_spark.functions.udf import validate_json_column

    e = _t(spark, sf_dir, "events", hot=True)
    base = F.concat(
        F.lit('{"k": '), (F.col("event_id") % 20).cast("string"),
        F.lit(', "x_'), F.col("event_type"), F.lit('": "'), F.col("event_type"), F.lit('"'),
    )
    third = (
        F.when(F.col("event_id") % 3 == 0,
               F.concat(F.lit(', "extra": '), F.round("value", 3).cast("string")))
        .when(F.col("event_id") % 3 == 1, F.lit(', "Extra": 1'))
        .otherwise(F.lit(""))
    )
    j = e.select("event_id", F.concat(base, third, F.lit("}")).alias("doc"))
    out = validate_json_column(j, "doc", VARIANT_DYN_SCHEMA)
    return out.select("event_id", "valid")


ORACLE_VARIANT_DYN = """
SELECT event_id,
       ((event_id % 20) >= 10)
       AND (length(event_type) >= 5)
       AND (event_id % 3 != 1) AS valid
FROM events
"""


# ----- content vocabulary assertions (reference content.go; typed lowering
# via try_to_binary + try_parse_json + Variant contentSchema) ----------------

CONTENT_SCHEMA = {
    "properties": {
        "payload": {
            "contentEncoding": "base64",
            "contentMediaType": "application/json",
            "contentSchema": {
                "type": "object",
                "required": ["k"],
                "properties": {"k": {"type": "integer", "minimum": 10, "maximum": 90}},
            },
        }
    }
}


def content_validate_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Base64-encoded JSON payloads decode-and-validate fully JVM-side
    (corrupted deterministically for 1 in 7 events to exercise the
    invalid_encoding path)."""
    e = _t(spark, sf_dir, "events", hot=True).select(
        "event_id",
        F.when(F.col("event_id") % 7 == 0, F.concat(F.base64(F.col("props").cast("binary")), F.lit("!")))
        .otherwise(F.base64(F.col("props").cast("binary")))
        .alias("payload"),
    )
    out = SparkPlanCompiler(CONTENT_SCHEMA, assert_content=True).apply(e)
    return out.select("event_id", "valid")


ORACLE_CONTENT_PROPS = """
SELECT event_id,
       CASE WHEN event_id % 7 = 0 THEN FALSE
            WHEN json_valid(props) AND json_type(props) IS NOT NULL THEN
              (json_type(json_extract(props, '$')) = 'OBJECT'
               AND json_extract(props, '$.k') IS NOT NULL
               AND json_type(json_extract(props, '$.k')) IN ('BIGINT','UBIGINT')
               AND CAST(json_extract(props, '$.k') AS BIGINT) BETWEEN 10 AND 90)
            ELSE FALSE END AS valid
FROM events
"""


# ----- object-applicator violation rows (dependentSchemas / patternProperties
# / unevaluatedProperties — reference dependent_schemas.go:17-75,
# pattern_properties.go, unevaluated shape) ---------------------------------

DEP_OBJ_SCHEMA = {
    "type": "object",
    "properties": {
        "event_id": {"type": "integer", "minimum": 0},
        "count": {"type": "integer", "minimum": 10},
        "other": {"type": "string", "pattern": "^[a-z]+$"},
    },
    "patternProperties": {"^x_": {"minLength": 3}},
    "dependentSchemas": {"count": {"required": ["other"]}},
    "unevaluatedProperties": False,
}


def kw_dependent_applicators_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Violation ROWS (not just flags) from a schema exercising
    dependentSchemas + patternProperties + unevaluatedProperties on a
    deterministic object projection of events. Guards the single-emission
    contract (each failing subschema yields exactly one row set)."""
    e = _t(spark, sf_dir, "events")
    s = e.select(
        "event_id",
        F.when(F.col("event_id") % 3 == 0, F.substring("event_type", 1, 2))
        .when(F.col("event_id") % 3 == 1, F.col("event_type"))
        .alias("x_tag"),
        F.when(F.col("event_id") % 4 < 2, (F.col("event_id") % 20).cast("int")).alias("count"),
        F.when(F.col("event_id") % 5 == 0, F.lit("abc"))
        .when(F.col("event_id") % 5 == 1, F.lit("AB9"))
        .alias("other"),
        F.when(F.col("event_id") % 7 == 0, F.lit("stray")).alias("extra"),
    )
    return _violations(s, DEP_OBJ_SCHEMA, ["event_id"])


ORACLE_DEP_APPLICATORS = """
WITH s AS (
  SELECT event_id,
    CASE WHEN event_id % 3 = 0 THEN substr(event_type, 1, 2)
         WHEN event_id % 3 = 1 THEN event_type END AS x_tag,
    CASE WHEN event_id % 4 < 2 THEN CAST(event_id % 20 AS INT) END AS count,
    CASE WHEN event_id % 5 = 0 THEN 'abc'
         WHEN event_id % 5 = 1 THEN 'AB9' END AS other,
    CASE WHEN event_id % 7 = 0 THEN 'stray' END AS extra
  FROM events)
SELECT event_id, '/count' AS instance_path, 'minimum' AS keyword,
       'value_below_minimum' AS code
FROM s WHERE count IS NOT NULL AND count < 10
UNION ALL
SELECT event_id, '/other', 'pattern', 'pattern_mismatch'
FROM s WHERE other IS NOT NULL AND NOT regexp_matches(other, '^[a-z]+$')
UNION ALL
SELECT event_id, '/x_tag', 'minLength', 'string_too_short'
FROM s WHERE x_tag IS NOT NULL AND length(x_tag) < 3
UNION ALL
SELECT event_id, '', 'properties',
       CASE WHEN (CASE WHEN count IS NOT NULL AND count < 10 THEN 1 ELSE 0 END)
               + (CASE WHEN other IS NOT NULL AND NOT regexp_matches(other, '^[a-z]+$') THEN 1 ELSE 0 END) = 1
            THEN 'property_mismatch' ELSE 'properties_mismatch' END
FROM s WHERE (count IS NOT NULL AND count < 10)
          OR (other IS NOT NULL AND NOT regexp_matches(other, '^[a-z]+$'))
UNION ALL
SELECT event_id, '', 'patternProperties', 'pattern_property_mismatch'
FROM s WHERE x_tag IS NOT NULL AND length(x_tag) < 3
UNION ALL
SELECT event_id, '', 'required', 'missing_required_property'
FROM s WHERE count IS NOT NULL AND other IS NULL
UNION ALL
SELECT event_id, '', 'dependentSchemas', 'dependent_schema_mismatch'
FROM s WHERE count IS NOT NULL AND other IS NULL
UNION ALL
SELECT event_id, '/extra', 'schema', 'false_schema_mismatch'
FROM s WHERE extra IS NOT NULL
UNION ALL
SELECT event_id, '', 'unevaluatedProperties', 'unevaluated_property_mismatch'
FROM s WHERE extra IS NOT NULL
"""

