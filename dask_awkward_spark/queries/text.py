r"""String-kernel + text-analysis query suite over ``documents``.

Covers SURVEY §2.8 (the reference's 44 ``ak.str.*`` kernels → Spark
built-ins) and the training-data text operators (token stats, quality,
langid, fingerprinting). Everything is scan + per-row expressions —
shuffle-free except the final small aggregations.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..core import NestedArray
from ..functions import strings as S
from ..functions import textstats as tx
from ..sources.tables import load_table, load_table_hot


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents")


def _docs_par(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parallelism-guarded read for the rolling-hash family — per-window
    md5 over every k-gram is the one text workload CPU-bound enough that
    an unsplittable single-row-group scan serializes it (A/B at sf0.1:
    winnowing 0.8s -> 0.4s; the cheap aggregation queries LOSE ~0.2s to
    the extra shuffle stage, so they keep the plain scan)."""
    return load_table_hot(spark, sf_dir, "documents")


TOK_CTE = r"""
WITH tok AS (
  SELECT doc_id, text, lang, source, n_chars,
         list_filter(regexp_split_to_array(trim(text), '\s+'), t -> t != '') AS toks
  FROM documents
)
"""


# ---- case / length ----

def str_case_len(spark, sf_dir):
    df = _docs(spark, sf_dir)
    t = NestedArray(df, "text")
    s = NestedArray(df, "source")
    return df.select(
        "doc_id",
        S.lower(t).col.alias("lo"),
        S.upper(s).col.alias("up"),
        S.length(t).col.cast("bigint").alias("n"),
    )


STR_CASE_SQL = """
SELECT doc_id, lower(text) AS lo, upper(source) AS up,
       CAST(length(text) AS BIGINT) AS n
FROM documents
"""


# ---- search ----

def str_search(spark, sf_dir):
    df = _docs(spark, sf_dir)
    t = NestedArray(df, "text")
    s = NestedArray(df, "source")
    return df.select(
        "doc_id",
        S.match_substring(t, "data").col.alias("has_data"),
        S.starts_with(s, "src").col.alias("is_src"),
        S.ends_with(s, "1").col.alias("ends_1"),
        S.match_like(s, "src%").col.alias("like_src"),
        S.find_substring(t, "spark").col.cast("bigint").alias("pos_spark"),
        S.count_substring(t, "the").col.cast("bigint").alias("n_the"),
    )


STR_SEARCH_SQL = """
SELECT doc_id,
       contains(text, 'data') AS has_data,
       starts_with(source, 'src') AS is_src,
       ends_with(source, '1') AS ends_1,
       source LIKE 'src%' AS like_src,
       CAST(strpos(text, 'spark') - 1 AS BIGINT) AS pos_spark,
       CAST((length(text) - length(replace(text, 'the', ''))) / 3 AS BIGINT) AS n_the
FROM documents
"""


# ---- split / join ----

def str_split_join(spark, sf_dir):
    df = _docs(spark, sf_dir)
    t = NestedArray(df, "text")
    toks = S.split_whitespace(t)
    return df.select(
        "doc_id",
        F.size(toks.col).cast("bigint").alias("n_tok"),
        F.get(toks.col, 0).alias("first_tok"),
        F.array_join(F.slice(toks.col, 1, 3), "-").alias("first3"),
    )


STR_SPLIT_SQL = TOK_CTE + """
SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tok,
       toks[1] AS first_tok,
       array_to_string(toks[1:3], '-') AS first3
FROM tok
"""


# ---- replace / transform ----

def str_replace(spark, sf_dir):
    df = _docs(spark, sf_dir)
    t = NestedArray(df, "text")
    s = NestedArray(df, "source")
    return df.select(
        "doc_id",
        S.replace_substring(t, "data", "DATA").col.alias("repl"),
        S.replace_substring_regex(s, "[0-9]+", "#").col.alias("re_repl"),
        S.reverse(s).col.alias("rev"),
        S.repeat(s, 2).col.alias("rep2"),
        S.slice(t, 0, 20).col.alias("head20"),
    )


STR_REPLACE_SQL = """
SELECT doc_id,
       replace(text, 'data', 'DATA') AS repl,
       regexp_replace(source, '[0-9]+', '#', 'g') AS re_repl,
       reverse(source) AS rev,
       repeat(source, 2) AS rep2,
       substring(text, 1, 20) AS head20
FROM documents
"""


# ---- pad / trim ----

def str_pad_trim(spark, sf_dir):
    df = _docs(spark, sf_dir)
    s = NestedArray(df, "source")
    padded = S.lpad(s, 8, "_")
    return df.select(
        "doc_id",
        padded.col.alias("lp"),
        S.rpad(s, 8, ".").col.alias("rp"),
        S.center(s, 10, "*").col.alias("ctr"),
        S.ltrim(padded, "_").col.alias("back"),
        S.trim_whitespace(NestedArray(df, F.concat(F.lit("  "), F.col("source"), F.lit("  ")))).col.alias("tw"),
    )


STR_PAD_SQL = """
SELECT doc_id,
       lpad(source, 8, '_') AS lp,
       rpad(source, 8, '.') AS rp,
       CASE WHEN length(source) >= 10 THEN source
            ELSE rpad(repeat('*', CAST(floor(greatest(10 - length(source), 0) / 2) AS INT)) || source, 10, '*') END AS ctr,
       regexp_replace(lpad(source, 8, '_'), '^[_]+', '') AS back,
       trim('  ' || source || '  ') AS tw
FROM documents
"""


# ---- predicates ----

def str_predicates(spark, sf_dir):
    df = _docs(spark, sf_dir)
    s = NestedArray(df, "source")
    lg = NestedArray(df, "lang")
    return df.select(
        "doc_id",
        S.is_alnum(s).col.alias("alnum"),
        S.is_alpha(lg).col.alias("alpha"),
        S.is_lower(lg).col.alias("lowr"),
        S.is_digit(S.extract_regex(s, "([0-9]+)")).col.alias("dig"),
        S.is_space(s).col.alias("spc"),
    )


STR_PRED_SQL = r"""
SELECT doc_id,
       regexp_matches(source, '^[\p{L}\p{N}]+$') AS alnum,
       regexp_matches(lang, '^\p{L}+$') AS alpha,
       (regexp_matches(lang, '\p{Ll}') AND NOT regexp_matches(lang, '[\p{Lu}\p{Lt}]')) AS lowr,
       regexp_matches(regexp_extract(source, '([0-9]+)', 1), '^[\p{Nd}\p{No}]+$') AS dig,
       regexp_matches(source, '^\s+$') AS spc
FROM documents
"""


# ---- token / quality / langid / fingerprint ----

def text_token_stats(spark, sf_dir):
    df = _docs(spark, sf_dir)
    t = F.col("text")
    return df.select(
        "doc_id",
        tx.token_count(t).alias("n_tok"),
        tx.stopword_count(t).alias("n_sw"),
        tx.punct_count(t).alias("n_punct"),
        (F.length(t).cast("bigint")).alias("n_ch"),
    )


_SW = "', '".join(tx.EN_STOPWORDS)
TEXT_TOKEN_SQL = TOK_CTE + f"""
SELECT doc_id,
       CAST(len(toks) AS BIGINT) AS n_tok,
       CAST(len(list_filter(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'), t -> t != ''),
                            t -> t IN ('{_SW}'))) AS BIGINT) AS n_sw,
       CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS BIGINT) AS n_punct,
       CAST(length(text) AS BIGINT) AS n_ch
FROM tok
"""


def text_quality(spark, sf_dir):
    df = _docs(spark, sf_dir)
    return df.select("doc_id", tx.quality_score(F.col("text")).alias("quality"))


TEXT_QUALITY_SQL = TOK_CTE + f"""
SELECT doc_id,
       (CASE WHEN len(toks) > 0
             THEN CAST(len(list_filter(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'), t -> t != ''),
                                       t -> t IN ('{_SW}'))) AS DOUBLE) / len(toks)
             ELSE 0.0 END
        + CASE WHEN length(text) >= 100 AND length(text) <= 10000 THEN 1.0 ELSE 0.5 END
        + CASE WHEN len(toks) > 0 AND CAST(length(text) AS DOUBLE) / len(toks) >= 3.0
                    AND CAST(length(text) AS DOUBLE) / len(toks) <= 12.0 THEN 1.0 ELSE 0.5 END
       ) / 3 AS quality
FROM tok
"""


def text_langid(spark, sf_dir):
    df = _docs(spark, sf_dir)
    return df.select("doc_id", tx.langid_en(F.col("text")).alias("pred_lang"))


TEXT_LANGID_SQL = TOK_CTE + f"""
SELECT doc_id,
       CASE WHEN len(toks) > 0
             AND CAST(len(list_filter(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'), t -> t != ''),
                                      t -> t IN ('{_SW}'))) AS DOUBLE) / len(toks) >= 0.05
            THEN 'en' ELSE 'unk' END AS pred_lang
FROM tok
"""


def text_fingerprint(spark, sf_dir):
    df = _docs(spark, sf_dir)
    return df.select("doc_id", tx.fingerprint(F.col("text")).alias("fp"))


TEXT_FP_SQL = r"""
SELECT doc_id,
       md5(array_to_string(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'), t -> t != ''), ' ')) AS fp
FROM documents
"""


def text_rolling_hashes(spark, sf_dir):
    """k-gram winnowing fingerprints: count of windows + distinct windows."""
    df = _docs_par(spark, sf_dir)
    rh = tx.rolling_hashes(F.col("text"), k=8)
    return df.select(
        "doc_id",
        F.size(rh).cast("bigint").alias("n_win"),
        F.size(F.array_distinct(rh)).cast("bigint").alias("n_uniq"),
    )


TEXT_ROLLING_SQL = r"""
WITH ltok AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(lower(text)), '\s+'), t -> t != '') AS toks
  FROM documents
), wins AS (
  SELECT doc_id,
         CASE WHEN len(toks) >= 8
              THEN list_transform(range(0, len(toks) - 8 + 1),
                                  i -> md5(array_to_string(toks[i+1:i+8], ' ')))
              ELSE [] END AS hs
  FROM ltok
)
SELECT doc_id, CAST(len(hs) AS BIGINT) AS n_win,
       CAST(len(list_distinct(hs)) AS BIGINT) AS n_uniq
FROM wins
"""


def text_repetition(spark, sf_dir):
    """Gopher-style repetition signal: top-bigram fraction + distinct
    ratio per document. High top_frac flags boilerplate/spam for a
    training-data filter. Scale shape: row-local bigram hashing (reuses
    the single-tokenization rolling_hashes), one (doc, gram) hash
    aggregate, one per-doc aggregate — two shuffles on hash keys."""
    df = _docs_par(spark, sf_dir)
    grams = df.select(
        "doc_id", F.explode(tx.rolling_hashes(F.col("text"), k=2)).alias("g")
    )
    counts = grams.groupBy("doc_id", "g").agg(F.count(F.lit(1)).alias("c"))
    return counts.groupBy("doc_id").agg(
        F.sum("c").alias("n_bigrams"),
        F.max("c").alias("top_count"),
        F.count(F.lit(1)).alias("n_distinct"),
        (F.max("c").cast("double") / F.sum("c")).alias("top_frac"),
    )


TEXT_REPETITION_SQL = r"""
WITH tokl AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(lower(text)), '\s+'), t -> t != '') AS toks
  FROM documents
), g AS (
  SELECT doc_id, unnest(
    CASE WHEN len(toks) >= 2
         THEN list_transform(range(0, len(toks) - 1),
                             i -> md5(array_to_string(toks[i+1:i+2], ' ')))
         ELSE [] END) AS g
  FROM tokl
), c AS (
  SELECT doc_id, g, count(*) AS c FROM g GROUP BY 1, 2
)
SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
       CAST(max(c) AS BIGINT) AS top_count,
       CAST(count(*) AS BIGINT) AS n_distinct,
       CAST(max(c) AS DOUBLE) / CAST(sum(c) AS DOUBLE) AS top_frac
FROM c GROUP BY doc_id
"""


def quota_sampling(spark, sf_dir):
    """Deterministic stratified (quota) sampling — the per-source mixing
    knob of a training-data pipeline: keep a doc when the md5 of its id
    falls below the source's rate threshold. Hash-gated selection is
    engine-deterministic (no RNG), stable under re-runs and re-partitioning,
    and exactly reproducible by the oracle. Row-local filter → one
    aggregate; pushes down to the scan at any corpus size."""
    from ..functions.curation import quota_sample

    df = _docs(spark, sf_dir)
    # ~50% for the first three sources, ~20% elsewhere (mixing weights)
    rate = F.when(
        F.col("source").isin("src0", "src1", "src2"), F.lit(0.5)
    ).otherwise(F.lit(0.2))
    return (
        quota_sample(df, F.col("doc_id"), rate)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("n_chars").alias("kept_chars"),
            F.min("doc_id").alias("min_id"),
            F.max("doc_id").alias("max_id"),
        )
    )


QUOTA_SAMPLING_SQL = """
SELECT source, count(*) AS n_kept,
       CAST(sum(n_chars) AS BIGINT) AS kept_chars,
       min(doc_id) AS min_id, max(doc_id) AS max_id
FROM documents
WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) <
      CASE WHEN source IN ('src0', 'src1', 'src2')
           THEN '80000000' ELSE '33333333' END
GROUP BY source
"""


def text_winnowing(spark, sf_dir):
    """True winnowing fingerprints (Schleimer et al.): over the k=8-gram
    rolling hashes, each window of w=4 consecutive hashes contributes its
    minimum; the doc fingerprint is the distinct selected set. Guarantees
    any match of length >= k+w-1 shares a fingerprint. All row-local
    (nested transform over the bound hash array — zero shuffle)."""
    W = 4
    df = _docs_par(spark, sf_dir)
    rh = tx.rolling_hashes(F.col("text"), k=8)

    def winnow(h):
        n = F.size(h)
        starts = F.when(n >= W, F.sequence(F.lit(0), n - W)).otherwise(
            F.array().cast("array<int>")
        )
        return F.array_distinct(
            F.transform(starts, lambda i: F.array_min(F.slice(h, i + 1, W)))
        )

    fp = F.get(F.transform(F.array(rh), winnow), 0)
    return df.select(
        "doc_id",
        F.size(fp).cast("bigint").alias("n_fp"),
        F.array_min(fp).alias("fp_min"),
        F.array_max(fp).alias("fp_max"),
    )


TEXT_WINNOW_SQL = r"""
WITH ltok AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(lower(text)), '\s+'), t -> t != '') AS toks
  FROM documents
), wins AS (
  SELECT doc_id,
         CASE WHEN len(toks) >= 8
              THEN list_transform(range(0, len(toks) - 8 + 1),
                                  i -> md5(array_to_string(toks[i+1:i+8], ' ')))
              ELSE [] END AS hs
  FROM ltok
), fp AS (
  SELECT doc_id,
         CASE WHEN len(hs) >= 4
              THEN list_distinct(list_transform(range(0, len(hs) - 4 + 1),
                                                i -> list_min(hs[i+1:i+4])))
              ELSE [] END AS f
  FROM wins
)
SELECT doc_id, CAST(len(f) AS BIGINT) AS n_fp,
       list_min(f) AS fp_min, list_max(f) AS fp_max
FROM fp
"""


def doc_stats_by_source(spark, sf_dir):
    df = _docs(spark, sf_dir)
    return (
        df.groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
        )
    )


DOC_STATS_SQL = """
SELECT lang, source, count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       min(n_chars) AS min_chars, max(n_chars) AS max_chars
FROM documents GROUP BY lang, source
"""


def text_length_percentiles(spark, sf_dir):
    """Per-source document-length percentiles — the threshold statistics a
    curation pipeline gates on (drop below-p50, cap at p90). Spark's exact
    ``percentile`` uses the same linear interpolation as DuckDB's
    ``quantile_cont``, so the values hash-match bit-exactly; micro-int
    canonicalization guards the comparison anyway."""
    df = _docs(spark, sf_dir)
    ln = F.length("text").cast("double")
    return df.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.percentile(ln, F.lit(0.5)) * 1e6).cast("bigint").alias("p50_len_u"),
        F.round(F.percentile(ln, F.lit(0.9)) * 1e6).cast("bigint").alias("p90_len_u"),
    )


TEXT_PCTL_SQL = """
SELECT source, count(*) AS n_docs,
       CAST(round(quantile_cont(CAST(length(text) AS DOUBLE), 0.5) * 1e6) AS BIGINT) AS p50_len_u,
       CAST(round(quantile_cont(CAST(length(text) AS DOUBLE), 0.9) * 1e6) AS BIGINT) AS p90_len_u
FROM documents GROUP BY source
"""



# ---- sequence packing (training-batch assembly) ----

def text_pack_sequences(spark, sf_dir, budget: int = 4096):
    """Greedy sequence packing: assign documents to fixed-token-budget
    packs for training-batch assembly. Deterministic doc order within each
    source; a document whose running START offset crosses a budget
    boundary opens the next pack.

    Scale shape: ONE window partitioned by source (shards pack
    independently — exactly how a real pipeline shards packing), running
    cumsum, then a hash-agg per (source, pack). No global window, no
    single-partition funnel."""
    from ..functions.curation import pack_sequences

    docs = _docs(spark, sf_dir)
    toks = docs.select("doc_id", "source", tx.token_count(F.col("text")).alias("n_tok"))
    packed = pack_sequences(toks, "source", F.col("doc_id"), "n_tok", budget)
    return packed.groupBy("source", "pack_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").alias("n_tokens"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


TEXT_PACK_SQL = r"""
WITH toks AS (
  SELECT doc_id, source,
         CAST(len(list_filter(regexp_split_to_array(trim(text), '\s+'), t -> t != '')) AS BIGINT) AS n_tok
  FROM documents
), packed AS (
  SELECT doc_id, source, n_tok,
         sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok AS start
  FROM toks
)
SELECT source, CAST(floor(start / 4096) AS BIGINT) AS pack_id,
       count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens,
       min(doc_id) AS first_doc, max(doc_id) AS last_doc
FROM packed GROUP BY 1, 2
"""


# ---- PII redaction ----

_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_LONGNUM_RE = "[0-9]{7,}"


def text_pii_redact(spark, sf_dir):
    """PII scrubbing pass: replace emails and long digit runs with typed
    placeholder tokens; emit per-doc match counts and the md5 of the
    redacted text (proves byte-exact replacement against the oracle).
    Pure row-local regexp expressions — zero shuffle, scans linearly."""
    docs = _docs(spark, sf_dir)
    red = F.regexp_replace(
        F.regexp_replace(F.col("text"), _EMAIL_RE, "<EMAIL>"),
        _LONGNUM_RE,
        "<NUM>",
    )
    return docs.select(
        "doc_id",
        F.regexp_count(F.col("text"), F.lit(_EMAIL_RE)).cast("bigint").alias("n_emails"),
        F.regexp_count(F.col("text"), F.lit(_LONGNUM_RE)).cast("bigint").alias("n_longnums"),
        F.md5(red).alias("redacted_md5"),
    )


TEXT_PII_SQL = r"""
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(text, '[0-9]{7,}')) AS BIGINT) AS n_longnums,
       md5(regexp_replace(regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'), '[0-9]{7,}', '<NUM>', 'g')) AS redacted_md5
FROM documents
"""


QUERIES = {
    "str_case_len": str_case_len,
    "str_search": str_search,
    "str_split_join": str_split_join,
    "str_replace": str_replace,
    "str_pad_trim": str_pad_trim,
    "str_predicates": str_predicates,
    "text_token_stats": text_token_stats,
    "text_length_percentiles": text_length_percentiles,
    "text_quality": text_quality,
    "text_langid": text_langid,
    "text_fingerprint": text_fingerprint,
    "text_rolling_hashes": text_rolling_hashes,
    "text_repetition": text_repetition,
    "text_winnowing": text_winnowing,
    "quota_sampling": quota_sampling,
    "doc_stats_by_source": doc_stats_by_source,
    "text_pack_sequences": text_pack_sequences,
    "text_pii_redact": text_pii_redact,
}

ORACLES = {
    "str_case_len": STR_CASE_SQL,
    "str_search": STR_SEARCH_SQL,
    "str_split_join": STR_SPLIT_SQL,
    "str_replace": STR_REPLACE_SQL,
    "str_pad_trim": STR_PAD_SQL,
    "str_predicates": STR_PRED_SQL,
    "text_token_stats": TEXT_TOKEN_SQL,
    "text_length_percentiles": TEXT_PCTL_SQL,
    "text_quality": TEXT_QUALITY_SQL,
    "text_langid": TEXT_LANGID_SQL,
    "text_fingerprint": TEXT_FP_SQL,
    "text_rolling_hashes": TEXT_ROLLING_SQL,
    "text_repetition": TEXT_REPETITION_SQL,
    "text_winnowing": TEXT_WINNOW_SQL,
    "quota_sampling": QUOTA_SAMPLING_SQL,
    "doc_stats_by_source": DOC_STATS_SQL,
    "text_pack_sequences": TEXT_PACK_SQL,
    "text_pii_redact": TEXT_PII_SQL,
}


# ---- benchmark-contamination detection (train/test n-gram overlap) ----

def text_contamination(spark, sf_dir):
    """Flag training docs contaminated by a benchmark set: fraction of a
    doc's distinct 3-gram shingles that appear in ANY benchmark doc
    (industry-standard n-gram-overlap decontamination; 13-grams at prod
    scale, 3 here so the tiny corpus overlaps). The "benchmark" is the
    deterministic doc_id % 97 == 0 slice.

    Scale shape: the benchmark shingle set is DISTINCT and broadcast (a
    benchmark is always tiny next to the corpus); the corpus explodes
    (doc_id, shingle) once and the overlap count is one hash aggregate —
    no doc-pair joins anywhere, cost linear in corpus shingles."""
    
    from ..functions.curation import contamination

    # load_table_hot: the md5-shingle pass is CPU-bound and the documents
    # file is a single unsplittable row group locally (see session.read_hot)
    docs = load_table_hot(spark, sf_dir, "documents")
    scored = contamination(
        corpus=docs.filter(F.col("doc_id") % 97 != 0),
        benchmark=docs.filter(F.col("doc_id") % 97 == 0),
        text_col="text",
        id_col="doc_id",
        k=3,
        # default dirty-only mode: the cheap inner-join path (clean rows
        # would be dropped by the frac_micro filter below anyway;
        # include_clean=True is the explicit full-population opt-in)
    )
    # exact-integer overlap fraction so the DuckDB oracle hashes identically
    return scored.select(
        "doc_id",
        "n_sh",
        "n_shared",
        F.round(F.col("n_shared") * 1e6 / F.col("n_sh")).cast("bigint").alias("frac_micro"),
    ).filter(F.col("frac_micro") >= 100000)


TEXT_CONTAMINATION_SQL = r"""
WITH tokl AS (
  SELECT doc_id, list_filter(regexp_split_to_array(trim(lower(text)), '\s+'), t -> t != '') AS toks
  FROM documents
), sh AS (
  SELECT doc_id, list_distinct(
    CASE WHEN len(toks) >= 3
         THEN list_transform(range(0, len(toks) - 2), i -> md5(array_to_string(toks[i+1:i+3], ' ')))
         ELSE [] END) AS sh
  FROM tokl
), bset AS (
  SELECT DISTINCT unnest(sh) AS g FROM sh WHERE doc_id % 97 = 0
), corp AS (
  SELECT doc_id, len(sh) AS n_sh, unnest(sh) AS g FROM sh
  WHERE doc_id % 97 != 0 AND len(sh) > 0
)
SELECT c.doc_id, CAST(c.n_sh AS BIGINT) AS n_sh,
       count(*) AS n_shared,
       CAST(round(count(*) * 1e6 / c.n_sh) AS BIGINT) AS frac_micro
FROM corp c JOIN bset b ON c.g = b.g
GROUP BY c.doc_id, c.n_sh
HAVING CAST(round(count(*) * 1e6 / c.n_sh) AS BIGINT) >= 100000
"""


QUERIES.update({"text_contamination": text_contamination})
ORACLES.update({"text_contamination": TEXT_CONTAMINATION_SQL})


def lang_temperature_mix(spark, sf_dir):
    """Temperature-reweighted language mixing (round 10 — the XLM-R
    multilingual-sampling idiom): resample language l proportionally to
    ``n_l^(1/2)``, flattening English's head so low-resource languages
    keep presence, targeting half the corpus. Fully deterministic AND
    cross-engine-exact: T=2 weights are ``floor(sqrt(n_l))`` (IEEE sqrt
    is correctly rounded, so quota arithmetic is pure integers), and
    each language keeps its quota of LOWEST-md5 docs (id tiebreak) via
    one per-language window — no RNG, no global sort, no unpartitioned
    window. The oracle twin reruns the identical integer math."""
    from ..functions.curation import temperature_mix

    df = _docs(spark, sf_dir)
    total = df.count() // 2
    return (
        temperature_mix(df, "lang", F.col("doc_id"), total, temperature=2.0)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("n_chars").alias("kept_chars"),
            F.min("doc_id").alias("min_id"),
        )
    )


LANG_TEMPERATURE_MIX_SQL = """
WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
z AS (SELECT SUM(CAST(floor(sqrt(n)) AS BIGINT)) AS zz,
             (SELECT count(*) FROM documents) // 2 AS total FROM c),
q AS (SELECT c.lang,
             (CAST(floor(sqrt(c.n)) AS BIGINT) * z.total) // z.zz AS quota
      FROM c, z),
ranked AS (
  SELECT d.lang, d.doc_id, d.n_chars,
         row_number() OVER (
           PARTITION BY d.lang
           ORDER BY substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8), d.doc_id
         ) AS rk
  FROM documents d
)
SELECT r.lang, count(*) AS n_kept,
       CAST(sum(r.n_chars) AS BIGINT) AS kept_chars,
       min(r.doc_id) AS min_id
FROM ranked r JOIN q ON r.lang = q.lang
WHERE r.rk <= q.quota
GROUP BY r.lang
"""

QUERIES.update({"lang_temperature_mix": lang_temperature_mix})
ORACLES.update({"lang_temperature_mix": LANG_TEMPERATURE_MIX_SQL})
