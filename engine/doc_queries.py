"""Training-data-pipeline queries over documents/embeddings, each with
a DuckDB oracle: dedup (exact / MinHash-LSH / SimHash), similarity
search (brute-force + sign-LSH ANN), text analysis (language-ID,
quality scoring, token counting, fingerprinting), multimodal metadata.

Oracle-parity conventions (same as engine/queries.py): UTC session,
floats rounded identically in both engines, all rankings fully
tie-broken, md5 hex strings as the only hash primitive (portable).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from engine.functions import docs as D
from engine.operators import dedup as DD
from engine.operators import similarity as SIM
from engine.queries import _t

_BPE_SQL = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"
_NORM_SQL = r"lower(trim(regexp_replace(text, '\s+', ' ', 'g')))"
_TOKS_SQL = r"string_split_regex(trim(text), '\s+')"


def _heavy(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read for compute-heavy per-row queries, repartitioning ONLY when
    the scan is under-parallel: the test tables are single parquet
    files — one scan task would run all the per-row md5/regex work
    serially — but at real scale the input has many splits and a blind
    repartition would add a full extra shuffle of the text for
    nothing."""
    df = _t(spark, sf_dir, name)
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    if df.rdd.getNumPartitions() < max(2, n_part // 2):
        df = df.repartition(n_part)
    return df


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------

def q_doc_token_stats(spark, sf_dir):
    """Token counting: whitespace tokens + BPE-ish regex tokens."""
    d = _heavy(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        D.n_tokens_ws(F.col("text")).alias("n_tokens_ws"),
        D.n_tokens_bpe(F.col("text")).alias("n_tokens_bpe"),
        F.length("text").alias("n_chars_engine"),
    )


SQL_DOC_TOKEN_STATS = f"""
SELECT doc_id,
       CASE WHEN trim(text) = '' THEN 0 ELSE len({_TOKS_SQL}) END AS n_tokens_ws,
       len(regexp_extract_all(text, '{_BPE_SQL}')) AS n_tokens_bpe,
       length(text) AS n_chars_engine
FROM documents
"""


def q_doc_quality(spark, sf_dir):
    """Quality scoring: punct/stopword ratios, mean word length,
    composite score + 3-way class bin (P11 analog)."""
    from engine.operators.core import bin_threshold

    d = _heavy(spark, sf_dir, "documents")
    # materialize each component once; the composite score is built
    # from the materialized columns (inlining D.quality_score would
    # re-tokenize the text per component)
    d = (
        d.withColumn("_punct", D.punct_ratio(F.col("text")))
        .withColumn("_sw", D.stopword_ratio(F.col("text")))
        .withColumn("_mwl", D.mean_word_len(F.col("text")))
        .withColumn("_nt", D.n_tokens_ws(F.col("text")))
    )
    score = (
        # coalesce: NULL text is zero-length, not full length credit
        # (F.least skips nulls — see functions/docs.quality_score)
        0.4 * F.least(F.coalesce(F.col("_nt"), F.lit(0)) / F.lit(100.0), F.lit(1.0))
        + 0.3 * (F.lit(1.0) - F.least(F.col("_punct"), F.lit(1.0)))
        + 0.3 * F.least(F.col("_sw") * 5.0, F.lit(1.0))
    )
    return d.select(
        "doc_id",
        F.round("_punct", 6).alias("punct_ratio"),
        F.round("_sw", 6).alias("stopword_ratio"),
        F.round("_mwl", 6).alias("mean_word_len"),
        F.round(score, 6).alias("quality"),
        bin_threshold(score, 0.7, 0.5, ("high", "medium", "low")).alias(
            "quality_class"
        ),
    )


_SW = "', '".join(D.QUALITY_STOPWORDS)
SQL_DOC_QUALITY = f"""
WITH b AS (
  SELECT doc_id,
         trim(text) = '' AS blank,
         length(text) AS n,
         length(text) - length(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g')) AS n_punct,
         length(text) - length(regexp_replace(text, '\\s', '', 'g')) AS n_space,
         {_TOKS_SQL} AS toks,
         string_split_regex(trim(lower(text)), '\\s+') AS ltoks
  FROM documents
), r AS (
  SELECT doc_id,
         CASE WHEN n > 0 THEN n_punct / (n - n_space + 1e-12) ELSE 0.0 END AS punct_ratio,
         CASE WHEN len(ltoks) > 0
              THEN len(list_filter(ltoks, t -> list_contains(['{_SW}'], t))) / CAST(len(ltoks) AS DOUBLE)
              ELSE 0.0 END AS stopword_ratio,
         CASE WHEN len(toks) > 0
              THEN CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE) / len(toks)
              ELSE 0.0 END AS mean_word_len,
         -- blank guard: string_split_regex('', ..) yields [''] (len 1)
         -- in DuckDB while the engine's n_tokens_ws returns 0;
         -- COALESCE: NULL text is zero-length in both engines
         COALESCE(CASE WHEN blank THEN 0 ELSE len(toks) END, 0) AS n_toks
  FROM b
), s AS (
  SELECT doc_id, punct_ratio, stopword_ratio, mean_word_len,
         0.4 * least(n_toks / 100.0, 1.0)
       + 0.3 * (1.0 - least(punct_ratio, 1.0))
       + 0.3 * least(stopword_ratio * 5.0, 1.0) AS quality
  FROM r
)
SELECT doc_id,
       ROUND(punct_ratio, 6) AS punct_ratio,
       ROUND(stopword_ratio, 6) AS stopword_ratio,
       ROUND(mean_word_len, 6) AS mean_word_len,
       ROUND(quality, 6) AS quality,
       CASE WHEN quality >= 0.7 THEN 'high'
            WHEN quality > 0.5 THEN 'medium'
            ELSE 'low' END AS quality_class
FROM s
"""


def q_doc_langid(spark, sf_dir):
    """Stopword-marker language-ID heuristic + per-language hit counts."""
    d = _heavy(spark, sf_dir, "documents")
    cols = [F.col("doc_id")]
    for lang, score in D.langid_scores(F.col("text")):
        cols.append(score.alias(f"{lang}_hits"))
    cols.append(D.langid_predict(F.col("text")).alias("pred_lang"))
    return d.select(*cols)


def _lang_hits_sql(lang: str) -> str:
    markers = "', '".join(D.LANG_MARKERS[lang])
    return (
        f"len(list_filter(string_split_regex(trim(lower(text)), '\\s+'), "
        f"t -> list_contains(['{markers}'], t)))"
    )


SQL_DOC_LANGID = f"""
WITH h AS (
  SELECT doc_id,
         {_lang_hits_sql('de')} AS de_hits,
         {_lang_hits_sql('en')} AS en_hits,
         {_lang_hits_sql('es')} AS es_hits,
         {_lang_hits_sql('fr')} AS fr_hits
  FROM documents
)
SELECT doc_id, de_hits, en_hits, es_hits, fr_hits,
       -- COALESCE: NULL text gives NULL hit counts, which fell through
       -- every WHEN to the ELSE branch ('fr') while the engine says 'und'
       CASE WHEN COALESCE(greatest(de_hits, en_hits, es_hits, fr_hits), 0) = 0
              THEN 'und'
            WHEN de_hits = greatest(de_hits, en_hits, es_hits, fr_hits) THEN 'de'
            WHEN en_hits = greatest(de_hits, en_hits, es_hits, fr_hits) THEN 'en'
            WHEN es_hits = greatest(de_hits, en_hits, es_hits, fr_hits) THEN 'es'
            ELSE 'fr' END AS pred_lang
FROM h
"""


def q_doc_fingerprint(spark, sf_dir):
    """Document fingerprinting: exact (md5 of normalized text) and
    rolling-hash (min over 8-char window hashes)."""
    d = _heavy(spark, sf_dir, "documents")
    return (
        d.withColumn("_norm", D.normalize_text(F.col("text")))
        .select(
            "doc_id",
            F.md5("_norm").alias("fp_exact"),
            D.rolling_fingerprint_over_norm("_norm", k=8).alias("fp_rolling"),
        )
    )


SQL_DOC_FINGERPRINT = f"""
SELECT doc_id,
       md5({_NORM_SQL}) AS fp_exact,
       CASE WHEN length({_NORM_SQL}) >= 8 THEN
         list_min(list_transform(range(1, length({_NORM_SQL}) - 6),
                  i -> md5(substr({_NORM_SQL}, CAST(i AS INT), 8))))
       END AS fp_rolling
FROM documents
"""


def q_doc_regex_extract(spark, sf_dir):
    """Regex extraction family (SURVEY §2.8 X8/X9/X10): first-group
    extract, find-all count, and markdown-ish strip-chain."""
    d = _heavy(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.regexp_extract("text", r"\b(s\w+)\b", 1).alias("first_s_word"),
        F.size(F.regexp_extract_all("text", F.lit(r"\b\w*a\w*\b"), F.lit(0))).alias(
            "n_a_words"
        ),
        F.trim(
            F.regexp_replace(
                F.regexp_replace("text", r"\b(the|a|of)\b", ""), r"\s+", " "
            )
        ).alias("stripped"),
    )


SQL_DOC_REGEX_EXTRACT = r"""
SELECT doc_id,
       -- NULL text → NULL (Spark regexp_extract semantics); the
       -- coalesce only papers over DuckDB's NULL-on-no-match
       CASE WHEN text IS NULL THEN NULL
            ELSE coalesce(regexp_extract(text, '\b(s\w+)\b', 1), '') END
         AS first_s_word,
       len(regexp_extract_all(text, '\b\w*a\w*\b')) AS n_a_words,
       trim(regexp_replace(regexp_replace(text, '\b(the|a|of)\b', '', 'g'),
                           '\s+', ' ', 'g')) AS stripped
FROM documents
"""


def q_doc_pii_redact(spark, sf_dir):
    """PII scrub — the standard pre-release redaction pass of a
    training-data pipeline (emails / dashed phone numbers / IPv4,
    Presidio-style regex recognizers): per-doc match counts plus the
    redacted text with typed placeholders.

    The synthetic corpus contains no natural PII, so (a 0-vs-0 row
    check proves nothing) the query PLANTS it deterministically in BOTH
    engines: docs with doc_id % 11 == 0 get an email appended,
    % 13 == 0 a phone, % 17 == 0 an IP — all derived from doc_id
    alone, byte-identical in Spark and the oracle, and overlapping
    (e.g. doc_id % 143 == 0 carries email+phone) so multi-class
    docs are covered.

    Scale shape: a narrow JVM-side projection — no UDF, no shuffle,
    no join; text is read once, counted, rewritten. At 100 TB this
    is scan-bound, exactly what a scrub pass should be."""
    d = _heavy(spark, sf_dir, "documents")
    did = F.col("doc_id")
    planted = F.concat(
        F.coalesce(F.col("text"), F.lit("")),
        F.when(
            did % 11 == 0,
            F.concat(F.lit(" Contact u"), did.cast("string"),
                     F.lit("@example.com today.")),
        ).otherwise(F.lit("")),
        F.when(
            did % 13 == 0,
            F.concat(F.lit(" Call 555-201-"),
                     F.lpad((did % 10000).cast("string"), 4, "0"),
                     F.lit(" now.")),
        ).otherwise(F.lit("")),
        F.when(
            did % 17 == 0,
            F.concat(F.lit(" Seen at 10."), (did % 256).cast("string"),
                     F.lit("."), (did % 199).cast("string"),
                     F.lit(".9 last.")),
        ).otherwise(F.lit("")),
    )
    d = d.withColumn("_pt", planted)
    counts = [
        c.alias(f"n_{kind}") for kind, c in D.pii_counts(F.col("_pt"))
    ]
    return d.select(
        "doc_id", *counts, D.pii_redact(F.col("_pt")).alias("redacted")
    )


SQL_DOC_PII_REDACT = r"""
WITH p AS (
  SELECT doc_id,
         coalesce(text, '')
         || CASE WHEN doc_id % 11 = 0
                 THEN ' Contact u' || CAST(doc_id AS VARCHAR) || '@example.com today.'
                 ELSE '' END
         || CASE WHEN doc_id % 13 = 0
                 THEN ' Call 555-201-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' now.'
                 ELSE '' END
         || CASE WHEN doc_id % 17 = 0
                 THEN ' Seen at 10.' || CAST(doc_id % 256 AS VARCHAR) || '.' || CAST(doc_id % 199 AS VARCHAR) || '.9 last.'
                 ELSE '' END AS pt
  FROM documents
)
SELECT doc_id,
       len(regexp_extract_all(pt, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
       len(regexp_extract_all(pt, '\b\d{3}-\d{3}-\d{4}\b')) AS n_phones,
       len(regexp_extract_all(pt, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS n_ips,
       regexp_replace(
         regexp_replace(
           regexp_replace(pt, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
           '\b\d{3}-\d{3}-\d{4}\b', '[PHONE]', 'g'),
         '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '[IP]', 'g') AS redacted
FROM p
"""


def q_doc_tfidf_topk(spark, sf_dir):
    """Per-document top-3 TF-IDF keywords (keyword extraction — the
    corpus-statistics sibling of the per-doc token counts).

    tf = token count within the doc (lowercased whitespace tokens);
    idf = ln((N + 1) / (df + 1)), smoothed; rank per doc by
    (score desc, token asc), k = 3.

    Scale shape: ONE pass — hash-agg to (doc, term) counts, document
    frequency as count().over(partitionBy(term)) on that same relation
    (one shuffle on term, no self-join / no recomputed explode:
    measured 7.5 s → ~2 s at sf0.1 vs the agg+join formulation),
    corpus size N attached via a broadcast cross-join of a 1-row
    aggregate — no collect, no Python."""
    from pyspark.sql import Window

    from engine.functions.docs import ws_tokens

    d = _heavy(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(ws_tokens(F.lower(F.col("text")))).alias("tok")
    ).filter(F.col("tok") != "")
    tf = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    dfq = F.count(F.lit(1)).over(Window.partitionBy("tok"))
    n = d.select(F.count_distinct("doc_id").alias("n_docs"))
    scored = (
        tf.withColumn("dfq", dfq)
        .crossJoin(F.broadcast(n))
        .withColumn(
            "tfidf",
            F.col("tf").cast("double")
            * F.log((F.col("n_docs") + 1.0) / (F.col("dfq") + 1.0)),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("tok").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("doc_id", "tok", F.round("tfidf", 6).alias("tfidf"), "rank")
    )


SQL_DOC_TFIDF_TOPK = r"""
WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
  FROM documents WHERE trim(text) <> ''
), tf AS (
  SELECT doc_id, tok, COUNT(*) AS tf
  FROM toks WHERE tok <> '' GROUP BY doc_id, tok
), dfreq AS (
  SELECT tok, COUNT(*) AS dfq FROM tf GROUP BY tok
), n AS (
  SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents
), scored AS (
  SELECT tf.doc_id, tf.tok,
         CAST(tf.tf AS DOUBLE) * ln((n.n_docs + 1.0) / (dfreq.dfq + 1.0)) AS tfidf
  FROM tf JOIN dfreq USING (tok) CROSS JOIN n
), r AS (
  SELECT doc_id, tok, tfidf,
         CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
              ORDER BY tfidf DESC, tok ASC) AS INT) AS rank
  FROM scored
)
SELECT doc_id, tok, ROUND(tfidf, 6) AS tfidf, rank FROM r WHERE rank <= 3
"""


def q_doc_enrich_join(spark, sf_dir):
    """Enrichment-source join — the reference's scrape-then-enrich
    pattern (dribbble_extractor.py:11-63: extract a key from the item,
    look it up in a secondary source, attach typed enrichment):
    regex-extract the first word of each doc, broadcast-join a small
    enrichment dimension (language markers -> language), attach the
    tag. Classic small-dim broadcast: the corpus never shuffles."""
    d = _t(spark, sf_dir, "documents")
    dim_rows = [
        (w, lang) for lang, ws in sorted(D.LANG_MARKERS.items()) for w in ws
    ]
    dim = d.sparkSession.createDataFrame(dim_rows, "word string, enrich_lang string")
    keyed = d.select(
        "doc_id",
        F.regexp_extract(F.lower("text"), r"\b([a-z]+)\b", 1).alias("first_word"),
    )
    return keyed.join(
        F.broadcast(dim), keyed.first_word == dim.word, "left"
    ).select("doc_id", "first_word", "enrich_lang")


_DIM_VALUES = ", ".join(
    f"('{w}', '{lang}')"
    for lang, ws in sorted(D.LANG_MARKERS.items())
    for w in ws
)
SQL_DOC_ENRICH_JOIN = f"""
WITH dim(word, enrich_lang) AS (VALUES {_DIM_VALUES}),
keyed AS (
  SELECT doc_id,
         CASE WHEN text IS NULL THEN NULL
              ELSE coalesce(regexp_extract(lower(text), '\\b([a-z]+)\\b', 1), '') END
           AS first_word
  FROM documents
)
SELECT k.doc_id, k.first_word, d.enrich_lang
FROM keyed k LEFT JOIN dim d ON k.first_word = d.word
"""


def q_topk_padded(spark, sf_dir):
    """Per-entity top-k as a fixed-arity list (W6 slice + W7 pad):
    top-3 event types by count, padded by repeating the last element —
    the reference's accent-palette contract (color_extractor.py:261-269)."""
    from engine.operators.core import topk_by_count

    ev = _t(spark, sf_dir, "events")
    ranked = topk_by_count(ev, "user_id", "event_type", 3)
    arr = (
        ranked.groupBy("user_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("rank", "event_type"))
            ).alias("_ranked")
        )
        .select(
            "user_id",
            F.transform("_ranked", lambda x: x.event_type).alias("_top"),
        )
    )
    padded = F.when(F.size("_top") == 0, F.col("_top")).otherwise(
        F.slice(
            F.concat(
                F.col("_top"),
                F.array_repeat(F.element_at("_top", -1), 3),
            ),
            1,
            3,
        )
    )
    return arr.select(
        "user_id", F.array_join(padded, ",").alias("top3_padded")
    )


SQL_TOPK_PADDED = """
WITH c AS (
  SELECT user_id, event_type, COUNT(*) AS cnt
  FROM events GROUP BY user_id, event_type
), r AS (
  SELECT user_id, event_type,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY cnt DESC, event_type ASC) AS rnk
  FROM c
), arr AS (
  SELECT user_id, list(event_type ORDER BY rnk) AS top
  FROM r WHERE rnk <= 3 GROUP BY user_id
)
SELECT user_id,
       array_to_string(CASE WHEN len(top) = 0 THEN top
            ELSE (top || [top[-1], top[-1], top[-1]])[1:3] END, ',') AS top3_padded
FROM arr
"""


# ---------------------------------------------------------------------------
# Deduplication
# ---------------------------------------------------------------------------

def q_doc_split_assign(spark, sf_dir):
    """Deterministic stratified train/val/test assignment — the split a
    training pipeline must reproduce bit-identically across engines and
    re-runs (so rand()/sampleBy are out): the split key is the md5 of
    (source '#' doc_id), its first 8 hex chars as a uniform fraction in
    [0,1); train < 0.8 <= val < 0.9 <= test. Stratification comes free:
    hashing is uniform WITHIN each source by construction. Narrow
    per-row projection + one count aggregate per (source, split)."""
    d = _t(spark, sf_dir, "documents")
    frac = (
        F.conv(F.substring(F.md5(F.concat_ws("#", "source", "doc_id")), 1, 8), 16, 10)
        .cast("double")
        / F.lit(float(1 << 32))
    )
    split = (
        F.when(frac < 0.8, "train").when(frac < 0.9, "val").otherwise("test")
    )
    return (
        d.select("source", split.alias("split"))
        .groupBy("source", "split")
        .agg(F.count(F.lit(1)).alias("n"))
    )


SQL_DOC_SPLIT_ASSIGN = """
WITH a AS (
  SELECT source,
         CAST(CAST('0x' || substr(md5(source || '#' || CAST(doc_id AS VARCHAR)), 1, 8)
              AS UBIGINT) AS DOUBLE) / 4294967296.0 AS frac
  FROM documents
)
SELECT source,
       CASE WHEN frac < 0.8 THEN 'train'
            WHEN frac < 0.9 THEN 'val'
            ELSE 'test' END AS split,
       COUNT(*) AS n
FROM a GROUP BY 1, 2
"""


def q_dedup_exact(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return DD.exact_dedup_groups(d)


SQL_DEDUP_EXACT = f"""
SELECT md5({_NORM_SQL}) AS fingerprint,
       MIN(doc_id) AS canonical_id,
       COUNT(*) AS n_dups
FROM documents GROUP BY 1
"""


def q_dedup_minhash_sig(spark, sf_dir):
    """Per-doc MinHash signature (8 hashes over word 3-gram shingles)."""
    d = _heavy(spark, sf_dir, "documents")
    sigs = DD.minhash_signature(d, num_hashes=8, shingle_n=3)
    return sigs.select("doc_id", *[f"sig_{h}" for h in range(8)])


_SHINGLES_SQL = (
    f"list_distinct(list_transform(range(1, len({_TOKS_SQL}) - 1), "
    f"i -> array_to_string(({_TOKS_SQL})[CAST(i AS INT):CAST(i AS INT)+2], ' ')))"
)


def _sig_sql(h: int) -> str:
    return f"list_min(list_transform(shingles, s -> md5(s || '#{h}')))"


SQL_DEDUP_MINHASH_SIG = f"""
WITH s AS (
  SELECT doc_id, {_SHINGLES_SQL} AS shingles
  FROM documents
  WHERE len({_TOKS_SQL}) >= 3
)
SELECT doc_id,
       {', '.join(f'{_sig_sql(h)} AS sig_{h}' for h in range(8))}
FROM s WHERE len(shingles) > 0
"""


def q_dedup_near_pairs(spark, sf_dir):
    """MinHash-LSH near-dup pairs, Jaccard-verified at 0.2."""
    d = _heavy(spark, sf_dir, "documents")
    return DD.verified_near_dups(d, num_hashes=8, bands=4, threshold=0.2)


SQL_DEDUP_NEAR_PAIRS = f"""
WITH s AS (
  SELECT doc_id, {_SHINGLES_SQL} AS shingles
  FROM documents WHERE len({_TOKS_SQL}) >= 3
), sg AS (
  SELECT doc_id, shingles,
         {', '.join(f'{_sig_sql(h)} AS sig_{h}' for h in range(8))}
  FROM s WHERE len(shingles) > 0
), b AS (
  SELECT doc_id, band_idx,
         CASE band_idx WHEN 0 THEN md5(sig_0 || sig_1)
                       WHEN 1 THEN md5(sig_2 || sig_3)
                       WHEN 2 THEN md5(sig_4 || sig_5)
                       ELSE md5(sig_6 || sig_7) END AS band_key
  FROM sg, unnest([0, 1, 2, 3]) AS u(band_idx)
), pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b
  FROM b a JOIN b b2
    ON a.band_idx = b2.band_idx AND a.band_key = b2.band_key
   AND a.doc_id < b2.doc_id
)
SELECT p.id_a, p.id_b,
       ROUND(len(list_intersect(sa.shingles, sb.shingles))
             / CAST(len(list_distinct(sa.shingles || sb.shingles)) AS DOUBLE), 6)
         AS jaccard
FROM pairs p
JOIN sg sa ON sa.doc_id = p.id_a
JOIN sg sb ON sb.doc_id = p.id_b
WHERE len(list_intersect(sa.shingles, sb.shingles))
      / CAST(len(list_distinct(sa.shingles || sb.shingles)) AS DOUBLE) >= 0.2
"""


def q_dedup_clusters(spark, sf_dir):
    """Near-duplicate CLUSTERS: MinHash-LSH verified pairs → connected
    components (large-star/small-star contraction to a fixpoint). The
    oracle unrolls 4 min-label propagation rounds in SQL — the sf0.01
    pair graph is tiny cliques (diameter 1, measured), so 4 rounds is a
    4x margin; the Spark side iterates to the true fixpoint regardless."""
    d = _heavy(spark, sf_dir, "documents")
    # the component loop runs actions (per-round fixpoint checks +
    # localCheckpoint), so the work executes when this is CALLED
    return DD.near_dup_clusters(d, threshold=0.2)


def _cc_step(k: int) -> str:
    return (
        f"l{k} AS (SELECT v.id AS id, "
        f"LEAST(v.lab, COALESCE(MIN(n.lab), v.lab)) AS lab "
        f"FROM l{k - 1} v LEFT JOIN edges e ON e.src = v.id "
        f"LEFT JOIN l{k - 1} n ON n.id = e.dst "
        f"GROUP BY v.id, v.lab)"
    )


SQL_DEDUP_CLUSTERS = f"""
WITH p AS ({SQL_DEDUP_NEAR_PAIRS}),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM p
  UNION ALL
  SELECT id_b AS src, id_a AS dst FROM p
),
l0 AS (SELECT doc_id AS id, doc_id AS lab FROM documents),
{', '.join(_cc_step(k) for k in range(1, 5))}
SELECT id AS doc_id, lab AS cluster_id FROM l4
"""


def q_dedup_apply(spark, sf_dir):
    """The dedup DECISION actually executed by a training pipeline:
    keep exactly one document per near-dup cluster (the min-id
    canonical), i.e. the deduped corpus manifest. Composition of
    near_dup_clusters + a filter — at scale this is the keep-list
    joined back to the corpus (broadcast when clusters ≪ corpus)."""
    d = _heavy(spark, sf_dir, "documents")
    clusters = DD.near_dup_clusters(d, threshold=0.2)
    return (
        clusters.filter(F.col("doc_id") == F.col("cluster_id"))
        .select("doc_id")
        .join(d.select("doc_id", "source", "n_chars"), "doc_id")
    )


SQL_DEDUP_APPLY = f"""
WITH cc AS ({SQL_DEDUP_CLUSTERS})
SELECT d.doc_id, d.source, d.n_chars
FROM cc JOIN documents d ON d.doc_id = cc.doc_id
WHERE cc.doc_id = cc.cluster_id
"""


def q_dedup_incremental_keep(spark, sf_dir):
    """Incremental dedup, DRIVER-CHECKED end-to-end: split the corpus
    into two epochs by doc_id parity, ingest them through
    `ingest_dedup_increment` into a fresh throwaway TableIO warehouse
    (signatures persisted after epoch 1; epoch 2's candidates checked
    against that committed state; affected clusters re-labeled), and
    return the final keep-list. The oracle is the PURE-SQL batch
    clustering (same MinHash/LSH params, threshold 0.2) reduced to its
    min-id representatives — so the driver row verifies the
    incremental engine's exact batch-parity claim on the real corpus,
    not just on crafted unit fixtures. One DETERMINISTIC scratch dir,
    cleared on entry (a fresh mkdtemp per invocation would leak a full
    corpus copy into /tmp on every gate/bench rerun); it
    cannot be removed on exit because the returned keep-list plan reads
    from it lazily. (The epoch ingests run at plan-BUILD time — the
    timed materialization is the keep-list read.)"""
    import os
    import shutil
    import tempfile

    from engine.operators.dedup_incremental import (
        dedup_keep_list,
        ingest_dedup_increment,
    )
    from engine.tableio import TableIO

    d = _heavy(spark, sf_dir, "documents").select("doc_id", "text")
    scratch = os.path.join(tempfile.gettempdir(), "dedup_inc_gate_scratch")
    shutil.rmtree(scratch, ignore_errors=True)
    io = TableIO(scratch)
    for i, pred in enumerate((F.col("doc_id") % 2 == 0,
                              F.col("doc_id") % 2 == 1)):
        ingest_dedup_increment(
            spark, io, d.filter(pred), f"gate-e{i}", threshold=0.2
        )
    return dedup_keep_list(spark, io)


SQL_DEDUP_INCREMENTAL_KEEP = f"""
WITH cc AS ({SQL_DEDUP_CLUSTERS})
SELECT doc_id FROM cc WHERE doc_id = cluster_id
"""


def q_dedup_simhash(spark, sf_dir):
    d = _heavy(spark, sf_dir, "documents")
    sims = DD.simhash64(d, num_chunks=1, chunk_bits=16)
    return sims.select("doc_id", F.col("sim_0").alias("simhash"))


_BITSUMS_SQL = ", ".join(
    f"SUM(CASE WHEN h IS NULL THEN 0 WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS b{j}"
    for j in range(16)
)
_SIMHASH_SQL = " + ".join(f"CASE WHEN b{j} > 0 THEN {1 << j} ELSE 0 END" for j in range(16))
SQL_DEDUP_SIMHASH = f"""
WITH toks AS (
  SELECT doc_id, unnest(list_distinct({_TOKS_SQL})) AS tok
  FROM documents
), h AS (
  SELECT doc_id,
         CASE WHEN tok <> '' THEN CAST('0x' || substr(md5(tok), 1, 4) AS INT) END AS h
  FROM toks
), agg AS (
  SELECT doc_id, {_BITSUMS_SQL}, COUNT(h) AS _n_tok
  FROM h GROUP BY doc_id
)
-- LEFT JOIN back to documents: unnest of a NULL token list drops the
-- doc from `toks` entirely, while the engine (explode_outer) keeps it
-- with simhash NULL — row counts must agree on NULL-text docs
SELECT d.doc_id,
       CAST(CASE WHEN _n_tok > 0 THEN {_SIMHASH_SQL} END AS INT) AS simhash
FROM documents d LEFT JOIN agg USING (doc_id)
"""


# ---------------------------------------------------------------------------
# Similarity search
# ---------------------------------------------------------------------------

_N_PROBES = 8
_DOT_SQL = (
    "list_reduce(list_transform(range(1, 65), "
    "i -> CAST(a.embedding[CAST(i AS INT)] AS DOUBLE)"
    " * CAST(p.embedding[CAST(i AS INT)] AS DOUBLE)), (x, y) -> x + y)"
)


def _norm_sql(alias: str) -> str:
    return (
        f"sqrt(list_reduce(list_transform(range(1, 65), "
        f"i -> CAST({alias}.embedding[CAST(i AS INT)] AS DOUBLE)"
        f" * CAST({alias}.embedding[CAST(i AS INT)] AS DOUBLE)), (x, y) -> x + y))"
    )


def q_ann_cosine_topk(spark, sf_dir):
    """Brute-force exact cosine top-5 for the first 8 vectors."""
    e = _t(spark, sf_dir, "embeddings")
    probes = e.filter(F.col("vec_id") < _N_PROBES).select(
        F.col("vec_id").alias("probe_id"), "embedding"
    )
    return SIM.brute_force_topk(e, probes, k=5)


SQL_ANN_COSINE_TOPK = f"""
WITH pairs AS (
  SELECT p.vec_id AS probe_id, a.vec_id,
         {_DOT_SQL} / ({_norm_sql('a')} * {_norm_sql('p')}) AS cos
  FROM embeddings a, embeddings p
  WHERE p.vec_id < {_N_PROBES} AND a.vec_id <> p.vec_id
), r AS (
  SELECT probe_id, vec_id, cos,
         CAST(ROW_NUMBER() OVER (PARTITION BY probe_id
              ORDER BY cos DESC, vec_id ASC) AS INT) AS rank
  FROM pairs
)
SELECT probe_id, vec_id, ROUND(cos, 6) AS cos, rank
FROM r WHERE rank <= 5
"""


def q_ann_lsh_topk(spark, sf_dir):
    """Sign-LSH bucketed ANN top-3 (the scale path: candidates share
    an 8-bit sign code; exact cosine re-ranks inside the bucket)."""
    e = _t(spark, sf_dir, "embeddings")
    probes = e.filter(F.col("vec_id") < _N_PROBES).select(
        F.col("vec_id").alias("probe_id"), "embedding"
    )
    return SIM.lsh_topk(e, probes, k=3)


_CODE_SQL = " + ".join(
    f"CASE WHEN {{a}}.embedding[{i + 1}] > 0 THEN {1 << i} ELSE 0 END" for i in range(8)
)
SQL_ANN_LSH_TOPK = f"""
WITH pairs AS (
  SELECT p.vec_id AS probe_id, a.vec_id,
         {_DOT_SQL} / ({_norm_sql('a')} * {_norm_sql('p')}) AS cos
  FROM embeddings a, embeddings p
  WHERE p.vec_id < {_N_PROBES} AND a.vec_id <> p.vec_id
    AND ({_CODE_SQL.format(a='a')}) = ({_CODE_SQL.format(a='p')})
), r AS (
  SELECT probe_id, vec_id, cos,
         CAST(ROW_NUMBER() OVER (PARTITION BY probe_id
              ORDER BY cos DESC, vec_id ASC) AS INT) AS rank
  FROM pairs
)
SELECT probe_id, vec_id, ROUND(cos, 6) AS cos, rank
FROM r WHERE rank <= 3
"""


def _label_mean_centroids(e: DataFrame) -> DataFrame:
    """(cell_id, centroid): the per-label mean embedding, components
    rounded to 6dp — the deterministic, oracle-exact IVF quantizer of
    the ann gate queries."""
    flat = e.select(
        "label", F.posexplode(F.col("embedding")).alias("pos", "v")
    ).withColumn("v", F.col("v").cast("double"))
    cmean = flat.groupBy("label", "pos").agg(F.round(F.avg("v"), 6).alias("m"))
    return (
        cmean.groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("_pm"))
        .select(
            F.col("label").alias("cell_id"),
            F.transform("_pm", lambda x: x.m).alias("centroid"),
        )
    )


def q_ann_ivf_topk(spark, sf_dir):
    """IVF ANN top-3 at nprobe=2: the trained-coarse-quantizer scale
    path, searching each probe's two nearest cells (the standard IVF
    recall knob — nprobe=1 misses true neighbors quantized across a
    cell boundary; recall-vs-brute-force measured in
    tests/test_similarity.py). Cells are the per-label mean embeddings
    (deterministic + oracle-exact; on a real corpus swap in k-means||
    centers — the plan is identical). Centroid components are rounded
    to 6dp in BOTH engines BEFORE the distance argmin so partial-
    aggregation summation order cannot flip an assignment."""
    e = _t(spark, sf_dir, "embeddings")
    probes = e.filter(F.col("vec_id") < _N_PROBES).select(
        F.col("vec_id").alias("probe_id"), "embedding"
    )
    return SIM.ivf_topk(e, probes, _label_mean_centroids(e), k=3, nprobe=2)


_D2_SQL = (
    "list_reduce(list_transform(range(1, 65), i -> "
    "(CAST({e}.embedding[CAST(i AS INT)] AS DOUBLE) - {c}.centroid[CAST(i AS INT)])"
    " * (CAST({e}.embedding[CAST(i AS INT)] AS DOUBLE) - {c}.centroid[CAST(i AS INT)])"
    "), (x, y) -> x + y)"
)
SQL_ANN_IVF_TOPK = f"""
WITH flat AS (
  SELECT label, CAST(u.i AS INT) AS pos,
         CAST(embedding[CAST(u.i AS INT)] AS DOUBLE) AS v
  FROM embeddings, unnest(range(1, 65)) AS u(i)
), cmean AS (
  SELECT label, pos, ROUND(AVG(v), 6) AS m FROM flat GROUP BY label, pos
), cent AS (
  SELECT label AS cell_id, list(m ORDER BY pos) AS centroid
  FROM cmean GROUP BY label
), c_assign AS (
  SELECT vec_id, cell_id, embedding FROM (
    SELECT e.vec_id, c.cell_id, e.embedding,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
                              ORDER BY {_D2_SQL.format(e='e', c='c')} ASC,
                                       c.cell_id ASC) AS rn
    FROM embeddings e CROSS JOIN cent c
  ) WHERE rn = 1
), p_assign AS (
  -- nprobe=2: each probe searches its two nearest cells
  SELECT vec_id AS probe_id, cell_id, embedding AS pv FROM (
    SELECT e.vec_id, c.cell_id, e.embedding,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
                              ORDER BY {_D2_SQL.format(e='e', c='c')} ASC,
                                       c.cell_id ASC) AS rn
    FROM embeddings e CROSS JOIN cent c
    WHERE e.vec_id < {_N_PROBES}
  ) WHERE rn <= 2
), pairs AS (
  SELECT p.probe_id, a.vec_id,
         list_reduce(list_transform(range(1, 65), i ->
           CAST(a.embedding[CAST(i AS INT)] AS DOUBLE)
           * CAST(p.pv[CAST(i AS INT)] AS DOUBLE)), (x, y) -> x + y)
         / (sqrt(list_reduce(list_transform(range(1, 65), i ->
              CAST(a.embedding[CAST(i AS INT)] AS DOUBLE)
              * CAST(a.embedding[CAST(i AS INT)] AS DOUBLE)), (x, y) -> x + y))
          * sqrt(list_reduce(list_transform(range(1, 65), i ->
              CAST(p.pv[CAST(i AS INT)] AS DOUBLE)
              * CAST(p.pv[CAST(i AS INT)] AS DOUBLE)), (x, y) -> x + y))) AS cos
  FROM c_assign a JOIN p_assign p USING (cell_id)
  WHERE a.vec_id <> p.probe_id
), r AS (
  SELECT probe_id, vec_id, cos,
         CAST(ROW_NUMBER() OVER (PARTITION BY probe_id
              ORDER BY cos DESC, vec_id ASC) AS INT) AS rank
  FROM pairs
)
SELECT probe_id, vec_id, ROUND(cos, 6) AS cos, rank FROM r WHERE rank <= 3
"""


def q_ann_ivf_incremental(spark, sf_dir):
    """Incremental IVF maintenance, DRIVER-CHECKED end-to-end
    (engine/operators/ann_incremental.py): ingest the embeddings in
    two epochs by vec_id parity into a throwaway warehouse — epoch 1
    trains the quantizer (here the deterministic per-label-mean
    stand-in over the epoch-1 slice, same convention as
    q_ann_ivf_topk; components rounded to 6dp in both engines), epoch
    2 is ASSIGNED against that committed snapshot (no retrain at the
    default drift factor — parity split, same distribution) — and
    return the final stored assignment. The oracle recomputes the same
    centroids and argmin in pure SQL, so the driver row verifies the
    committed state equals the batch assignment of the full corpus
    against the committed snapshot. Deterministic scratch dir cleared
    on entry (same hygiene as q_dedup_incremental_keep)."""
    import os
    import shutil
    import tempfile

    from engine.operators.ann_incremental import (
        ingest_ann_increment,
        latest_assignment,
    )
    from engine.tableio import TableIO

    e = _t(spark, sf_dir, "embeddings")

    def train_fn(_df):
        # per-label means of the EPOCH-1 slice: deterministic and
        # oracle-exact (the trainer is caller-pluggable by contract;
        # the k-means path is differentially tested in
        # tests/test_ann_incremental.py)
        return _label_mean_centroids(e.filter(F.col("vec_id") % 2 == 0))

    scratch = os.path.join(tempfile.gettempdir(), "ann_inc_gate_scratch")
    shutil.rmtree(scratch, ignore_errors=True)
    io = TableIO(scratch)
    for i, pred in enumerate(
        (F.col("vec_id") % 2 == 0, F.col("vec_id") % 2 == 1)
    ):
        ingest_ann_increment(
            spark, io, e.filter(pred), f"gate-e{i}", train_fn=train_fn
        )
    return latest_assignment(spark, io).select(
        "vec_id", "cell_id", F.round("d2", 6).alias("d2")
    )


SQL_ANN_IVF_INCREMENTAL = f"""
WITH flat AS (
  SELECT label, CAST(u.i AS INT) AS pos,
         CAST(embedding[CAST(u.i AS INT)] AS DOUBLE) AS v
  FROM embeddings, unnest(range(1, 65)) AS u(i)
  WHERE vec_id % 2 = 0
), cmean AS (
  SELECT label, pos, ROUND(AVG(v), 6) AS m FROM flat GROUP BY label, pos
), cent AS (
  SELECT label AS cell_id, list(m ORDER BY pos) AS centroid
  FROM cmean GROUP BY label
)
SELECT vec_id, cell_id, ROUND(ROUND(d2, 9), 6) AS d2 FROM (
  SELECT e.vec_id, c.cell_id,
         {_D2_SQL.format(e='e', c='c')} AS d2,
         ROW_NUMBER() OVER (PARTITION BY e.vec_id
                            ORDER BY {_D2_SQL.format(e='e', c='c')} ASC,
                                     c.cell_id ASC) AS rn
  FROM embeddings e CROSS JOIN cent c
) WHERE rn = 1
"""


def q_embed_label_stats(spark, sf_dir):
    """Per-label embedding stats: count + mean L2 norm."""
    e = _t(spark, sf_dir, "embeddings")
    return (
        e.select("label", SIM.l2_norm(F.col("embedding")).alias("_norm"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("_norm"), 6).alias("avg_norm"),
        )
    )


SQL_EMBED_LABEL_STATS = f"""
SELECT label, COUNT(*) AS n,
       ROUND(AVG({_norm_sql('embeddings')}), 6) AS avg_norm
FROM embeddings GROUP BY label
"""


# ---------------------------------------------------------------------------
# Multimodal metadata
# ---------------------------------------------------------------------------

def q_multimodal_meta(spark, sf_dir):
    """Binary-column plumbing: synthesize structurally valid
    PNG/JPEG/WAV/MP4 payloads (codegen expressions), then mapInPandas
    header decode — REAL struct parsing for all three modalities, with
    a self-describing `decoder` column and per-row error isolation."""
    from engine.multimodal import extract_media_meta, synthesize_media

    d = _heavy(spark, sf_dir, "documents")
    return extract_media_meta(synthesize_media(d))


# Mirrors the deterministic synthesis rules of engine/multimodal.py:
# kind = doc_id % 3 (image/audio/video); corrupt slots at doc_id % 30
# in (0, 10, 20) carry raw text bytes; WAV n_bytes = 44-byte header +
# n_frames * block_align real zero sample bytes; MP4 is always the
# 124-byte ftyp+moov>trak>tkhd skeleton.
SQL_MULTIMODAL_META = """
WITH m AS (
  SELECT doc_id,
         CAST(doc_id % 3 AS INT) AS k,
         doc_id % 30 IN (0, 10, 20) AS corrupt,  -- raw bytes, no magic
         text IS NULL AS null_text,  -- NULL text nulls the whole codegen
                                  -- concat -> NULL payload -> the
                                  -- engine's NULL_PAYLOAD error row
                                  -- (round-4 review finding #3)
         strlen(text) AS n
  FROM documents
), p AS (
  SELECT doc_id, k, corrupt, null_text, n,
         CASE k WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
                ELSE 'video' END AS kind,
         ((n % 200) + 1) * (((doc_id % 2) + 1) * 2) AS wav_data
  FROM m
)
SELECT doc_id, kind,
       CAST(CASE WHEN null_text THEN NULL
                 WHEN corrupt THEN n
                 WHEN k = 0 THEN CASE WHEN doc_id % 6 = 0 THEN 45
                                      ELSE 23 END   -- PNG | JPEG
                 WHEN k = 1 THEN 44 + wav_data      -- WAV hdr + data
                 ELSE 124 END AS INT) AS n_bytes,   -- MP4 skeleton
       CAST(CASE WHEN NOT corrupt AND NOT null_text AND k IN (0, 2)
                 THEN (n % 640) + 1 END AS INT) AS width,
       CAST(CASE WHEN NOT corrupt AND NOT null_text AND k IN (0, 2)
                 THEN (n % 480) + 1 END AS INT) AS height,
       CAST(CASE WHEN corrupt OR null_text THEN NULL
                 WHEN k = 0 THEN 1
                 WHEN k = 1 THEN (n % 200) + 1
                 ELSE (n // 100) + 1 END AS INT) AS n_frames,
       CAST(CASE WHEN NOT corrupt AND NOT null_text AND k = 1
                 THEN 8000 + (doc_id % 4) * 4000 END AS INT) AS sample_rate,
       CAST(CASE WHEN NOT corrupt AND NOT null_text AND k = 1
                 THEN (doc_id % 2) + 1 END AS INT) AS channels,
       NOT (corrupt OR null_text) AS decode_ok,
       CASE WHEN corrupt OR null_text THEN NULL
            WHEN k = 0 THEN CASE WHEN doc_id % 6 = 0 THEN 'png'
                                 ELSE 'jpeg' END
            WHEN k = 1 THEN 'wav' ELSE 'mp4' END AS decoder,
       CASE WHEN null_text THEN 'NULL_PAYLOAD'
            WHEN corrupt THEN
            CASE k WHEN 0 THEN 'UNSUPPORTED_IMAGE_FORMAT'
                   WHEN 1 THEN 'UNSUPPORTED_AUDIO_FORMAT'
                   ELSE 'UNSUPPORTED_VIDEO_FORMAT' END END AS error
FROM p
"""


def q_dedup_embedding(spark, sf_dir):
    """Embedding-cosine near-dup pairs blocked by ONE 8-bit sign code
    (the banded operator at bands=1, cos >= 0.9) — the oracle-simple
    small-scale setting; the banded query below is the 100 TB one.

    The test corpus has no natural near-dups (max pairwise cos ~0.51),
    so — like the banded query — this plants them deterministically:
    each vec_id < 50 gains a perturbed copy (id + 100000) whose first 8
    dims are UNCHANGED (so the 8-bit sign code blocks the pair
    together) and whose remaining dims are scaled (x -> 0.9x + 0.01,
    cos ~0.99). A non-vacuous driver check: the query must return
    exactly these 50 pairs (plus any code-blocked natural pair above
    threshold)."""
    e = _t(spark, sf_dir, "embeddings")
    base = e.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    pert = e.filter(F.col("vec_id") < 50).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform(
            "embedding",
            lambda x, i: F.when(i < 8, x.cast("double")).otherwise(
                x.cast("double") * 0.9 + 0.01
            ),
        ).alias("embedding"),
    )
    return SIM.cosine_near_dups_banded(
        base.unionByName(pert), threshold=0.9, bands=1, bits_per_band=8
    )


def q_dedup_simhash_pairs(spark, sf_dir):
    """SimHash near-dup PAIRS: 64-bit chunked simhash, banded
    Hamming join (pairs agreeing on >=1 of 4 16-bit chunks), verified
    at Hamming distance <= 3. The <=3 bound makes the chunk blocking
    exact-complete (pigeonhole), so the all-pairs DuckDB oracle is the
    same result set."""
    d = _heavy(spark, sf_dir, "documents")
    return DD.simhash_near_pairs(d, max_hamming=3)


_HEXES4_SQL = ", ".join(
    f"CASE WHEN tok <> '' THEN CAST('0x' || substr(md5(tok), {4 * c + 1}, 4) AS INT) END AS h{c}"
    for c in range(4)
)
_BITSUMS4_SQL = ", ".join(
    f"SUM(CASE WHEN h{c} IS NULL THEN 0 WHEN (h{c} >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS b{c}_{j}"
    for c in range(4)
    for j in range(16)
)
_SIMS4_SQL = ", ".join(
    "CAST(CASE WHEN _n_tok > 0 THEN "
    + " + ".join(f"CASE WHEN b{c}_{j} > 0 THEN {1 << j} ELSE 0 END" for j in range(16))
    + f" END AS INT) AS sim_{c}"
    for c in range(4)
)
_HAM_SQL = " + ".join(f"bit_count(xor(a.sim_{c}, b.sim_{c}))" for c in range(4))
SQL_DEDUP_SIMHASH_PAIRS = f"""
WITH toks AS (
  SELECT doc_id, unnest(list_distinct({_TOKS_SQL})) AS tok FROM documents
), h AS (
  SELECT doc_id, {_HEXES4_SQL} FROM toks
), agg AS (
  SELECT doc_id, {_BITSUMS4_SQL}, COUNT(h0) AS _n_tok FROM h GROUP BY doc_id
), s AS (
  SELECT doc_id, {_SIMS4_SQL} FROM agg WHERE _n_tok > 0
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST({_HAM_SQL} AS INT) AS hamming
FROM s a JOIN s b ON a.doc_id < b.doc_id
WHERE {_HAM_SQL} <= 3
"""


def q_dedup_embedding_banded(spark, sf_dir):
    """Multi-band sign-LSH embedding near-dups — the 100 TB blocking
    scheme (4 bands x 16 sign bits, union of band matches; bucket size
    O(n/2^16) per band vs O(n/256) for the single-code variant).

    The test corpus has no natural near-dups (max pairwise cos ~0.51),
    so the query plants them deterministically: each vec_id < 50 gains
    a perturbed copy (id + 100000, x -> 0.9x + 0.01) at cos ~0.998 with
    a few sign flips on near-zero dims — exercising the union-of-bands
    recall path that a single full-width code would miss."""
    e = _t(spark, sf_dir, "embeddings")
    base = e.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    pert = e.filter(F.col("vec_id") < 50).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform(
            "embedding", lambda x: x.cast("double") * 0.9 + 0.01
        ).alias("embedding"),
    )
    return SIM.cosine_near_dups_banded(
        base.unionByName(pert), threshold=0.95, bands=4, bits_per_band=16
    )


def _band_code_sql(b: int, bits: int = 16) -> str:
    return " + ".join(
        f"CASE WHEN v[{b * bits + i + 1}] > 0 THEN {1 << i} ELSE 0 END"
        for i in range(bits)
    )


_DOT_VV_SQL = (
    "list_reduce(list_transform(range(1, 65), "
    "i -> {a}[CAST(i AS INT)] * {b}[CAST(i AS INT)]), (x, y) -> x + y)"
)


def _cos_vv_sql(a: str, b: str) -> str:
    dot = _DOT_VV_SQL.format(a=a, b=b)
    na = f"sqrt({_DOT_VV_SQL.format(a=a, b=a)})"
    nb = f"sqrt({_DOT_VV_SQL.format(a=b, b=b)})"
    return f"{dot} / ({na} * {nb})"


SQL_DEDUP_EMBEDDING = f"""
WITH base AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
  UNION ALL
  SELECT vec_id + 100000,
         list_transform(range(1, 65), i -> CASE WHEN i <= 8
             THEN CAST(embedding[CAST(i AS INT)] AS DOUBLE)
             ELSE CAST(embedding[CAST(i AS INT)] AS DOUBLE) * 0.9 + 0.01 END)
  FROM embeddings WHERE vec_id < 50
), c AS (
  SELECT vec_id, v, {_band_code_sql(0, bits=8)} AS code FROM base
), p AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         {_cos_vv_sql('a.v', 'b.v')} AS cos
  FROM c a JOIN c b ON a.code = b.code AND a.vec_id < b.vec_id
)
SELECT id_a, id_b, ROUND(cos, 6) AS cos FROM p WHERE cos >= 0.9
"""


SQL_DEDUP_EMBEDDING_BANDED = f"""
WITH base AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
  UNION ALL
  SELECT vec_id + 100000, list_transform(embedding, x -> CAST(x AS DOUBLE) * 0.9 + 0.01)
  FROM embeddings WHERE vec_id < 50
), codes AS (
  SELECT vec_id, band_idx,
         CASE band_idx WHEN 0 THEN {_band_code_sql(0)}
                       WHEN 1 THEN {_band_code_sql(1)}
                       WHEN 2 THEN {_band_code_sql(2)}
                       ELSE {_band_code_sql(3)} END AS code
  FROM base, unnest([0, 1, 2, 3]) AS u(band_idx)
), pairs AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM codes a JOIN codes b
    ON a.band_idx = b.band_idx AND a.code = b.code AND a.vec_id < b.vec_id
), scored AS (
  SELECT p.id_a, p.id_b, {_cos_vv_sql('va.v', 'vb.v')} AS cos
  FROM pairs p
  JOIN base va ON va.vec_id = p.id_a
  JOIN base vb ON vb.vec_id = p.id_b
)
SELECT id_a, id_b, ROUND(cos, 6) AS cos FROM scored WHERE cos >= 0.95
"""


def q_doc_repetition(spark, sf_dir):
    """Intra-document repetition signals (the Gopher/RefinedWeb-style
    quality rule this family was missing): duplicate word-3-gram ratio
    and top-3-gram share, plus the gate boolean. All codegen; the gram
    and distinct-gram arrays are MATERIALIZED once per row before any
    per-element lambda touches them (inlined subtrees re-evaluate per
    element — the measured 15x pitfall, BENCH.md).

    Scale note: top_ngram_share's count-per-distinct transform is
    O(|distinct| x |grams|) per DOCUMENT (never cross-row); for
    book-length docs cap the text upstream (P9 reduction profiles) or
    drop top share and keep the O(n) dup ratio."""
    d = _heavy(spark, sf_dir, "documents")
    d = d.withColumn(
        "_toks", F.split(F.trim(F.coalesce(F.col("text"), F.lit(""))), r"\s+")
    )
    d = d.withColumn(
        "_grams",
        F.expr(
            "CASE WHEN size(_toks) >= 3 AND trim(coalesce(text, '')) <> '' "
            "THEN transform(sequence(1, size(_toks) - 2), "
            "i -> concat_ws(' ', slice(_toks, i, 3))) ELSE array() END"
        ),
    )
    d = d.withColumn("_dist", F.array_distinct("_grams"))
    n = F.size("_grams")
    dup = F.round((n - F.size("_dist")) / n, 6)
    maxc = F.array_max(
        F.transform(
            F.col("_dist"),
            lambda g: F.size(F.filter(F.col("_grams"), lambda x: x == g)),
        )
    )
    top = F.round(maxc / n, 6)
    return d.select(
        "doc_id",
        n.alias("n_ngrams"),
        F.when(n > 0, dup).otherwise(F.lit(0.0)).alias("dup_ngram_ratio"),
        F.when(n > 0, top).otherwise(F.lit(0.0)).alias("top_ngram_share"),
        # top-share only gates docs with enough grams (n >= 20): a
        # 4-gram doc has top share 0.25 by construction — the published
        # repetition heuristics apply the fraction tests above a
        # minimum length for exactly this reason
        F.when(n > 0, (dup > 0.2) | ((n >= 20) & (top > 0.18)))
        .otherwise(F.lit(False))
        .alias("repetitive"),
    )


SQL_DOC_REPETITION = r"""
WITH t AS (
  SELECT doc_id,
         string_split_regex(trim(coalesce(text, '')), '\s+') AS toks,
         trim(coalesce(text, '')) AS txt
  FROM documents
), g AS (
  SELECT doc_id,
         CASE WHEN len(toks) >= 3 AND txt <> '' THEN
           list_transform(range(1, len(toks) - 1),
             i -> array_to_string(toks[CAST(i AS INT):CAST(i AS INT)+2], ' '))
         ELSE [] END AS grams
  FROM t
), s AS (
  SELECT doc_id, len(grams) AS n, len(list_distinct(grams)) AS d,
         CASE WHEN len(grams) > 0 THEN
           list_max(list_transform(list_distinct(grams),
             u -> len(list_filter(grams, x -> x = u))))
         ELSE 0 END AS maxc
  FROM g
)
SELECT doc_id,
       CAST(n AS INT) AS n_ngrams,
       CASE WHEN n > 0 THEN ROUND((n - d) / CAST(n AS DOUBLE), 6)
            ELSE 0.0 END AS dup_ngram_ratio,
       CASE WHEN n > 0 THEN ROUND(maxc / CAST(n AS DOUBLE), 6)
            ELSE 0.0 END AS top_ngram_share,
       CASE WHEN n > 0 THEN
            ROUND((n - d) / CAST(n AS DOUBLE), 6) > 0.2
            OR (n >= 20 AND ROUND(maxc / CAST(n AS DOUBLE), 6) > 0.18)
       ELSE FALSE END AS repetitive
FROM s
"""


def q_doc_contamination(spark, sf_dir):
    """Benchmark decontamination — the standard n-gram-collision test
    a training pipeline runs before release: flag corpus docs sharing
    any word 8-gram with a benchmark set. The benchmark stand-in is a
    deterministic corpus slice (doc_id % 97 == 0; in production this
    is the eval suite's text). Output: (doc_id, bench_id,
    n_shared_ngrams) per contaminated pair.

    The synthetic corpus has no natural cross-doc 8-gram overlap, so a
    bare run returns 0 rows — a vacuous check. The query therefore PLANTS contamination
    deterministically: every benchmark doc's text is cloned into the
    corpus as doc_id + 500000 (500000 % 97 = 62, so clones are never
    benchmark members), guaranteeing each ≥8-token benchmark doc one
    fully-overlapping contaminated pair the oracle must reproduce.

    Scale shape: grams are md5-hashed and the join carries only
    (hash, id) — text never shuffles; the benchmark side is tiny and
    broadcasts. 8 grams (not the common 13) because the synthetic
    corpus has short docs; the n=13 long-doc variant is
    q_doc_contamination13 below — the operator is n-parametric."""
    d = _heavy(spark, sf_dir, "documents").select("doc_id", "text")
    return _contamination_pairs(d, n=8, bench_mod=97, clone_offset=500000)


def _contamination_pairs(
    d, n: int, bench_mod: int, clone_offset: int
):
    """Parametric n-gram-collision core shared by both contamination
    gate queries: plant clones of the benchmark slice
    (doc_id % bench_mod == 0) at doc_id + clone_offset, hash word
    n-grams, and join corpus→broadcast(benchmark) on (hash only).

    Grams are matched by xxhash64 instead of md5 — the hash is purely an internal
    join key (the output is pair COUNTS; no hash ever leaves the
    query), xxhash64 is codegen-native with no 32-char hex
    materialization, and the exchange/broadcast rows shrink from
    (32-char string, id) to (long, id). The oracle compares only the
    counts, which are hash-choice-invariant."""
    d = d.unionByName(
        d.filter(F.col("doc_id") % bench_mod == 0).select(
            (F.col("doc_id") + clone_offset).alias("doc_id"), "text"
        )
    )
    toks = F.split(F.trim(F.coalesce(F.col("text"), F.lit(""))), r"\s+")
    # size >= n alone covers the old blank-text guard: whitespace-only
    # text splits to [''] (size 1 < n). Exploding the gram expression
    # INLINE (not a named column) matters: exploding a named column
    # plants the full gram expression a second time in the inferred
    # size()>0 generator filter — measured 2.5 s vs 0.3 s at sf0.1 for
    # the gram stage alone.
    gram_expr = (
        f"CASE WHEN size(_toks) >= {n} THEN "
        f"array_distinct(transform(sequence(1, size(_toks) - {n - 1}), "
        f"i -> xxhash64(concat_ws(' ', slice(_toks, i, {n}))))) ELSE array() END"
    )
    hashed = d.select("doc_id", toks.alias("_toks")).select(
        "doc_id", F.explode(F.expr(gram_expr)).alias("gram_h")
    )
    bench = hashed.filter(F.col("doc_id") % bench_mod == 0).select(
        F.col("doc_id").alias("bench_id"), "gram_h"
    )
    corpus = hashed.filter(F.col("doc_id") % bench_mod != 0)
    return (
        corpus.join(F.broadcast(bench), "gram_h")
        .groupBy("doc_id", "bench_id")
        .agg(F.count(F.lit(1)).cast("int").alias("n_shared_ngrams"))
    )


def _contamination_pairs_chunked(
    d, n: int, bench_mod: int, clone_offset: int, n_part: int,
    chunk_tokens: int = 4096,
):
    """Scale-safe n-gram-collision core for LONG documents (input skew
    and duplicated subtrees).

    The per-doc core (`_contamination_pairs`) collapses when the corpus
    is a handful of huge docs: AQE coalesces the byte-tiny-but-CPU-heavy
    gram stage onto ~2 tasks, and referencing the gram subplan twice
    (bench + corpus sides) recomputes it. This variant:

    - tags bench membership as a COLUMN so the gram subplan exists once
      in the plan (no bench/corpus double-filter of `hashed`);
    - splits each doc's token array into overlapping chunks of
      `chunk_tokens` gram-start positions (overlap n-1 tokens, so the
      chunk-local gram set is exactly the doc-global one, partitioned)
      and hash-repartitions chunks over (doc_id, chunk_idx) — task work
      is bounded by chunk size, not doc length, so a single 10-GB doc
      cannot create a straggler;
    - replaces the broadcast self-join (whose build side here is a
      fixed fraction of the corpus, NOT a small eval suite) with one
      hash aggregation by gram hash: per gram, the set of bench ids and
      the set of corpus ids — collect_set also dedups chunk-duplicate
      grams, reproducing the per-doc array_distinct semantics — then
      explodes the per-gram pairs and counts. Only 32-char hashes and
      ids ever shuffle; text never does.
    """
    base = d.select(
        "doc_id", "text", (F.col("doc_id") % bench_mod == 0).alias("_is_bench")
    )
    d2 = base.unionByName(
        base.filter(F.col("_is_bench")).select(
            (F.col("doc_id") + clone_offset).alias("doc_id"),
            "text",
            F.lit(False).alias("_is_bench"),
        )
    )
    C = int(chunk_tokens)
    tokd = d2.select(
        "doc_id",
        "_is_bench",
        F.split(F.trim(F.coalesce(F.col("text"), F.lit(""))), r"\s+").alias(
            "_toks"
        ),
    )
    # chunk c covers gram starts [c*C+1, (c+1)*C]; it needs tokens
    # [c*C+1, (c+1)*C + n-1]; slice() truncates at the array end, so the
    # last chunk carries exactly the remaining starts. Short/empty docs
    # (size < n, including the [''] of whitespace-only text) emit none.
    # posexplode of the INLINE expression (a named column would plant
    # the chunk-building expression a second time in the inferred
    # non-empty generator filter — same pitfall as _contamination_pairs)
    chunks = (
        tokd.select(
            "doc_id",
            "_is_bench",
            F.posexplode(
                F.expr(
                    f"CASE WHEN size(_toks) >= {n} THEN "
                    f"transform(sequence(0, CAST(floor((size(_toks) - {n}) / {C}) AS INT)), "
                    f"c -> slice(_toks, c * {C} + 1, {C} + {n - 1})) "
                    f"ELSE array(array()) END"
                )
            ).alias("_ci", "_ctoks"),
        )
        .filter(F.size("_ctoks") >= n)
        .repartition(n_part, "doc_id", "_ci")
    )
    # xxhash64, not md5: the gram hash is an internal match key only
    # (see _contamination_pairs) — codegen-native, 8-byte shuffle rows
    grams = chunks.select(
        "doc_id",
        "_is_bench",
        F.explode(
            F.expr(
                f"transform(sequence(1, size(_ctoks) - {n - 1}), "
                f"i -> xxhash64(concat_ws(' ', slice(_ctoks, i, {n}))))"
            )
        ).alias("gram_h"),
    )
    return (
        grams.groupBy("gram_h")
        .agg(
            F.collect_set(F.when(F.col("_is_bench"), F.col("doc_id"))).alias("_b"),
            F.collect_set(F.when(~F.col("_is_bench"), F.col("doc_id"))).alias("_c"),
        )
        .where((F.size("_b") > 0) & (F.size("_c") > 0))
        .select(F.explode("_b").alias("bench_id"), "_c")
        .select("bench_id", F.explode("_c").alias("doc_id"))
        .groupBy("doc_id", "bench_id")
        .agg(F.count(F.lit(1)).cast("int").alias("n_shared_ngrams"))
    )


def q_doc_contamination13(spark, sf_dir):
    """The industry-standard n=13 decontamination pass (GPT-3/PaLM
    convention), oracle-checked on a LONG-doc fixture: the synthetic
    corpus docs are too short for 13-grams, so the fixture
    deterministically concatenates them into 50 long documents
    (bucket doc_id % 50, texts joined in doc_id order — same rows,
    same bytes, in both engines), then runs the chunk-parallel
    hashed-gram core with n=13 (benchmark slice bucket % 7 == 0,
    clones at +1000). Proves the claimed n-parametricity of the
    operator, not just n=8.

    Uses _contamination_pairs_chunked: the 50-huge-doc shape defeats
    AQE's byte-based coalescing (the gram stage ran on ~2 tasks, 202 s
    at sf0.1); chunking the
    token arrays restores full-width parallelism with identical
    results."""
    d = _heavy(spark, sf_dir, "documents").select("doc_id", "text")
    longd = (
        d.withColumn("_gid", F.col("doc_id") % 50)
        .groupBy("_gid")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                F.col("doc_id").alias("i"),
                                F.coalesce("text", F.lit("")).alias("t"),
                            )
                        )
                    ),
                    lambda x: x["t"],
                ),
                " ",
            ).alias("text")
        )
        .select(F.col("_gid").alias("doc_id"), "text")
    )
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    return _contamination_pairs_chunked(
        longd, n=13, bench_mod=7, clone_offset=1000, n_part=n_part
    )


SQL_DOC_CONTAMINATION = r"""
WITH docs2 AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 500000 AS doc_id, text FROM documents WHERE doc_id % 97 = 0
), t AS (
  SELECT doc_id,
         string_split_regex(trim(coalesce(text, '')), '\s+') AS toks,
         trim(coalesce(text, '')) AS txt
  FROM docs2
), g AS (
  SELECT doc_id, unnest(
           CASE WHEN len(toks) >= 8 AND txt <> '' THEN
             list_distinct(list_transform(range(1, len(toks) - 6),
               i -> md5(array_to_string(
                      toks[CAST(i AS INT):CAST(i AS INT)+7], ' '))))
           ELSE [] END) AS gram_h
  FROM t
)
SELECT c.doc_id, b.doc_id AS bench_id,
       CAST(COUNT(*) AS INT) AS n_shared_ngrams
FROM g c JOIN g b USING (gram_h)
WHERE b.doc_id % 97 = 0 AND c.doc_id % 97 <> 0
GROUP BY c.doc_id, b.doc_id
"""


SQL_DOC_CONTAMINATION13 = r"""
WITH longd AS (
  SELECT doc_id % 50 AS doc_id,
         string_agg(coalesce(text, ''), ' ' ORDER BY doc_id) AS text
  FROM documents GROUP BY doc_id % 50
), docs2 AS (
  SELECT doc_id, text FROM longd
  UNION ALL
  SELECT doc_id + 1000 AS doc_id, text FROM longd WHERE doc_id % 7 = 0
), t AS (
  SELECT doc_id,
         string_split_regex(trim(coalesce(text, '')), '\s+') AS toks,
         trim(coalesce(text, '')) AS txt
  FROM docs2
), g AS (
  SELECT doc_id, unnest(
           CASE WHEN len(toks) >= 13 AND txt <> '' THEN
             list_distinct(list_transform(range(1, len(toks) - 11),
               i -> md5(array_to_string(
                      toks[CAST(i AS INT):CAST(i AS INT)+12], ' '))))
           ELSE [] END) AS gram_h
  FROM t
)
SELECT c.doc_id, b.doc_id AS bench_id,
       CAST(COUNT(*) AS INT) AS n_shared_ngrams
FROM g c JOIN g b USING (gram_h)
WHERE b.doc_id % 7 = 0 AND c.doc_id % 7 <> 0
GROUP BY c.doc_id, b.doc_id
"""
