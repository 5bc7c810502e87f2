"""End-to-end feature extraction — the engine's "one query".

`extract_features(spark, transcripts, context)` is the analog of the
reference's one-request lifecycle (analyze.py:96-119: validate →
preprocess → N independent extractor families → unified vector +
error sidecar + metadata), re-planned for Spark:

  read → quarantine split → per-turn text kernel (Arrow scalar UDF) →
  ONE hash repartition on conv_id → every window family over the same
  (ts, turn_idx) total order → as-of join vs context → expanding
  top-k → wide feature row per (conv_id, ts, turn_idx).

All feature families are computed over one shuffled-once layout,
mirroring the reference's "all three extractors consume the same
preprocessed array" discipline (SURVEY.md §7.2). The plan is built as
a few SQL-expression layers by dependency depth (operators/core.py),
since a batch job rebuilds it for every hash batch and increment.
"""

from __future__ import annotations

import time

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from engine.functions.text import (
    clean_text_series,
    txt_len_series,
    txt_words_series,
)
from engine.operators import core
from engine.operators.asof import asof_join
from engine.operators.quality import split_quarantine
from engine.operators.topk import (
    VOCAB,
    add_top_tools_expanding,
    top_tools_vocab_layers,
    with_vocab,
)
from engine.operators import windows as W
from engine.schema import FEATURE_SCHEMA, ROLL_WINDOW_S, SESSION_GAP_S

_TEXT_STRUCT = T.StructType(
    [
        T.StructField("clean_text", T.StringType()),
        T.StructField("txt_len", T.IntegerType()),
        T.StructField("txt_words", T.IntegerType()),
    ]
)


@pandas_udf(_TEXT_STRUCT)
def _text_features(text: pd.Series) -> pd.DataFrame:
    """Arrow-vectorized per-turn text kernel (X1-X7 + X6 lengths).

    Lengths are computed IN PYTHON on the cleaned text (code points),
    not with JVM `length` (UTF-16 units) — keeps parity with the
    oracle for any unicode input.
    """
    clean = clean_text_series(text)
    return pd.DataFrame(
        {
            "clean_text": clean,
            "txt_len": txt_len_series(clean),
            "txt_words": txt_words_series(clean),
        }
    )


def add_text_features(df: DataFrame) -> DataFrame:
    df = df.select("*", _text_features(F.col("text")).alias("_txt"))
    # 3-way threshold binning (P11 analog) — the ONE Spark-side
    # implementation lives in operators/core.bin_threshold; the oracle
    # twin is functions/text.len_class_py (same 250/190 thresholds)
    return df.select(
        *[c for c in df.columns if c != "_txt"],
        "_txt.clean_text", "_txt.txt_len", "_txt.txt_words",
        core.bin_threshold(F.col("_txt.txt_len"), 250, 190).alias("len_class"),
    )


MAX_VOCAB = 64

# P9 data-reduction profiles — the reference's resize-before-extraction
# caps (utils.py:117-143 / image_processor.py:83-118: auto/high_quality/
# performance downscale to 2000/4000/1000 px BEFORE the expensive OCR)
# transplanted to transcripts: cap text LENGTH before the expensive text
# kernel, and (performance) switch the rolling distinct to the HLL++
# sketch. Same numbers as the reference's pixel caps, same position in
# the pipeline (reduce ahead of the costly operator).
REDUCTION_PROFILES: dict[str, dict] = {
    "high_quality": {"max_text_chars": 4000, "approx_distinct": False},
    "auto": {"max_text_chars": 2000, "approx_distinct": False},
    "performance": {"max_text_chars": 1000, "approx_distinct": True},
}


def apply_reduction_profile(df: DataFrame, profile: str) -> DataFrame:
    """Apply a P9 profile's input reduction (text-length cap) to the
    transcript table. Codegen substring — runs inside the scan stage,
    ahead of the Arrow text kernel."""
    cap = REDUCTION_PROFILES[profile]["max_text_chars"]
    return df.withColumn("text", F.substring(F.col("text"), 1, cap))


def discover_tool_vocab(
    transcripts: DataFrame, max_size: int = MAX_VOCAB
) -> list[str]:
    """Exact distinct tool vocabulary from the RAW input — a single
    narrow one-column scan with map-side partial distinct, run BEFORE
    any per-row compute (never after the text kernel, where the probe
    would drag the whole feature plan along). Returns at most
    max_size + 1 values: a result longer than max_size signals the
    caller to take the stream-kernel top-k path instead.

    At 100 TB this is still one extra pass over one column; production
    callers should pass `vocab=` explicitly (the tool set is a property
    of the agent platform — a catalog stat, not data to rediscover) or,
    for batched jobs, let run_resumable hoist this to once per job."""
    return [
        r["tool"]
        for r in transcripts.filter(
            F.col("tool").isNotNull() & (F.col("tool") != "")
        )
        .select("tool")
        .distinct()
        .limit(max_size + 1)
        .collect()
    ]


def extract_features(
    spark: SparkSession,
    transcripts: DataFrame,
    context: DataFrame | None = None,
    session_gap_s: float = SESSION_GAP_S,
    roll_window_s: float = ROLL_WINDOW_S,
    num_partitions: int | None = None,
    repartition_before_text: bool | None = None,
    vocab: list[str] | None = None,
    profile: str | None = None,
) -> tuple[DataFrame, DataFrame, dict]:
    """Return (features, errors, run_meta).

    `profile`: optional REDUCTION_PROFILES entry (text-length cap ahead
    of the text kernel; 'performance' also makes the rolling distinct
    an HLL++ sketch). None = exact.

    `vocab`: the tool vocabulary of the codegen top-k. Passed, the plan
    is built without a single job; None discovers it from the raw input
    (discover_tool_vocab). Over MAX_VOCAB tools the top-k runs as the
    Arrow kernel, which needs none.

    `run_meta` holds static plan facts; row and byte counts come from
    the write pass (engine/tableio.py), so the plan executes once.
    """
    t0 = time.time()
    good, errors = split_quarantine(transcripts)
    # P9 reduction after validation (ROW_TOO_LARGE sees the original
    # length) and before the text kernel it exists to cheapen
    approx_distinct = False
    if profile is not None:
        approx_distinct = REDUCTION_PROFILES[profile]["approx_distinct"]
        good = apply_reduction_profile(good, profile)

    # Wide input runs the text kernel at scan parallelism; narrow input
    # is first spread by conv_id, count-free so AQE sizes the Python
    # stage by its data (num_partitions pins the count instead).
    if repartition_before_text is None:
        n_part = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
        scan_parts = good.rdd.getNumPartitions()
        repartition_before_text = scan_parts < max(2, n_part // 2)
    if repartition_before_text:
        if num_partitions:
            good = good.repartition(num_partitions, "conv_id")
        else:
            good = good.repartition("conv_id")
    good = add_text_features(good)

    # Layers by dependency depth: TS_SEC; every window aggregate (two
    # specs: the (ts, turn_idx) rows frames and the rolling RANGE
    # frame); what is derived from them (session ids and lengths,
    # rolling ratios, top-k); then the as-of. A vocabulary over
    # MAX_VOCAB takes the streaming Arrow kernel after the as-of.
    if vocab is None:
        vocab = discover_tool_vocab(transcripts)
    families = [
        W.lag_lead_layers(),
        W.sessionization_layers(session_gap_s),
        W.context_ffill_layers(),
        W.rolling_layers(roll_window_s, approx_distinct),
    ]
    if len(vocab) <= MAX_VOCAB:
        good, n_vocab = with_vocab(good, vocab)
        families.append(top_tools_vocab_layers(n_vocab))
    layers = W.ts_sec_layers() + core.merge_layers(*families)
    good = core.with_layers(good, layers, drop=[W.TS_SEC, VOCAB])

    if context is not None:
        good = asof_join(good, context, strict=False)
    else:
        good = good.selectExpr(
            "*",
            "CAST(NULL AS DOUBLE) AS asof_ctx_value",
            "CAST(NULL AS STRING) AS asof_ctx_label",
        )
    if len(vocab) > MAX_VOCAB:
        # the windows and the as-of already put each conversation in
        # one partition (both partition by conv_id)
        good = add_top_tools_expanding(good, assume_partitioned=True)

    out = {f.name: core.q(f.name) for f in FEATURE_SCHEMA.fields}
    if len(vocab) <= MAX_VOCAB:
        # the as-of's union types its probe columns nullable; a turn's
        # top_tools is never null, and the schema keeps saying so
        out["top_tools"] = "coalesce(top_tools, CAST(array() AS ARRAY<STRING>)) AS top_tools"
    features = good.selectExpr(*out.values())
    meta = {
        "engine_version": "0.1.0",
        "session_gap_s": session_gap_s,
        "roll_window_s": roll_window_s,
        "profile": profile,
        "topk_strategy": "vocab" if len(vocab) <= MAX_VOCAB else "stream",
        "vocab_size": len(vocab),
        # None: AQE sizes the shuffles
        "num_partitions": num_partitions if repartition_before_text else None,
        "repartition_before_text": repartition_before_text,
        "planned_at_epoch_s": t0,
    }
    return features, errors, meta


def summarize_conversations(features: DataFrame) -> DataFrame:
    """Conversation-level rollup of the per-turn feature table — the
    SECOND aggregation level a training pipeline filters on before
    assembling examples (drop too-short, single-session, or tool-less
    conversations; stratify by activity). One hash aggregation over
    the feature output's existing conv_id partitioning: map-side
    partial combine, no extra sort, and when called on the pipeline's
    direct output the exchange is reused from the window stage.

    Columns: turn/session counts, wall-clock span, role mix, tool
    usage, text-length stats, and the conversation's final dominant
    tool (top_tools of the last turn by (ts, turn_idx) — the
    expanding top-k's end state, via max_by)."""
    last_key = F.struct(F.col("ts"), F.col("turn_idx"))
    return features.groupBy("conv_id").agg(
        F.count(F.lit(1)).cast("int").alias("n_turns"),
        (F.max("session_id") + 1).cast("int").alias("n_sessions"),
        (
            (F.unix_millis(F.max("ts")) - F.unix_millis(F.min("ts")))
            / 1000.0
        ).alias("span_s"),
        F.sum(F.when(F.col("role") == "user", 1).otherwise(0))
        .cast("int").alias("n_user_turns"),
        F.sum(F.when(F.col("role") == "assistant", 1).otherwise(0))
        .cast("int").alias("n_assistant_turns"),
        F.count_distinct("tool").cast("int").alias("tools_distinct"),
        F.sum(F.coalesce("txt_len", F.lit(0))).alias("total_txt_len"),
        F.round(F.avg("txt_len"), 6).alias("avg_txt_len"),
        F.max("txt_len").alias("max_txt_len"),
        F.max_by("top_tools", last_key).alias("final_top_tools"),
    )
