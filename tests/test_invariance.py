"""Results invariant to input row order and partition count
(SURVEY.md §5.4)."""

import pandas as pd

from engine.pipeline import extract_features
from engine.schema import CONTEXT_SCHEMA, TRANSCRIPT_SCHEMA
from tests.compare import KEYS, assert_frames_match


def _run(spark, tp, cp, **kw):
    tdf = spark.createDataFrame(tp, schema=TRANSCRIPT_SCHEMA)
    cdf = spark.createDataFrame(cp, schema=CONTEXT_SCHEMA)
    f, _, _ = extract_features(spark, tdf, cdf, **kw)
    return f.toPandas().sort_values(KEYS, kind="mergesort").reset_index(drop=True)


def test_row_order_invariance(spark, transcripts_pdf, context_pdf):
    base = _run(spark, transcripts_pdf, context_pdf)
    rev = _run(
        spark,
        transcripts_pdf.iloc[::-1].reset_index(drop=True),
        context_pdf.sample(frac=1.0, random_state=99).reset_index(drop=True),
    )
    assert_frames_match(rev, base)


def test_partition_count_invariance(spark, transcripts_pdf, context_pdf):
    """Input partitions and shuffle partitions (2 vs 31) leave the
    features unchanged."""
    conf = "spark.sql.shuffle.partitions"
    saved = spark.conf.get(conf)
    tdf = spark.createDataFrame(transcripts_pdf, schema=TRANSCRIPT_SCHEMA)
    cdf = spark.createDataFrame(context_pdf, schema=CONTEXT_SCHEMA)
    out = []
    try:
        for n in (2, 31):
            spark.conf.set(conf, str(n))
            f, _, _ = extract_features(spark, tdf.repartition(n), cdf)
            out.append(
                f.toPandas().sort_values(KEYS, kind="mergesort").reset_index(drop=True)
            )
    finally:
        spark.conf.set(conf, saved)
    assert_frames_match(out[0], out[1])
