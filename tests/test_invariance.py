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
    a = _run(spark, transcripts_pdf, context_pdf, num_partitions=2)
    b = _run(spark, transcripts_pdf, context_pdf, num_partitions=31)
    assert_frames_match(a, b)

