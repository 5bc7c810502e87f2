"""Per-entity frequency top-k — the dominant-value family.

The reference's "5 dominant colors" contract (kmeans palette →
frequency rank → drop white/black sentinels → top-3 accents → pad to
fixed arity; color_extractor.py:203-300, SURVEY.md §2.4 A2/A3 + §2.3
F9 + §2.5 W6/W7) becomes: per conversation, the top-k most frequent
*tools*, computed **point-in-time** (expanding: tools seen up to and
including the current turn), null/'' filtered, tie-broken
(count desc, tool asc), padded to arity k by repeating the last
element (W7; empty stays empty).

The expanding rule lives in one Python step, `top_tools_step`, shared
by the batch kernel below and the streaming state machine; for a small
known vocabulary `add_top_tools_vocab` computes the same result in
codegen. The whole-conversation (non-expanding) variant is pure SQL,
`top_tools_final`, and doubles as the DuckDB-checkable formulation.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

from engine.operators import core
from engine.schema import TOP_K_TOOLS


def top_tools_step(counts: dict[str, int], tool, k: int = TOP_K_TOOLS) -> list[str]:
    """Count one turn's `tool` into its conversation's `counts` (in
    place) and return the running top-k: (count desc, tool asc), padded
    to arity k by repeating the last tool, [] until a tool is seen.
    The batch kernel and the streaming state machine both call this.
    NaN is skipped like null and '': pandas frames in streaming carry
    it, and NaN is truthy."""
    if tool is not None and not pd.isna(tool) and tool != "":
        counts[tool] = counts.get(tool, 0) + 1
    if not counts:
        return []
    top = sorted(counts, key=lambda t: (-counts[t], t))[:k]
    return top + [top[-1]] * (k - len(top))


def add_top_tools_expanding(df: DataFrame, k: int = TOP_K_TOOLS) -> DataFrame:
    """Append `top_tools` (array<string>), the running top-k.

    mapInArrow over partitions locally sorted by (conv_id, ts, turn_idx),
    carrying the count state across Arrow batches: one Python call per
    batch, not per conversation. Input already partitioned by conv_id
    (the pipeline's windows) plans no further shuffle.
    """
    out_schema = T.StructType(
        list(df.schema.fields)
        + [T.StructField("top_tools", T.ArrayType(T.StringType()))]
    )
    cols = df.columns

    df = df.repartition("conv_id").sortWithinPartitions("conv_id", "ts", "turn_idx")

    def gen(batches):
        # Arrow, not pandas: only (conv_id, tool) are read, the other
        # columns pass through as raw buffers without conversion
        import pyarrow as pa

        list_ty = pa.list_(pa.string())
        # state spans the batches of ONE partition; conversations never
        # span partitions
        cur_conv: object = object()
        counts: dict[str, int] = {}
        for batch in batches:
            convs = batch.column("conv_id").to_pylist()
            tools = batch.column("tool").to_pylist()
            out: list[list[str]] = []
            for conv, tool in zip(convs, tools):
                if conv != cur_conv:
                    cur_conv, counts = conv, {}
                out.append(top_tools_step(counts, tool, k))
            yield pa.RecordBatch.from_arrays(
                list(batch.columns) + [pa.array(out, type=list_ty)],
                names=cols + ["top_tools"],
            )

    return df.mapInArrow(gen, schema=out_schema)


VOCAB = "_vocab"  # array<string> literal column of the sorted vocabulary


def top_tools_vocab_layers(n_vocab: int, k: int = TOP_K_TOOLS) -> list[core.Layer]:
    """Layers of `add_top_tools_vocab` over a VOCAB column of `n_vocab`
    tools: one running count per tool over the shared conv window, then
    a per-row sort of the |V|-element struct array picks the top k with
    the (count desc, tool asc) tie-break. The tool names are read from
    VOCAB, never written into the SQL text."""
    if not n_vocab:
        # no tools anywhere (empty input / all-null tool column): the
        # expanding top-k is [] for every row — and array() of zero
        # structs would type as array<void> and break the lambda below
        return [{"top_tools": "CAST(array() AS ARRAY<STRING>)"}]
    cum = core.over("conv_id", "ts", "turn_idx", core.CUM)
    counts = {
        f"_tc{j}": f"sum(CASE WHEN tool = {VOCAB}[{j}] THEN 1 ELSE 0 END) {cum}"
        for j in range(n_vocab)
    }
    entries = ", ".join(
        f"named_struct('negc', CAST(-_tc{j} AS BIGINT), 't', {VOCAB}[{j}])"
        for j in range(n_vocab)
    )
    # struct array sorts lexicographically by field order: (-count, tool)
    top = f"transform(slice(filter(array_sort(array({entries})), e -> e.negc < 0), 1, {k}), e -> e.t)"
    padded = (
        f"CASE WHEN size({top}) = 0 THEN {top} ELSE "
        f"slice(concat({top}, array_repeat(element_at({top}, -1), {k})), 1, {k}) END"
    )
    return [counts, {"top_tools": padded}]


def with_vocab(df: DataFrame, vocab: list[str]) -> tuple[DataFrame, int]:
    """Append the VOCAB literal column (sorted, deduplicated: a repeated
    catalog-stat entry would otherwise be counted twice and repeat
    inside top_tools); returns the frame and the vocabulary size."""
    vocab = sorted(set(vocab))
    return df.select("*", F.array(*map(F.lit, vocab)).alias(VOCAB)), len(vocab)


def add_top_tools_vocab(
    df: DataFrame, vocab: list[str], k: int = TOP_K_TOOLS
) -> DataFrame:
    """Expanding top-k dominant tools with no Python stage, for a small
    known `vocab` (pipeline.discover_tool_vocab finds it). Columns grow
    with |V|, so callers with more than MAX_VOCAB tools use
    add_top_tools_expanding.
    """
    df, n = with_vocab(df, vocab)
    return core.with_layers(df, top_tools_vocab_layers(n, k), drop=[VOCAB])


def top_tools_final(df: DataFrame, k: int = TOP_K_TOOLS) -> DataFrame:
    """Whole-conversation top-k dominant tools: null/'' tools dropped,
    then the frequency top-k. Returns (conv_id, tool, tool_count, rank).
    SQL-oracle-checkable."""
    tools = df.filter(F.col("tool").isNotNull() & (F.col("tool") != ""))
    return core.topk_by_count(tools, "conv_id", "tool", k, count_col="tool_count")
