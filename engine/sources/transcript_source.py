"""Custom Python DataSource (Spark 4 pyspark.sql.datasource API): the
synthetic transcript table as a REGISTERED batch source —

    spark.dataSource.register(TranscriptDataSource)
    spark.read.format("transcripts")
         .option("n_convs", 10000).option("partitions", 32).load()

Each input partition generates a contiguous conversation-id range on
its EXECUTOR (per-conversation seeding, engine/generate.py:
generate_transcripts_conv_range), so the table materializes fully in
parallel with no driver-side row construction and is byte-identical
under any partition count — unlike the driver-built
generate_transcripts path, which builds the whole pandas frame in one
process. Rows cross to the JVM as Arrow RecordBatches (the API's fast
path), never tuple-at-a-time.

This is the engine's §2.1 'source connector' surface exercised for
real: schema declaration, option handling, partition planning, and
executor-side reads through the public DataSource API.
"""

from __future__ import annotations

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)


class ConvRangePartition(InputPartition):
    def __init__(self, lo: int, hi: int):
        self.lo = lo
        self.hi = hi


class TranscriptDataSourceReader(DataSourceReader):
    def __init__(self, options: dict):
        self.n_convs = int(options.get("n_convs", 300))
        self.seed = int(options.get("seed", 42))
        self.n_parts = int(options.get("partitions", 8))
        self.max_turns = int(options.get("max_turns", 400))

    def partitions(self):
        if self.n_convs <= 0:
            return [ConvRangePartition(0, 0)]  # the API needs >= 1
        step = max(1, -(-self.n_convs // self.n_parts))  # ceil div
        return [
            ConvRangePartition(lo, min(lo + step, self.n_convs))
            for lo in range(0, self.n_convs, step)
        ]

    def read(self, partition: ConvRangePartition):
        # Arrow fast path: yield RecordBatches cast to the declared
        # schema (pandas ns timestamps are rejected by the JVM
        # consumer, which expects us), never per-row tuples.
        yield from _gen_batches(
            partition.lo, partition.hi, self.seed, self.max_turns
        )


def _gen_batches(lo: int, hi: int, seed: int, max_turns: int):
    import pyarrow as pa

    from engine.generate import generate_transcripts_conv_range

    pdf = generate_transcripts_conv_range(lo, hi, seed=seed, max_turns=max_turns)
    if pdf.empty:
        return  # empty range: no batches (dtype-less frame can't cast)
    target = pa.schema(
        [
            ("conv_id", pa.string()),
            ("turn_idx", pa.int32()),
            ("role", pa.string()),
            ("text", pa.string()),
            ("tool", pa.string()),
            ("ts", pa.timestamp("us")),
        ]
    )
    table = pa.Table.from_pandas(pdf, preserve_index=False).cast(target)
    yield from table.to_batches(max_chunksize=10_000)


class TranscriptStreamReader(SimpleDataSourceStreamReader):
    """Streaming half of the same source: offsets are conversation
    counters; each micro-batch emits the next `convs_per_batch`
    conversations, generating identical rows to the batch reader for
    the same (seed, conv) — dual-mode parity is tested.

    This is the SIMPLE stream-reader variant deliberately: the
    partition-planning variant's `latestOffset(self)` gets no start
    offset, so a restarted query (fresh reader instance, counter back
    at 0) would plan batches BEHIND the checkpointed offset and
    re-emit already-delivered conversations.
    `read(start)` receives the recovered offset on every call, making
    restart resume exactly where the checkpoint says — at the
    documented cost that micro-batch rows are produced driver-side
    (fine for a rate-limited synthetic feed; the batch reader remains
    the executor-parallel path). `readBetweenOffsets` replays any
    committed range bit-identically because generation is pure in
    (seed, conv)."""

    def __init__(self, options: dict):
        self.n_convs = int(options.get("n_convs", 300))
        self.seed = int(options.get("seed", 42))
        self.max_turns = int(options.get("max_turns", 400))
        self.rate = int(options.get("convs_per_batch", 50))

    def initialOffset(self) -> dict:
        return {"conv": 0}

    def _rows(self, lo: int, hi: int):
        from engine.generate import generate_transcripts_conv_range

        pdf = generate_transcripts_conv_range(
            lo, hi, seed=self.seed, max_turns=self.max_turns
        )
        if pdf.empty:  # exhausted source: dtype-less frame has no .dt
            return iter([])
        # tuple-path TimestampType conversion needs tz-AWARE values
        # (naive ones crash tz_convert in the runtime); UTC matches the
        # engine's session timezone, so values equal the batch reader's
        pdf["ts"] = pdf["ts"].dt.tz_localize("UTC")
        # iterator over a MATERIALIZED list: the runtime calls next()
        # on it (plain lists rejected) but also pickles the prefetched
        # batch (raw generators rejected); a list_iterator satisfies both
        return iter([tuple(row) for row in pdf.itertuples(index=False)])

    def read(self, start: dict):
        lo = int(start["conv"])
        hi = min(lo + self.rate, self.n_convs)
        return self._rows(lo, hi), {"conv": hi}

    def readBetweenOffsets(self, start: dict, end: dict):
        return self._rows(int(start["conv"]), int(end["conv"]))

    def commit(self, end: dict) -> None:
        pass  # nothing to clean up — generation is pure


class TranscriptDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "transcripts"

    def schema(self) -> str:
        return (
            "conv_id string, turn_idx int, role string, text string, "
            "tool string, ts timestamp"
        )

    def reader(self, schema) -> TranscriptDataSourceReader:
        return TranscriptDataSourceReader(self.options)

    def simpleStreamReader(self, schema) -> TranscriptStreamReader:
        return TranscriptStreamReader(self.options)
