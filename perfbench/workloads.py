"""The benchmark's workloads. Each one generates its inputs from the
seed, sets up Spark, warms up untimed, times its unit of work for the
requested seconds, and checks its outputs against an oracle.

Untraced runs report the end-to-end metrics; traced runs (`trace`)
also time every layer from outside, through job groups and Spark's
status store, and report the per-layer metrics.
"""

from __future__ import annotations

import os
import shutil
import time
from contextlib import nullcontext

from harness import RssSampler, Tracer, build, cpu_s, geomean, host_ticks, median, noop, task_skew
import checks
import inputs

SIZES = {
    "full": {
        "flagship_turns": 30000, "slice_convs": 100,
        "commit_turns": 4000, "batches": 1, "inc_turns": 1000,
        "sf": 0.005,
    },
    "tiny": {
        "flagship_turns": 3000, "slice_convs": 30,
        "commit_turns": 2000, "batches": 1, "inc_turns": 500,
        "sf": 0.001,
    },
}

# The gate queries the benchmark runs, by family. The first GATE_TIMED
# of them are checked and timed in every run and make gate_total_s; a
# pass over them takes ~4 s, so a 20 s run times four or five. The
# rest, among them the eagerly computed dedup queries, are checked and
# timed in traced runs only, which keeps an untraced run near a minute
# and leaves it most of its time for timed passes. Left out so a
# traced run ends well within three minutes: dedup_incremental_keep
# (its build call alone takes 25-45 s at sf0.001), dedup_apply and
# dedup_simhash_pairs (5-8 s each).
GATE_FAMILY = {
    "asof_purchase": "asof", "rolling": "window", "range_join_sessions": "window",
    "pricing_summary": "tpch", "topk_auto_salted": "tpch", "doc_repetition": "doc",
    "dedup_clusters": "dedup", "ann_ivf_topk": "ann", "multimodal_meta": "multimodal",
    "doc_quality": "doc", "doc_tfidf_topk": "doc", "doc_contamination13": "doc",
    "conv_rollup": "window",
}
GATE_TIMED = 6
# queries with their own per-layer time, gate.q.<name>_s
GATE_NAMED = ["dedup_clusters", "doc_repetition", "doc_quality", "doc_tfidf_topk",
              "doc_contamination13", "ann_ivf_topk", "conv_rollup"]
# traced reps of the cumulative-prefix split of the pipeline (one, so
# a traced commit_job run stays near two minutes)
PREFIX_REPS = 1
# session set-ups per run; setup_s is their median, so it counts the
# cold JVM start of the first at half weight
SETUPS = 2
# at these sizes run_resumable's default 1% sample is too small to
# tell a hot conversation from noise
HOT_SAMPLE_FRAC = 0.25
READ_RANGE = ("2024-01-08 00:00:00", "2024-01-23 00:00:00")


class Bench:
    def __init__(self, args, cfg: dict, work: str):
        self.args, self.cfg, self.work = args, cfg, work
        self.size = SIZES[args.scale]
        self.trace = bool(args.trace)
        self.attempted = self.failed = 0
        self.problems: list[str] = []
        self.e2e: dict[str, float] = {}
        self.layer: dict[str, float] = {}
        self.record: dict = {}
        self.spark = self.tracer = self.rss = None
        self.t0 = time.perf_counter()
        self.record["phases"] = {}

    def phase(self, name: str) -> None:
        """Stamp the run's elapsed seconds at the end of a phase."""
        self.record["phases"][name] = round(time.perf_counter() - self.t0, 1)

    # -- bookkeeping ---------------------------------------------------
    def check(self, name: str, problems: list[str]) -> None:
        self.attempted += 1
        if problems:
            self.failed += 1
            self.problems.append(f"{name}: {problems[:3]}")

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def setup(self) -> None:
        """Set Spark up SETUPS times (the first also starts the JVM) and
        keep the last session."""
        builds, warms = [], []
        for _ in range(SETUPS):
            if self.spark is not None:
                self.spark.stop()
            self.spark, b, w = build(self.cfg, self.work)
            builds.append(b)
            warms.append(w)
        self.e2e["setup_s"] = median([b + w for b, w in zip(builds, warms)])
        self.layer["session.build_s"] = median(builds)
        self.layer["session.warmup_s"] = median(warms)
        self.record["setup_cold_s"] = round(builds[0] + warms[0], 3)
        self.record["shuffle_partitions"] = self.spark.conf.get("spark.sql.shuffle.partitions")
        if self.trace:
            self.tracer = Tracer(self.spark)
            # a /proc scan every 0.2 s competes for the GIL with py4j calls
            self.rss = RssSampler()
            self.rss.start()

    def timed(self, fn, min_reps: int = 2, max_reps: int = 50) -> list:
        """Call fn while the run's seconds last (at least min_reps times),
        starting no call that the mean call so far says would end past
        them; work_cpu_s is the median CPU seconds the process tree used
        per call. The record gets the share of host CPU time the
        hypervisor stole meanwhile, a marker of a noisy neighbour."""
        out, cpu, t0, h0 = [], [], time.perf_counter(), host_ticks()

        def more() -> bool:
            spent = time.perf_counter() - t0
            return len(out) < min_reps or spent + spent / len(out) <= self.args.seconds

        while len(out) < max_reps and more():
            c0 = cpu_s()
            out.append(fn())
            cpu.append(cpu_s() - c0)
        h1 = host_ticks()
        self.record.setdefault("steal_frac", round((h1[0] - h0[0]) / max(1, h1[1] - h0[1]), 4))
        self.e2e.setdefault("work_cpu_s", median(cpu))
        return out

    def report(self, **figures: float) -> None:
        """The workload's own end-to-end figures (turns_per_s, gate_total_s,
        ...): in the record, and as per-layer metrics of traced runs."""
        self.record.update(figures)
        self.layer.update(figures)

    def span(self, name: str):
        return nullcontext({}) if self.tracer is None else self.tracer.span(name)

    def finish(self) -> None:
        if self.rss is not None:
            self.layer["peak_rss_mb"] = self.record["peak_rss_mb"] = self.rss.stop()
        if self.spark is not None:
            self.spark.stop()


# --- flagship_batch ------------------------------------------------------

def _pipeline_prefixes(spark, t, c, vocab):
    """Cumulative prefixes of extract_features, rebuilt from the same
    public operators in the same order; the last one is the real call.
    Returns the prefixes and the real call's plan-building seconds."""
    from engine.operators import windows as W
    from engine.operators.asof import asof_join
    from engine.operators.quality import split_quarantine
    from engine.pipeline import add_text_features, extract_features

    good, _errors = split_quarantine(t)
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    if good.rdd.getNumPartitions() < max(2, n_part // 2):
        good = good.repartition(n_part, "conv_id")
    out = [("quality", good)]
    g = add_text_features(good)
    out.append(("text", g))
    g = W.add_rolling(W.add_context_ffill(W.add_sessionization(W.add_lag_lead(W.with_ts_sec(g)))))
    g = g.drop(W.TS_SEC)
    out.append(("windows", g))
    out.append(("asof", asof_join(g, c, strict=False, strategy="jvm")))
    t0 = time.perf_counter()
    out.append(("topk", extract_features(spark, t, c, vocab=vocab)[0]))
    return out, time.perf_counter() - t0


def _prefix_layers(b: Bench, t, c, vocab) -> list:
    """quality/text/windows/asof/topk exec seconds as increments of
    cumulative-prefix materialisations (median of PREFIX_REPS traced
    reps). They telescope to a traced full pipeline run, whose ratio to
    an untraced full run made alongside is trace.prefix_sum_ratio.
    Returns the traced full runs' spans."""
    from engine.pipeline import extract_features

    spans, traced, full, spent, busy = [], [], [], b.tracer.spent_s, 0.0
    for _ in range(PREFIX_REPS):
        t0 = time.perf_counter()
        noop(extract_features(b.spark, t, c, vocab=vocab)[0])
        full.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        prefixes, plan_s = _pipeline_prefixes(b.spark, t, c, vocab)
        walls = []
        for layer, df in prefixes:
            with b.tracer.span(f"flagship.{layer}") as sp:
                noop(df)
            walls.append(sp["wall_s"])
        busy += time.perf_counter() - t0
        spans.append(sp)
        traced.append((plan_s, walls))
    for i, name in enumerate(["quality", "text", "windows", "asof", "topk"]):
        b.layer[f"{name}.exec_s"] = median([w[i] - (w[i - 1] if i else 0.0) for _, w in traced])
    b.layer["trace.prefix_sum_ratio"] = median([p + w[-1] for p, w in traced]) / median(full)
    b.layer.setdefault("trace.overhead_frac", (b.tracer.spent_s - spent) / busy)
    return spans


def flagship_batch(b: Bench) -> None:
    from pyspark.sql import functions as F

    from engine.generate import TOOLS
    from engine.oracle.features import oracle_features
    from engine.pipeline import extract_features

    s = b.size
    tp = inputs.transcripts(b.args.seed, s["flagship_turns"])
    cp = inputs.context(tp, b.args.seed)
    inputs.write_turns(tp, b.path("in", "turns"))
    inputs.write_turns(cp, b.path("in", "context"))
    slice_ids = sorted(tp["conv_id"].unique())[: s["slice_convs"]]
    exp_slice = oracle_features(tp[tp.conv_id.isin(slice_ids)], cp[cp.conv_id.isin(slice_ids)])
    exp_fp = checks.fingerprint_pandas(oracle_features(tp, cp))
    b.record.update(turns=len(tp), context_events=len(cp))
    b.phase("inputs")
    b.setup()
    b.phase("setup")
    spark = b.spark
    t = spark.read.parquet(b.path("in", "turns"))
    c = spark.read.parquet(b.path("in", "context"))
    vocab = list(TOOLS)

    # untimed warm-up 1 (cold): the slice, checked against the oracle
    f = extract_features(spark, t.filter(F.col("conv_id").isin(slice_ids)),
                         c.filter(F.col("conv_id").isin(slice_ids)), vocab=vocab)[0]
    got = f.toPandas()[list(exp_slice.columns)]
    if b.args.corrupt:
        got = checks.corrupt_frame(got)
    b.check("flagship.slice_parity", checks.compare_frames(got, exp_slice, checks.FEATURE_KEYS))
    # untimed warm-up 2: the full input, fingerprinted against the oracle
    fp = checks.fingerprint_spark(extract_features(spark, t, c, vocab=vocab)[0])
    b.check("flagship.fingerprint", checks.compare_fingerprints(fp, exp_fp, corrupt=b.args.corrupt))
    b.phase("warmup")

    def rep():
        t0 = time.perf_counter()
        feats = extract_features(spark, t, c, vocab=vocab)[0]
        t1 = time.perf_counter()
        noop(feats)
        return t1 - t0, time.perf_counter() - t1

    if b.trace:
        b.args.seconds /= 2
    reps = b.timed(rep, min_reps=3)
    work = [p + e for p, e in reps]
    b.e2e["work_s"] = median(work)
    b.record.update(reps=len(reps))
    b.report(turns_per_s=len(tp) / median(work))
    b.phase("timed")
    if not b.trace:
        return

    spans = _prefix_layers(b, t, c, vocab)
    _pipeline_layer(b, [p for p, _ in reps], [e for _, e in reps], spans)
    b.layer["quality.rows_quarantined"] = len(tp) - fp["rows"]
    b.layer["asof.rows_unmatched"] = fp["rows"] - fp["n_asof_ctx_value"]
    b.phase("traced")


def _pipeline_layer(b: Bench, plan_s: list, exec_s: list, spans: list) -> None:
    """pipeline.* from the actions that execute the feature plan."""
    b.layer["pipeline.plan_s"] = median(plan_s)
    b.layer["pipeline.exec_s"] = median(exec_s)
    for k in ("jobs", "shuffle_bytes", "spill_bytes"):
        b.layer[f"pipeline.{k}"] = median([sp[k] for sp in spans])
    b.layer["pipeline.task_skew"] = median([task_skew(sp) for sp in spans])
    nodes = b.tracer.plan_nodes(spans[-1]["job_ids"])
    b.layer["pipeline.plan_exchanges"] = nodes["Exchange"]
    b.layer["pipeline.plan_sorts"] = nodes["Sort"]
    b.layer["pipeline.plan_windows"] = nodes["Window"]


# --- commit_job ---------------------------------------------------------------

class _CommitProbe:
    """Wrappers around the public calls run_resumable and run_incremental
    make (TableIO writes, hot-key detection, vocabulary discovery, plan
    building), so each is timed from outside; in traced runs each call
    also gets its own job group."""

    def __init__(self, b: Bench):
        import engine.operators.skew as skew
        import engine.pipeline as pipeline
        import engine.runner as runner
        from engine.tableio import TableIO

        self.b, self.stats = b, {}
        self.reset()
        self._undo = []

        def patch(obj, name, make):
            orig = getattr(obj, name)
            setattr(obj, name, make(orig))
            self._undo.append((obj, name, orig))

        def append(orig):
            def wrapped(io, spark, df, table, run_id, *a, **kw):
                with b.span("tableio.append") as sp:
                    a0 = time.perf_counter()
                    m = orig(io, spark, df, table, run_id, *a, **kw)
                    sp["wall_s"] = time.perf_counter() - a0
                st = self.stats
                st["append_s"] += sp["wall_s"]
                st["append_jobs"] += sp.get("jobs", 0)
                st["files"] += m.get("n_files", 0)
                st["bytes"] += m.get("total_bytes", 0)
                st["manifests"] += 1
                if table == "features" and st["batch_t0"] is not None:
                    dt = time.perf_counter() - st["batch_t0"]
                    st["hot_batch_s" if run_id.endswith("-hot") else "batch_s"].append(dt)
                    st["exec_s"].append(sp["wall_s"])
                    st["exec_spans"].append(sp)
                    st["batch_t0"] = None
                return m
            return wrapped

        def hot(orig):
            def wrapped(df, *a, **kw):
                a0 = time.perf_counter()
                with b.span("skew.detect"):
                    res = orig(df, *a, **kw)
                    rows = res.collect()
                self.stats["detect_s"] += time.perf_counter() - a0
                return df.sparkSession.createDataFrame(rows, res.schema)
            return wrapped

        def vocab(orig):
            def wrapped(*a, **kw):
                a0 = time.perf_counter()
                with b.span("runner.vocab"):
                    res = orig(*a, **kw)
                self.stats["vocab_s"] += time.perf_counter() - a0
                return res
            return wrapped

        def plan(orig):
            def wrapped(*a, **kw):
                self.stats["batch_t0"] = time.perf_counter()
                res = orig(*a, **kw)
                self.stats["plan_s"].append(time.perf_counter() - self.stats["batch_t0"])
                return res
            return wrapped

        patch(TableIO, "append", append)
        patch(runner, "extract_features", plan)
        if b.trace:
            patch(skew, "hot_entities", hot)
            patch(pipeline, "discover_tool_vocab", vocab)

    def take(self) -> dict:
        """This pass's counters; resets them."""
        out = self.stats
        self.reset()
        return out

    def reset(self):
        self.stats = {"append_s": 0.0, "append_jobs": 0, "files": 0, "bytes": 0, "manifests": 0,
                      "detect_s": 0.0, "vocab_s": 0.0, "batch_t0": None, "batch_s": [],
                      "hot_batch_s": [], "plan_s": [], "exec_s": [], "exec_spans": []}

    def close(self):
        for obj, name, orig in reversed(self._undo):
            setattr(obj, name, orig)


def commit_job(b: Bench) -> None:
    import pandas as pd
    from pyspark.sql import functions as F

    from engine.oracle.features import oracle_features, oracle_quarantine_mask
    from engine.pipeline import extract_features
    from engine.runner import run_incremental, run_resumable
    from engine.tableio import TableIO

    s = b.size
    seed = b.args.seed
    # the generator's 400-turn cap lets the largest conversations hold
    # up to 10% of all turns, so run_resumable's hot-key batch has work
    # to do; the increment caps them at 100 turns, which keeps its size
    # within ~10% of inc_turns
    tp = inputs.transcripts(seed, s["commit_turns"])
    cp = inputs.context(tp, seed)
    inc_tp = inputs.transcripts(seed + 7, s["inc_turns"], max_turns=100)
    inc_cp = inputs.context(inc_tp, seed + 7)
    for name, pdf in (("turns", tp), ("context", cp), ("inc_turns", inc_tp), ("inc_context", inc_cp)):
        inputs.write_turns(pdf, b.path("in", name))
    exp = oracle_features(tp, cp)
    exp_fp = checks.fingerprint_pandas(exp)
    exp_inc_fp = checks.fingerprint_pandas(oracle_features(inc_tp, inc_cp))
    exp_errors = int(oracle_quarantine_mask(tp).sum())
    lo, hi = (pd.Timestamp(x) for x in READ_RANGE)
    exp_read = int(((exp.ts >= lo) & (exp.ts <= hi)).sum())
    b.record.update(turns=len(tp), inc_turns=len(inc_tp))
    b.phase("inputs")
    b.setup()
    b.phase("setup")
    spark = b.spark
    t = spark.read.parquet(b.path("in", "turns"))
    c = spark.read.parquet(b.path("in", "context"))
    inc_c = spark.read.parquet(b.path("in", "inc_context"))
    n = [0]

    def scoped_read(io):
        lo, hi = READ_RANGE
        return io.read(spark, "features", ts_range=READ_RANGE).filter(F.col("ts").between(lo, hi))

    def one_pass():
        """Batch job, compaction, time-scoped read, then one increment
        (source append + run_incremental) into a fresh table root."""
        n[0] += 1
        io = TableIO(b.path("tables", f"pass{n[0]}"))
        traced0 = b.tracer.spent_s if b.tracer else 0.0
        with b.span("runner.run_resumable") as job_span:
            t0 = time.perf_counter()
            summary = run_resumable(spark, t, c, io, job_id="job", n_batches=s["batches"],
                                    isolate_hot=True, hot_sample_frac=HOT_SAMPLE_FRAC)
            t1 = time.perf_counter()
        stored = sum(io.read_manifest(tb, r)["total_bytes"] for tb in ("features", "errors")
                     for r in io.committed_runs(tb))
        io.compact(spark, "features")
        t2 = time.perf_counter()
        noop(scoped_read(io))
        t3 = time.perf_counter()
        io.append(spark, spark.read.parquet(b.path("in", "inc_turns")), "turns", "src-0001", ts_col="ts")
        run_incremental(spark, io, "inc", source_table="turns", context=inc_c,
                        features_table="inc_features", errors_table="inc_errors")
        t4 = time.perf_counter()
        return {"io": io, "job_s": t1 - t0, "compact_s": t2 - t1, "read_s": t3 - t2,
                "inc_s": t4 - t3, "pass_s": t4 - t0, "summary": summary, "stored": stored,
                "job_span": job_span, "tracer_s": (b.tracer.spent_s if b.tracer else 0.0) - traced0}

    def drop(p):
        shutil.rmtree(p["io"].root, ignore_errors=True)

    # untimed warm-up: the pipeline and a TableIO append on a few conversations
    warm_io = TableIO(b.path("tables", "warm"))
    few = t.filter(F.col("conv_id").isin(sorted(tp.conv_id.unique())[:20]))
    warm_io.append(spark, extract_features(spark, few, c)[0], "features", "warm", ts_col="ts")
    shutil.rmtree(warm_io.root, ignore_errors=True)
    b.phase("warmup")

    # traced runs make one (traced) pass; tracing overhead is the
    # tracer's own time, so no untraced pass is needed to compare with
    probe = _CommitProbe(b)
    try:
        passes = b.timed(lambda: {**one_pass(), "stats": probe.take()},
                         min_reps=1, max_reps=1 if b.trace else 2)
    finally:
        probe.close()
    for p in passes[:-1]:
        drop(p)
    last = passes[-1]
    b.e2e["work_s"] = median([p["pass_s"] for p in passes])
    b.record.update(passes=len(passes), pass_s=[round(p["pass_s"], 3) for p in passes],
                    hot_keys=last["summary"]["hot_keys"])
    b.report(
        turns_per_s=len(tp) / median([p["job_s"] for p in passes]),
        increment_s_p50=median([p["inc_s"] for p in passes]),
        compact_s=median([p["compact_s"] for p in passes]),
        read_s=median([p["read_s"] for p in passes]),
        bytes_per_turn=last["stored"] / len(tp),
    )
    b.phase("timed")

    io = last["io"]
    fp = checks.fingerprint_spark(io.read(spark, "features"))
    b.check("commit.features_fingerprint", checks.compare_fingerprints(fp, exp_fp, corrupt=b.args.corrupt))
    n_err = sum(io.read_manifest("errors", r)["total_rows"] for r in io.committed_runs("errors"))
    b.check("commit.errors_rows", [] if n_err == exp_errors else [f"{n_err} != {exp_errors}"])
    n_read = scoped_read(io).count()
    b.check("commit.read_rows", [] if n_read == exp_read else [f"{n_read} != {exp_read}"])
    got = checks.fingerprint_spark(io.read(spark, "inc_features"))
    b.check("commit.incremental_fingerprint", checks.compare_fingerprints(got, exp_inc_fp))
    drop(last)
    b.phase("checks")
    if not b.trace:
        return

    st, L = last["stats"], b.layer
    L["trace.overhead_frac"] = last["tracer_s"] / last["pass_s"]
    L["tableio.append_s"] = st["append_s"]
    L["tableio.append_jobs"] = st["append_jobs"]
    L["tableio.files_written"] = st["files"]
    L["tableio.bytes_written"] = st["bytes"]
    L["tableio.manifests"] = st["manifests"]
    L["tableio.compact_s"] = last["compact_s"]
    L["tableio.read_s"] = last["read_s"]
    L["skew.detect_s"] = st["detect_s"]
    L["runner.vocab_s"] = st["vocab_s"]
    L["runner.hot_keys"] = last["summary"]["hot_keys"]
    L["runner.hot_batch_s"] = sum(st["hot_batch_s"])
    L["runner.batch_s_p50"] = median(st["batch_s"])
    L["runner.jobs_per_batch"] = last["job_span"]["jobs"] / len(last["summary"]["batches"])
    L["quality.rows_quarantined"] = n_err
    L["asof.rows_unmatched"] = fp["rows"] - fp["n_asof_ctx_value"]
    _pipeline_layer(b, st["plan_s"], st["exec_s"], st["exec_spans"])
    # the compute layers, split on the job's whole input outside TableIO
    from engine.generate import TOOLS

    _prefix_layers(b, t, c, list(TOOLS))
    b.phase("traced")


# --- gate_queries ---------------------------------------------------------------

def gate_queries(b: Bench) -> None:
    import duckdb

    import __spark_entry__ as entry

    sf_dir = b.path("in", "sf")
    inputs.write_gate_tables(inputs.gate_tables(b.args.seed, b.size["sf"]), sf_dir)
    queries, oracles = entry.queries(), entry.oracle_sql()
    names = list(GATE_FAMILY)
    timed = names[:GATE_TIMED]
    if not b.trace:
        names = timed
    b.record.update(sf=b.size["sf"], queries=len(names))
    b.phase("inputs")
    b.setup()
    b.phase("setup")
    spark = b.spark
    con = duckdb.connect()
    for tb in ("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
               "events", "documents", "embeddings"):
        con.execute(f"CREATE VIEW {tb} AS SELECT * FROM '{sf_dir}/{tb}.parquet'")

    # untimed warm-up pass: every query once, checked against DuckDB
    for i, q in enumerate(names):
        got = queries[q](spark, sf_dir).toPandas()
        if b.args.corrupt and i == 0:
            got = checks.corrupt_frame(got)
        b.check(f"gate.{q}", checks.compare_frames(
            got, con.execute(checks.materialized(oracles[q])).df(), rtol=1e-9, atol=1e-9))
    con.close()
    b.phase("check_pass")

    def one_pass(names=names):
        """{query: (build-call seconds, action seconds)}; in traced runs
        each query is a span."""
        times = {}
        for q in names:
            with b.span(f"gate.{q}"):
                t0 = time.perf_counter()
                df = queries[q](spark, sf_dir)
                t1 = time.perf_counter()
                noop(df)
                times[q] = (t1 - t0, time.perf_counter() - t1)
        return times

    one_pass(timed)  # untimed: the first pass after the cold one is still ~10% slower
    spent = b.tracer.spent_s if b.tracer else 0.0
    passes = b.timed(one_pass, min_reps=1 if b.trace else 3, max_reps=1 if b.trace else 50)
    # per-query medians, so one pass the host slowed down moves none of them
    totals = [sum(sum(p[q]) for q in timed) for p in passes]
    b.e2e["work_s"] = sum(median([sum(p[q]) for p in passes]) for q in timed)
    b.record.update(passes=len(passes), pass_s=[round(x, 3) for x in totals],
                    query_s={q: round(median([sum(p[q]) for p in passes]), 3) for q in names},
                    pass_query_s={q: [round(sum(p[q]), 4) for p in passes] for q in timed})
    b.report(gate_total_s=b.e2e["work_s"],
             gate_geomean_s=median([geomean([sum(p[q]) for q in timed]) for p in passes]))
    b.phase("timed")
    if not b.trace:
        return
    p = passes[0]
    b.layer["trace.overhead_frac"] = (b.tracer.spent_s - spent) / sum(map(sum, p.values()))
    for q, fam in GATE_FAMILY.items():
        b.layer[f"gate.{fam}.build_s"] = b.layer.get(f"gate.{fam}.build_s", 0.0) + p[q][0]
        b.layer[f"gate.{fam}.exec_s"] = b.layer.get(f"gate.{fam}.exec_s", 0.0) + p[q][1]
    for q in GATE_NAMED:
        b.layer[f"gate.q.{q}_s"] = sum(p[q])


WORKLOADS = {"flagship_batch": flagship_batch, "commit_job": commit_job, "gate_queries": gate_queries}
