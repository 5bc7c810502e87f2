"""Seeded benchmark inputs, written as parquet the engine reads back.

Transcripts come from the engine's own generator (plus a fixed share
of rows the quality gates must quarantine); the gate tables are
synthesised here in the shape of the TPC-H-like sf datasets the gate
queries read, so a run never reads anything outside its checkout.
Same seed, same bytes.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from engine.generate import generate_context_events, generate_transcripts

BAD_ROLE_FRAC = 0.003
BAD_IDX_FRAC = 0.002
MEAN_CONV_TURNS = 15  # of the generator's zipf sizes, capped at 400


def transcripts(seed: int, turns: int, max_turns: int = 400) -> pd.DataFrame:
    """~`turns` rows: whole conversations are kept until the target is
    reached, so the row count barely moves with the seed."""
    n_convs = int(turns / MEAN_CONV_TURNS * 1.5) + 8
    tp = generate_transcripts(n_convs=n_convs, seed=seed, max_turns=max_turns)
    sizes = tp.groupby("conv_id").size().sort_index()
    keep = sizes.index[: int(np.searchsorted(sizes.cumsum().to_numpy(), turns)) + 1]
    tp = tp[tp["conv_id"].isin(keep)].reset_index(drop=True)
    rng = np.random.default_rng(seed + 1)
    u = rng.random(len(tp))
    tp.loc[u < BAD_ROLE_FRAC, "role"] = "robot"
    tp.loc[(u >= BAD_ROLE_FRAC) & (u < BAD_ROLE_FRAC + BAD_IDX_FRAC), "turn_idx"] = -1
    return tp


def context(tp: pd.DataFrame, seed: int) -> pd.DataFrame:
    return generate_context_events(tp, seed=seed + 2)


def conv_slices(tp: pd.DataFrame, n: int) -> list[pd.DataFrame]:
    """Split into `n` conversation-aligned snapshots (a conversation
    never straddles two), the contract of run_incremental."""
    convs = np.sort(tp["conv_id"].unique())
    part = np.searchsorted(np.linspace(0, len(convs), n + 1)[1:-1], np.arange(len(convs)), side="right")
    owner = dict(zip(convs, part))
    key = tp["conv_id"].map(owner)
    return [tp[key == i].reset_index(drop=True) for i in range(n)]


def _utc(pdf: pd.DataFrame, cols: list[str]) -> pa.Table:
    table = pa.Table.from_pandas(pdf, preserve_index=False)
    for c in cols:
        i = table.schema.get_field_index(c)
        table = table.set_column(i, c, table.column(c).cast(pa.timestamp("us", tz="UTC")))
    return table


def write_turns(pdf: pd.DataFrame, path: str, files: int = 4) -> None:
    """Multi-file parquet with UTC timestamps (Spark reads them as
    TIMESTAMP, like the engine's own writes)."""
    os.makedirs(path, exist_ok=True)
    ts_cols = [c for c in ("ts", "event_ts") if c in pdf.columns]
    for i, chunk in enumerate(np.array_split(np.arange(len(pdf)), files)):
        pq.write_table(_utc(pdf.iloc[chunk], ts_cols), os.path.join(path, f"part-{i:05d}.parquet"))


# --- gate tables -------------------------------------------------------

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "red", "cold", "hot", "new", "old", "small", "large"]
PART_NOUN = ["rod", "gear", "anvil", "widget", "bolt", "spring", "valve", "pipe"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
DOC_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "en", "fr", "es", "zh", "de"]
EMBED_DIM = 64


def _days(rng, n, lo, hi):
    lo, hi = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    return (lo + rng.integers(0, (hi - lo).astype(int) + 1, n)).astype("datetime64[us]")


def gate_tables(seed: int, sf: float) -> dict[str, pd.DataFrame]:
    """The sf tables the gate queries read, with sf0.001-like domains:
    1500·sf/0.001 orders, 4 lines each, 5% near-duplicate documents,
    label-clustered unit embeddings."""
    rng = np.random.default_rng(seed)
    k = sf / 0.001
    n_cust, n_supp, n_part = int(150 * k), max(10, int(10 * k)), int(200 * k)
    n_ord, n_line, n_ev = int(1500 * k), int(6000 * k), int(1000 * k)
    n_docs, n_vec = 500, 500
    t: dict[str, pd.DataFrame] = {}
    t["region"] = pd.DataFrame({"r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS})
    t["nation"] = pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    })
    t["customer"] = pd.DataFrame({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": rng.uniform(-999.99, 9999.99, n_cust).round(2),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust),
    })
    t["supplier"] = pd.DataFrame({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": rng.uniform(-999.99, 9999.99, n_supp).round(2),
    })
    pk = np.arange(n_part, dtype=np.int64)
    t["part"] = pd.DataFrame({
        "p_partkey": pk,
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, n_part), rng.choice(PART_NOUN, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": (900 + (pk % 200) / 10).round(2),
    })
    t["orders"] = pd.DataFrame({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": rng.uniform(1000, 500000, n_ord).round(2),
        "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord),
    })
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    t["lineitem"] = pd.DataFrame({
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": (qty * rng.uniform(900, 2100, n_line)).round(2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _days(rng, n_line, "1995-01-02", "2001-11-04"),
    })
    ev_ts = np.datetime64("2024-01-01", "us") + np.sort(rng.integers(0, 30 * 86400 * 10**6, n_ev)).astype("timedelta64[us]")
    t["events"] = pd.DataFrame({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": ev_ts,
        "user_id": rng.integers(0, max(15, int(15 * k)), n_ev).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": rng.uniform(0.01, 330, n_ev).round(2),
        "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, n_ev)],
    })
    texts = []
    for i in range(n_docs):
        if i >= 50 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup" * int(rng.integers(0, 3)))
        else:
            texts.append(" ".join(rng.choice(DOC_WORDS, int(rng.integers(8, 90)))))
    t["documents"] = pd.DataFrame({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n_docs),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
    })
    labels = rng.integers(0, 10, n_vec).astype(np.int32)
    centers = rng.normal(size=(10, EMBED_DIM))
    vec = rng.normal(size=(n_vec, EMBED_DIM)) + 0.15 * centers[labels]
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pd.DataFrame({
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": list(vec),
        "label": labels,
    })
    return t


def write_gate_tables(tables: dict[str, pd.DataFrame], sf_dir: str) -> None:
    """One parquet file per table (`<sf_dir>/<name>.parquet`), naive
    timestamps, as the queries and their DuckDB oracles expect."""
    os.makedirs(sf_dir, exist_ok=True)
    for name, pdf in tables.items():
        pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), os.path.join(sf_dir, f"{name}.parquet"))
