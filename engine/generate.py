"""Deterministic synthetic transcript + context-event generator.

Seed-fixed (default 42), fully vectorized numpy — no external data.
Generation rules follow FIXTURES.md §1-2: zipf conversation sizes
(hot-key skew for salting tests), role cycling with perturbations,
text with OCR-normalization stressors (digits 0/1/5, unicode dashes,
curly quotes, non-printables, whitespace runs, out-of-whitelist
punctuation — exercising SURVEY.md §2.8 X1-X7), ~60%-null zipf-
weighted tools, gap-mixture timestamps with ~1% duplicate-ts ties,
rows emitted in shuffled order.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

TOOLS = [
    "search", "browser", "python", "bash", "calculator", "sql",
    "retrieval", "editor", "planner", "mailer", "scheduler", "vision",
]
ROLES = ["user", "assistant", "system", "tool"]

# Token pool with normalization stressors (SURVEY §2.8 X1-X7 coverage).
_BASE_TOKENS = [
    "alpha", "beta", "Gamma", "delta05", "r0ute", "p1an", "5ystem",
    "query", "window", "SESSION", "tool-call", "step", "trace",
    "eval", "merge", "a", "the", "of", "and", "run", "batch",
    "shuffle", "join", "agg", "scan", "sort", "spill", "skew",
]
_STRESSORS = [
    "—dash–run",        # em/en dashes → X2
    "‘quoted’",          # curly single quotes → X2
    "“double”",          # curly double quotes → X2
    "bad\x00char",                 # non-printable → X3
    "tab\tsep",                    # whitespace run → X4
    "semi;colon!",                 # whitelist punctuation → X5
    "str@nge#sym$bols%",           # out-of-whitelist punctuation → X5
    "multi   space",               # collapse → X4
    "105501",                      # digit map 0/1/5 → X2
    "café…",             # non-ascii + ellipsis
]
TEXT_POOL_SIZE = 8192


def _build_text_pool(rng: np.random.Generator) -> np.ndarray:
    """Pre-built pool of raw text strings; rows sample from the pool.

    Pool-based generation keeps multi-million-row benchmark generation
    vectorized (index assignment) while every string still exercises
    the full normalization pipeline.
    """
    vocab = np.array(_BASE_TOKENS + _STRESSORS, dtype=object)
    n_tokens = rng.integers(3, 28, size=TEXT_POOL_SIZE)
    picks = rng.integers(0, len(vocab), size=int(n_tokens.sum()))
    out = []
    pos = 0
    for n in n_tokens:
        toks = vocab[picks[pos : pos + n]]
        pos += n
        out.append(" ".join(toks.tolist()))
    return np.array(out, dtype=object)


def generate_transcripts(
    n_convs: int = 300,
    seed: int = 42,
    max_turns: int = 400,
    start: str = "2024-01-01",
    shuffled: bool = True,
) -> pd.DataFrame:
    """Return a pandas DataFrame with the authoritative transcript shape."""
    rng = np.random.default_rng(seed)

    sizes = np.clip(rng.zipf(1.5, size=n_convs), 2, max_turns).astype(np.int64)
    n = int(sizes.sum())
    conv_ord = np.repeat(np.arange(n_convs), sizes)
    conv_id = np.char.add("conv-", np.char.zfill(conv_ord.astype(str), 8))

    # dense intra-conversation index
    first_of_conv = np.zeros(n, dtype=bool)
    first_of_conv[np.cumsum(sizes)[:-1]] = True
    first_of_conv[0] = True
    turn_idx = np.arange(n) - np.repeat(np.concatenate(([0], np.cumsum(sizes)[:-1])), sizes)

    # roles: user/assistant alternation with seeded perturbation
    base_role = np.where(turn_idx % 2 == 0, 0, 1)  # user, assistant
    perturb = rng.random(n)
    role_ord = np.where(perturb < 0.06, 2, np.where(perturb < 0.14, 3, base_role))
    role = np.array(ROLES, dtype=object)[role_ord]

    # text: pool sample; ~2% null, ~3% empty
    pool = _build_text_pool(rng)
    text = pool[rng.integers(0, TEXT_POOL_SIZE, size=n)].copy()
    u = rng.random(n)
    text[u < 0.02] = None
    text[(u >= 0.02) & (u < 0.05)] = ""

    # tool: ~60% null; zipf-weighted over 12 names, forced non-null on 'tool' role
    tool_rank = np.minimum(rng.zipf(1.6, size=n) - 1, len(TOOLS) - 1)
    tool = np.array(TOOLS, dtype=object)[tool_rank]
    tool_null = rng.random(n) < 0.60
    tool_null &= role != "tool"
    tool[tool_null] = None

    # timestamps: per-conv start + cumulative gap mixture
    long_gap = rng.random(n) < 0.20
    gaps = np.where(
        long_gap,
        rng.uniform(45 * 60, 6 * 3600, size=n),
        rng.uniform(1.0, 120.0, size=n),
    )
    conv_starts = rng.uniform(0, 30 * 86400, size=n_convs)
    gaps[first_of_conv] = conv_starts  # first row's "gap" = conv start offset
    ts_s = np.add.accumulate(gaps)
    # reset accumulation at conversation starts
    base = np.repeat(ts_s[first_of_conv] - conv_starts, sizes)
    ts_s = ts_s - base
    # ~1% duplicate-ts ties (tie-break is turn_idx). Sequential loop,
    # NOT vectorized ts_s[idx] = ts_s[idx-1]: with two adjacent flagged
    # rows the vectorized form reads the stale pre-update value and the
    # second row fails to tie; the loop chains adjacent flags into an
    # intended triple tie. idx is
    # ~1% of n — trivial even at bench scale.
    dup = (rng.random(n) < 0.01) & ~first_of_conv
    for i in np.nonzero(dup)[0]:
        ts_s[i] = ts_s[i - 1]
    # re-sort non-decreasing within conv after the dup stamp (dup sets equal
    # to the *previous* row so order is preserved; but a dup row's successors
    # keep their larger cumsum — still monotone). Round to ms for parquet.
    ts = pd.Timestamp(start, tz=None) + pd.to_timedelta(np.round(ts_s, 3), unit="s")

    df = pd.DataFrame(
        {
            "conv_id": conv_id,
            "turn_idx": turn_idx.astype(np.int32),
            "role": role,
            "text": text,
            "tool": tool,
            "ts": ts,
        }
    )
    if shuffled:
        df = df.iloc[rng.permutation(n)].reset_index(drop=True)
    return df


def generate_context_events(
    transcripts: pd.DataFrame,
    seed: int = 43,
    events_per_conv: float = 6.0,
) -> pd.DataFrame:
    """Context side for the as-of join (FIXTURES.md §2).

    Interleaved with turn timestamps; includes events exactly equal to
    some transcript ts (boundary <= vs < coverage), events after the
    last turn, and ~2% unmatched conv_ids.
    """
    rng = np.random.default_rng(seed)
    g = transcripts.groupby("conv_id")["ts"]
    lo = g.min()
    hi = g.max()
    convs = lo.index.to_numpy()
    n_convs = len(convs)

    counts = rng.poisson(events_per_conv, size=n_convs) + 1
    n = int(counts.sum())
    conv = np.repeat(convs, counts)
    lo_r = np.repeat(lo.to_numpy(), counts)
    hi_r = np.repeat(hi.to_numpy(), counts)
    span = (hi_r - lo_r).astype("timedelta64[ms]").astype(np.int64)
    # spread in [-5%, +15%] of span so some events precede the first turn
    # and some trail the last
    frac = rng.uniform(-0.05, 1.15, size=n)
    event_ts = lo_r + (span * frac).astype("timedelta64[ms]")

    # force ~3% of events to land exactly on a turn timestamp (boundary test)
    exact = rng.random(n) < 0.03
    turn_ts_by_conv = transcripts.groupby("conv_id")["ts"].apply(lambda s: s.to_numpy())
    for i in np.nonzero(exact)[0]:
        arr = turn_ts_by_conv[conv[i]]
        event_ts[i] = arr[rng.integers(0, len(arr))]

    # ~2% unmatched conv ids
    unmatched = rng.random(n) < 0.02
    conv = conv.astype(object)
    conv[unmatched] = np.char.add(
        "ghost-", np.char.zfill(rng.integers(0, 999, size=int(unmatched.sum())).astype(str), 8)
    )

    labels = np.array(["ok", "warn", "err", "info", None], dtype=object)
    df = pd.DataFrame(
        {
            "conv_id": conv,
            "event_ts": pd.to_datetime(event_ts),
            "event_idx": np.arange(n, dtype=np.int32),
            "ctx_value": rng.uniform(0, 1000, size=n).round(6),
            "ctx_label": labels[
                rng.choice(len(labels), size=n, p=[0.3, 0.25, 0.2, 0.15, 0.1])
            ],
        }
    )
    return df.iloc[rng.permutation(n)].reset_index(drop=True)


def generate_transcripts_conv_range(
    conv_lo: int,
    conv_hi: int,
    seed: int = 42,
    max_turns: int = 400,
    start: str = "2024-01-01",
) -> pd.DataFrame:
    """Per-CONVERSATION-seeded generator over conv ids [conv_lo,
    conv_hi): conversation c's rows depend only on (seed, c), so any
    partitioning of the id range produces byte-identical union — the
    partition-invariance contract of the distributed source
    (engine/sources/transcript_source.py). Distributions mirror
    generate_transcripts (zipf sizes, role perturbation, stressor text
    pool, ~60% null zipf tools, gap-mixture timestamps, ~1%
    duplicate-ts ties); the draws differ from the table-seeded
    generator because seeding is per conversation."""
    pool = _build_text_pool(np.random.default_rng([seed, 2**31]))
    frames = []
    for c in range(conv_lo, conv_hi):
        rng = np.random.default_rng([seed, c])
        n = int(np.clip(rng.zipf(1.5), 2, max_turns))
        turn_idx = np.arange(n)

        base_role = np.where(turn_idx % 2 == 0, 0, 1)
        perturb = rng.random(n)
        role_ord = np.where(perturb < 0.06, 2, np.where(perturb < 0.14, 3, base_role))
        role = np.array(ROLES, dtype=object)[role_ord]

        text = pool[rng.integers(0, TEXT_POOL_SIZE, size=n)].copy()
        u = rng.random(n)
        text[u < 0.02] = None
        text[(u >= 0.02) & (u < 0.05)] = ""

        tool_rank = np.minimum(rng.zipf(1.6, size=n) - 1, len(TOOLS) - 1)
        tool = np.array(TOOLS, dtype=object)[tool_rank]
        tool_null = (rng.random(n) < 0.60) & (role != "tool")
        tool[tool_null] = None

        long_gap = rng.random(n) < 0.20
        gaps = np.where(
            long_gap,
            rng.uniform(45 * 60, 6 * 3600, size=n),
            rng.uniform(1.0, 120.0, size=n),
        )
        gaps[0] = rng.uniform(0, 30 * 86400)  # conversation start offset
        ts_s = np.add.accumulate(gaps)
        # sequential for adjacent flags — see generate_transcripts
        dup = (rng.random(n) < 0.01) & (turn_idx > 0)
        for i in np.nonzero(dup)[0]:
            ts_s[i] = ts_s[i - 1]
        ts = pd.Timestamp(start) + pd.to_timedelta(np.round(ts_s, 3), unit="s")

        frames.append(
            pd.DataFrame(
                {
                    "conv_id": f"conv-{c:08d}",
                    "turn_idx": turn_idx.astype(np.int32),
                    "role": role,
                    "text": text,
                    "tool": tool,
                    "ts": ts,
                }
            )
        )
    if not frames:
        return pd.DataFrame(
            {"conv_id": [], "turn_idx": [], "role": [], "text": [],
             "tool": [], "ts": []}
        )
    return pd.concat(frames, ignore_index=True)
