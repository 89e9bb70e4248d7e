"""Seeded inputs for the three benchmark workloads.

Every input derives from ``numpy.random.RandomState(seed)``: the same
(workload, seed, size) gives byte-identical parquet files, which are cached
under ``perfbench/.inputs`` keyed by exactly that triple. Payloads come from
the public ``ocr_spark.datagen.make_payload``; only the category weights
and the keyword dim differ per workload.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

from ocr_spark import datagen

#: the datagen reference mix (plain 30%, html 25%, tool 15%, pdfish 12%,
#: noisy + very_noisy 6%, ...)
CHAT_MIX = dict(datagen.CATEGORIES)

#: markup-heavy dirty traffic: most turns go through the Python layout /
#: DOM parse and about a tenth take the quality-gated second pass
MARKUP_MIX = {
    "html": 0.30,
    "pdfish": 0.25,
    "wrapped": 0.10,
    "malformed": 0.05,
    "noisy": 0.15,
    "very_noisy": 0.10,
    "tool": 0.05,
}

#: size of the reference's production keyword dim
BIG_DIM_SIZE = 365

#: incremental_commit: untimed warm-up commits after the set-up commit, then
#: timed commits, one landing file each. Fixed, so every checkout commits
#: the same files against the same results-table sizes.
WARMUP_COMMITS = 2
COMMITS = 4


class Workload:
    """One workload: its category mix, keyword dim and input size.

    ``turns`` is exact, so every seed gives a batch of the same size;
    ``files`` > 1 splits the input into that many equal landing files (the
    incremental workload commits one file at a time)."""

    def __init__(self, name, mix, turns, big_dim=False, files=1):
        self.name = name
        self.mix = mix
        self.turns = turns
        self.big_dim = big_dim
        self.files = files

    def keywords(self, seed: int) -> list[str]:
        return synthetic_dim(seed) if self.big_dim else list(datagen.KEYWORDS)


WORKLOADS = {
    "chat_mixed": Workload("chat_mixed", CHAT_MIX, turns=4000),
    "markup_dirty": Workload("markup_dirty", MARKUP_MIX, turns=2000, big_dim=True),
    "incremental_commit": Workload(
        "incremental_commit", CHAT_MIX, turns=200 * (1 + WARMUP_COMMITS + COMMITS),
        files=1 + WARMUP_COMMITS + COMMITS,
    ),
}


def synthetic_dim(seed: int, size: int = BIG_DIM_SIZE) -> list[str]:
    """``size`` distinct 1-3 word phrases over ``datagen.WORD_POOL`` —
    mostly 2- and 3-grams, so a dim of production size still matches a
    few spans per turn rather than every other word."""
    rs = np.random.RandomState(seed + 7919)
    pool = datagen.WORD_POOL
    out: set[str] = set()
    while len(out) < size:
        n = rs.choice([1, 2, 3], p=[0.05, 0.6, 0.35])
        out.add(" ".join(rs.choice(pool, size=n)))
    return sorted(out)


def generate(mix: dict[str, float], n_turns_total: int, seed: int) -> pd.DataFrame:
    """Exactly ``n_turns_total`` turns in the ``schemas.TRANSCRIPTS``
    shape: datagen's heavy-tailed turns per conversation, with payload
    categories drawn from ``mix``; the last conversation is cut short."""
    rs = np.random.RandomState(seed)
    names = list(mix)
    p = np.array([mix[c] for c in names])
    p = p / p.sum()
    rows = []
    base_ts = np.datetime64("2025-01-01T00:00:00")
    ci = 0
    while len(rows) < n_turns_total:
        conv_id = f"c{ci:08d}-{rs.randint(0, 16**6):06x}"
        n_turns = int(min(500, max(1, np.exp(rs.normal(1.6, 1.1)))))
        t = base_ts + np.timedelta64(int(rs.randint(0, 10_000_000)), "s")
        for ti in range(n_turns):
            role = datagen.ROLES[ti % 3] if rs.rand() < 0.8 else datagen.ROLES[rs.randint(3)]
            text = datagen.make_payload(rs, names[rs.choice(len(names), p=p)])
            tool = datagen.TOOLS[rs.randint(len(datagen.TOOLS))] if role == "tool" else None
            t = t + np.timedelta64(int(rs.randint(1, 240)), "s")
            rows.append((conv_id, ti, role, text, tool, t))
        ci += 1
    df = pd.DataFrame(rows[:n_turns_total], columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"])
    df["turn_idx"] = df["turn_idx"].astype("int32")
    # Spark cannot read TIMESTAMP(NANOS) parquet
    df["ts"] = df["ts"].astype("datetime64[us]")
    return df


def _write(df: pd.DataFrame, path: str) -> None:
    tmp = path + ".tmp"
    df.to_parquet(tmp, index=False, coerce_timestamps="us", allow_truncated_timestamps=True)
    os.replace(tmp, path)


def input_files(root: str, wl: Workload, seed: int, scale: float = 1.0) -> list[str]:
    """Generate (or reuse) the workload's parquet files under ``root``:
    ``wl.files`` equal slices in arrival order, so a conversation may
    continue in the next landing file, as live traffic does."""
    n = max(wl.files, int(wl.turns * scale))
    d = os.path.join(root, f"{wl.name}-s{seed}-n{n}")
    paths = [os.path.join(d, f"part-{i:03d}.parquet") for i in range(wl.files)]
    if all(os.path.exists(p) for p in paths):
        return paths
    os.makedirs(d, exist_ok=True)
    df = generate(wl.mix, n, seed)
    bounds = np.linspace(0, n, wl.files + 1).astype(int)
    for i, p in enumerate(paths):
        _write(df.iloc[bounds[i] : bounds[i + 1]].reset_index(drop=True), p)
    return paths

