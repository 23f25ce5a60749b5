"""Seeded transcript corpus and query generator owned by the benchmark.

Shapes follow FIXTURES.md §1-2, but the code is independent of
``igd_spark.corpus`` and ``bench.make_query_set`` so that a change to the
program can never change the benchmark's inputs. Same (seed, size,
GEN_VERSION) -> identical corpus rows and identical query streams.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

GEN_VERSION = 1
N_TERMS = 10_000
ZIPF_S = 1.2
PROBES = ("error", "timeout", "deploy")
ROLES = ("user", "assistant", "tool")
TOOLS = tuple(f"tool{i}" for i in range(10))
DUP_SHARE = 0.03
DUP_WINDOW = 200
# query-mix term classes by Zipf rank (FIXTURES §2)
HOT = (0, 50)
MID = (50, 2_000)
RARE = (2_000, N_TERMS)


def vocab() -> np.ndarray:
    return np.array([f"w{i:05d}" for i in range(N_TERMS)])


def _zipf_pmf() -> np.ndarray:
    pmf = np.arange(1, N_TERMS + 1, dtype=np.float64) ** (-ZIPF_S)
    return pmf / pmf.sum()


def corpus(n_convs: int, seed: int) -> pd.DataFrame:
    """(doc_id, conv_id, turn_idx, role, text, tool, ts), one row per turn.

    doc_id is the dense row number, so any prefix of rows is a valid base
    corpus and the remaining rows have disjoint ids for appends."""
    rng = np.random.default_rng([seed, 1])
    n_turns = rng.integers(2, 13, size=n_convs)
    conv_of = np.repeat(np.arange(n_convs), n_turns)
    starts = np.cumsum(n_turns) - n_turns
    turn_idx = np.arange(conv_of.size) - np.repeat(starts, n_turns)
    n = conv_of.size
    n_tok = rng.integers(5, 121, size=n)
    n_tok[rng.random(n) < 0.01] = 0  # empty turns: documents with no postings
    words = vocab()[rng.choice(N_TERMS, size=int(n_tok.sum()), p=_zipf_pmf())]
    ends = np.cumsum(n_tok)
    texts = []
    for i in range(n):
        toks = words[ends[i] - n_tok[i]: ends[i]].tolist()
        if toks and (conv_of[i] + turn_idx[i]) % 17 == 0:
            toks[turn_idx[i] % len(toks)] = PROBES[(conv_of[i] + turn_idx[i]) % 3]
        texts.append(" ".join(toks))
    # near duplicates (retried or re-pasted turns): a copy of a recent
    # non-empty turn with about 5 % of its tokens replaced
    for i in np.flatnonzero(rng.random(n) < DUP_SHARE):
        if i == 0:
            continue
        toks = texts[int(rng.integers(max(0, i - DUP_WINDOW), i))].split()
        for j in np.flatnonzero(rng.random(len(toks)) < 0.05):
            toks[j] = str(words[rng.integers(words.size)])
        texts[i] = " ".join(toks)
    tool_pick = rng.integers(0, len(TOOLS), size=n)
    has_tool = rng.random(n) >= 0.7
    return pd.DataFrame({
        "doc_id": np.arange(n, dtype=np.int64),
        "conv_id": [f"conv{c:08d}" for c in conv_of],
        "turn_idx": turn_idx.astype(np.int32),
        "role": [ROLES[t % 3] for t in turn_idx],
        "text": texts,
        "tool": [TOOLS[t] if h else None for t, h in zip(tool_pick, has_tool)],
        "ts": (pd.Timestamp("2026-01-01") + pd.to_timedelta(conv_of * 1000 + turn_idx, unit="s"))
        .astype("datetime64[us]"),
    })


def cached_corpus(cache_dir: str, n_convs: int, seed: int) -> str:
    """Path of the corpus parquet, generated on first use. The key holds
    every input of the generator, so a stale file is never reused."""
    os.makedirs(cache_dir, exist_ok=True)
    path = os.path.join(cache_dir, f"corpus-v{GEN_VERSION}-s{seed}-c{n_convs}.parquet")
    if not os.path.exists(path):
        tmp = f"{path}.{os.getpid()}.tmp"
        corpus(n_convs, seed).to_parquet(tmp, index=False)
        os.replace(tmp, path)
    return path


class QueryStream:
    """Endless seeded stream of query texts: 1-5 terms, 60 % mid-frequency,
    20 % hot, 10 % rare, 10 % holding one out-of-vocabulary term."""

    def __init__(self, seed: int, stream: int):
        self.rng = np.random.default_rng([seed, 2, stream])
        self.words = vocab()

    def _term(self, lo_hi: tuple[int, int]) -> str:
        return str(self.words[self.rng.integers(*lo_hi)])

    def text(self) -> str:
        n = int(self.rng.integers(1, 6))
        u = self.rng.random()
        cls = MID if u < 0.6 else HOT if u < 0.8 else RARE
        terms = [self._term(cls) for _ in range(n)]
        if u >= 0.9:
            terms[int(self.rng.integers(n))] = f"oov{self.rng.integers(1 << 30)}x"
        if self.rng.random() < 0.05:
            terms[0] = PROBES[int(self.rng.integers(len(PROBES)))]
        return " ".join(terms)

    def batch(self, n: int, first_id: int = 0) -> list[tuple[int, str]]:
        return [(first_id + i, self.text()) for i in range(n)]

    def request(self, first_id: int) -> list[tuple[int, str]]:
        """One interactive request: 1-8 (query_id, text) pairs."""
        return self.batch(int(self.rng.integers(1, 9)), first_id)
