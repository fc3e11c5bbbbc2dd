"""Seeded inputs for the benchmark: a Zipf transcript corpus and query mixes.

Written independently of ``elastichash_spark.fixtures`` so that a change to
the program cannot change the workload. Everything is a pure function of the
seed and the sizes passed in; conversations draw from their own generator
(seeded by ``(seed, conversation number)``), so an append batch made from
conversations ``[a, b)`` is the same whatever else is generated.

Schema of a corpus frame (the engine's transcript input):
``conv_id string, turn_idx int32, role string, text string, tool string,
ts datetime64[ns]``.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

VOCAB = 3000          # distinct corpus words w0000 .. w2999
ZIPF_S = 1.1          # word-frequency exponent
HOT_TERM = "the"      # a term in ~60% of turns: the largest candidate set
ABSENT_TERM = "zzabsentzz"
TURNS = (2, 24)       # turns per conversation, inclusive
TOKENS = (4, 60)      # words per non-empty turn, inclusive
KS = (1, 10, 100)
_SEPS = (" ", " ", " ", ", ", ". ", "! ", " - ", "\n")
_EPOCH = np.datetime64("2026-01-01T00:00:00", "ns")


def _cdf() -> np.ndarray:
    w = 1.0 / np.arange(1, VOCAB + 1, dtype=np.float64) ** ZIPF_S
    return np.cumsum(w) / w.sum()


_CDF = _cdf()


def _word(i: int) -> str:
    return f"w{i:04d}"


def _conversation(seed: int, c: int) -> list[tuple]:
    rng = np.random.default_rng([seed, 7, c])
    conv_id = f"c{c:06d}"
    rows = []
    for t in range(int(rng.integers(TURNS[0], TURNS[1] + 1))):
        u = rng.random(6)
        role = "tool" if u[0] < 0.12 else ("user", "assistant")[t % 2]
        tool = ("bash", "search", "edit")[int(u[1] * 3)] if role == "tool" else None
        if u[2] < 0.01:
            text = ""  # a document of length 0
        else:
            n = int(rng.integers(TOKENS[0], TOKENS[1] + 1))
            words = [_word(int(i)) for i in np.searchsorted(_CDF, rng.random(n))]
            if u[3] < 0.6:
                words[int(u[4] * n)] = HOT_TERM
            # case and punctuation noise for the tokenizer
            case = rng.random(n)
            words = [w.upper() if x < 0.04 else (w.capitalize() if x < 0.08 else w)
                     for w, x in zip(words, case)]
            seps = rng.integers(0, len(_SEPS), n)
            text = "".join(w + _SEPS[s] for w, s in zip(words, seps)).rstrip()
        rows.append((conv_id, t, role, text, tool))
    return rows


def make_corpus(seed: int, first_conv: int, n_convs: int) -> pd.DataFrame:
    """Conversations ``first_conv .. first_conv + n_convs - 1``."""
    rows = [r for c in range(first_conv, first_conv + n_convs)
            for r in _conversation(seed, c)]
    df = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role", "text", "tool"])
    df["turn_idx"] = df["turn_idx"].astype("int32")
    # timestamps increase with the conversation number and turn
    order = np.array([first_conv * 64 + i for i in range(len(df))], dtype="int64")
    df["ts"] = _EPOCH + order.astype("timedelta64[s]")
    return df


def make_queries(seed: int, n: int, head: int = 0) -> list[tuple[int, str, int]]:
    """A serving mix of ``(qid, text, k)``: hot-term, absent-term,
    duplicate-term and 1-5-term queries in turn, with k cycling through 1,
    10, 100. Words come from the whole vocabulary, or with ``head`` only
    from the ``head`` most frequent words, which every corpus here holds."""
    rng = np.random.default_rng([seed, 11, head])
    out = []
    for i in range(n):
        kind = i % 5

        def rand_word() -> str:
            if head:
                return _word(int(rng.integers(0, head)))
            # half the draws from the frequent head, half from the whole list
            top = 200 if rng.random() < 0.5 else VOCAB
            return _word(int(rng.integers(0, top)))

        if kind == 0:
            words = [HOT_TERM]
        elif kind == 1:
            words = [rand_word(), ABSENT_TERM]
        elif kind == 2:
            w = rand_word()
            words = [w, w.upper(), HOT_TERM]
        else:
            words = [rand_word() for _ in range(int(rng.integers(1, 6)))]
        out.append((i, " ".join(words), KS[i % 3]))
    return out


def mining_queries(seed: int, corpus: pd.DataFrame, n: int, words: int = 6) -> list[tuple[int, str]]:
    """Corpus-derived ``(qid, text)``: the first ``words`` words of ``n``
    sampled non-empty turns (query-by-document)."""
    rng = np.random.default_rng([seed, 13])
    texts = corpus["text"][corpus["text"].str.len() > 0].to_numpy()
    picks = rng.choice(len(texts), size=n, replace=len(texts) < n)
    return [(i, " ".join(str(texts[p]).split()[:words])) for i, p in enumerate(picks)]
