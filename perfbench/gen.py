"""Seeded inputs for the benchmark: transcript corpora, query pools and
request mixes.

The corpus has the transcript shape the engine indexes
(conv_id, turn_idx, role, text, tool, ts): a Zipf vocabulary, lognormal
turn lengths and geometric conversation lengths. It is generated here,
not by the engine's own synthetic generator, so a change to the program
cannot change the workload. Everything is a pure function of its seed.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd

VOCAB_SIZE = 50_000
ZIPF_S = 1.07
MEAN_TURNS = 8
TOOL_FRACTION = 0.10
TOOLS = ("search", "browser", "python", "bash", "editor")
EPOCH = 1735689600  # 2025-01-01T00:00:00Z

# Zipf bands by term rank: head terms load the scoring kernel, tail
# terms leave only the fixed per-query floor
HEAD = (0, 100)
TORSO = (100, 5_000)
TAIL = (5_000, 40_000)


def term(rank: int) -> str:
    return f"w{rank:05d}"


def zipf_probs(n: int, s: float) -> np.ndarray:
    p = np.arange(1, n + 1, dtype=np.float64) ** -s
    return p / p.sum()


def corpus(n_turns: int, seed: int, conv_base: int = 0,
           marker: str | None = None) -> pd.DataFrame:
    """``n_turns`` transcript turns. ``conv_base`` offsets conversation
    ids so deltas never collide with earlier rows; ``marker`` is planted
    once in every third turn (the read-after-write probe term)."""
    rng = np.random.default_rng(seed)
    lens = np.clip(rng.geometric(1.0 / MEAN_TURNS, n_turns), 1, 64)
    n_convs = int(np.searchsorted(np.cumsum(lens), n_turns)) + 1
    lens = lens[:n_convs]
    lens[-1] -= int(lens.sum() - n_turns)
    conv = np.repeat(np.arange(n_convs), lens)
    turn = np.arange(n_turns) - np.repeat(np.cumsum(lens) - lens, lens)

    tlen = np.clip(rng.lognormal(3.4, 0.6, n_turns).astype(np.int64), 1, 400)
    ids = rng.choice(VOCAB_SIZE, int(tlen.sum()), p=zipf_probs(VOCAB_SIZE, ZIPF_S))
    vocab = np.array([term(i) for i in range(VOCAB_SIZE)])
    texts = [" ".join(c) for c in np.split(vocab[ids], np.cumsum(tlen)[:-1])]
    if marker is not None:
        for i in range(0, n_turns, 3):
            texts[i] = f"{texts[i]} {marker}"

    is_tool = rng.random(n_turns) < TOOL_FRACTION
    role = np.where(is_tool, "tool", np.where(turn % 2 == 0, "user", "assistant"))
    tool = np.where(is_tool, np.array(TOOLS)[rng.integers(0, len(TOOLS), n_turns)], "")
    ts = pd.to_datetime(EPOCH + conv_base + conv * 3600 + turn * 30, unit="s")
    return pd.DataFrame({
        "conv_id": [f"c{conv_base + c:010d}" for c in conv],
        "turn_idx": turn.astype(np.int32),
        "role": role,
        "text": texts,
        "tool": tool,
        "ts": ts,
    })


def write_parquet(df: pd.DataFrame, path: str, row_group: int = 25_000) -> None:
    """Microsecond timestamps (Spark reads no nanosecond parquet); row
    groups split the file so the build's scan runs in parallel."""
    tmp = path + ".tmp"
    df.to_parquet(tmp, coerce_timestamps="us", row_group_size=row_group,
                  index=False)
    os.replace(tmp, path)


def _band_term(rng, band) -> str:
    return term(int(rng.integers(*band)))


# query shapes, cycled in this order by every bm25_topk run so each run
# has the same head/torso/tail composition whatever the seed
BM25_SHAPES = (
    ("head",),
    ("torso", "torso"),
    ("tail",),
    ("head", "torso", "tail"),
    ("torso",),
    ("head", "head", "torso", "tail"),
    ("tail", "tail"),
    ("head", "torso"),
)
_BANDS = {"head": HEAD, "torso": TORSO, "tail": TAIL}


def _strata(band: tuple[int, int], m: int) -> list[tuple[int, int]]:
    """``band`` cut into ``m`` rank ranges of equal width in log(rank + 1),
    so each holds terms of about the same frequency."""
    lo, hi = np.log(band[0] + 1), np.log(band[1] + 1)
    edges = [band[0]] + [int(round(np.exp(lo + k * (hi - lo) / m))) - 1
                         for k in range(1, m)] + [band[1]]
    return [(a, max(a + 1, b)) for a, b in zip(edges, edges[1:])]


def bm25_queries(seed: int, n: int) -> list[dict]:
    """``n`` top-k requests: shape i cycles through BM25_SHAPES; every
    eighth carries the role filter. Each term slot of the cycle draws its
    term from a fixed stratum of its band (the j-th head slot from the
    j-th of five head strata, and so on), and the seed picks the term
    inside the stratum. So every run asks for the same mix of postings
    sizes: a head term of rank 0 has about 140 times the postings of one
    of rank 99, so terms drawn from the whole band would let the seed
    change the postings a run reads eightfold."""
    rng = np.random.default_rng([seed, 1])
    slots: dict[str, int] = {}
    cycle = []
    for shape in BM25_SHAPES:
        row = []
        for b in shape:
            row.append((b, slots.get(b, 0)))
            slots[b] = slots.get(b, 0) + 1
        cycle.append(row)
    strata = {b: _strata(_BANDS[b], m) for b, m in slots.items()}
    out = []
    for i in range(n):
        out.append({
            "q": " ".join(_band_term(rng, strata[b][j]) for b, j in cycle[i % len(cycle)]),
            "filter": "role = 'user'" if i % 8 == 5 else None,
        })
    return out


def cql_patterns(n: int = 100) -> list[dict]:
    """A fixed pool of CQL patterns: phrases, ``[]{1,3}`` gaps and
    regexes over head and torso terms, as {"patt", "kind", "a", "b"}.
    Fixed (seed 0) so the oracle answers for the pool are computed
    once; the request seed picks which patterns run and how often."""
    rng = np.random.default_rng(0)
    pool: dict[str, dict] = {}
    while len(pool) < n:
        kind = ("phrase", "gap", "regex")[len(pool) % 3]
        a = _band_term(rng, (0, 100))
        b = _band_term(rng, (0, 1_000))
        if kind == "phrase":
            p = f'"{a}" "{b}"'
        elif kind == "gap":
            p = f'"{a}" []{{1,3}} "{b}"'
        else:
            a = term(int(rng.integers(10, 400)))[:-1] + "[0-9]"
            b = None
            p = f'"{a}"'
        pool.setdefault(p, {"patt": p, "kind": kind, "a": a, "b": b})
    return list(pool.values())


# request kinds of bls_mixed. No recorded traffic exists, so the mix is an
# assumption: one search session of a corpus front end, in the order a
# user makes it. Type a word (/autocomplete), search (/hits, first=0),
# page twice (first=20, 40), switch to the per-document view (/docs),
# group the hits by role (/hits?group=), open one document
# (/docs/<pid>/contents) and look up two words' frequencies (/termfreq).
# Every run cycles through it in this order, whatever the seed.
BLS_SESSION = (
    ("autocomplete", None), ("hits", 0), ("hits", 20), ("hits", 40),
    ("docs", None), ("hits_grouped", None), ("contents", None), ("termfreq", None),
)


def postings_share(p: dict) -> float:
    """The share of the corpus's tokens that are occurrences of a pool
    pattern's terms: the postings a search of it reads, which sets its
    cost far more than its hit count does (a phrase of two head terms
    reads long postings and may match nothing)."""
    probs = zipf_probs(VOCAB_SIZE, ZIPF_S)
    if p["kind"] == "regex":
        first = int(p["a"][1:-len("[0-9]")]) * 10
        return float(probs[first:first + 10].sum())
    return float(probs[int(p["a"][1:])] + probs[int(p["b"][1:])])


# patterns of one kind with similar postings form a stratum of this
# many; a seed reorders patterns only inside their stratum
STRATUM = 4


def bls_requests(seed: int, n: int, pool: list[dict], pids: list[str],
                 hits: list[int]) -> list[dict]:
    """``n`` requests: the kind and page start from BLS_SESSION, a
    pattern by Zipf popularity (s = 1, assumed like the mix) over the
    pool. Sessions of many users interleave, so each request draws its
    pattern on its own.

    The sequence of popularity ranks is the same in every run, and rank
    r always maps to a pattern of kind r % 3 (phrase, gap, regex). Within
    a kind, the patterns sorted by the postings they read
    (``postings_share``) form strata of STRATUM; which stratum holds
    which ranks is fixed, and the seed chooses which pattern of the
    stratum holds each rank. So every run repeats patterns, and hits the
    search cache, in the same places with patterns of the same kind and
    about the same cost, and only the patterns themselves differ. Strata
    by hit count were not enough: the most popular rank's phrase read
    postings of a term of rank 23 in one seed and of rank 42 in another,
    and the run's first searches took 4.4 s against 1.6 s. ``hits``
    (from the oracle) keeps grouped requests on patterns that match."""
    ranks = np.random.default_rng(0).choice(len(pool), n, p=zipf_probs(len(pool), 1.0))
    rng = np.random.default_rng([seed, 2])
    fixed = np.random.default_rng(1)
    by_kind = []
    for k in ("phrase", "gap", "regex"):
        ids = sorted((i for i, p in enumerate(pool) if p["kind"] == k),
                     key=lambda i: (postings_share(pool[i]), i))
        strata = [ids[j:j + STRATUM] for j in range(0, len(ids), STRATUM)]
        order = []
        for si in fixed.permutation(len(strata)):
            order += [strata[si][int(x)] for x in rng.permutation(len(strata[si]))]
        by_kind.append(order)
    # grouping a pattern without hits fails (the counts come back null):
    # bls_mixed probes that once a run outside the timed phase, and the
    # timed grouped requests take only patterns that match
    matching = [[j for j in ids if hits[j]] for ids in by_kind]
    out = []
    for i in range(n):
        kind, first = BLS_SESSION[i % len(BLS_SESSION)]
        ids = (matching if kind == "hits_grouped" else by_kind)[int(ranks[i]) % 3]
        r = {"kind": kind, "patt": ids[int(ranks[i]) // 3 % len(ids)]}
        if kind == "hits":
            r["first"] = first
        elif kind == "termfreq":
            r["terms"] = [_band_term(rng, HEAD), _band_term(rng, TORSO)]
        elif kind == "autocomplete":
            r["prefix"] = term(int(rng.integers(0, 3_000)))[:5]
        elif kind == "contents":
            r["pid"] = pids[int(rng.integers(len(pids)))]
            r["hl"] = _band_term(rng, HEAD)
        out.append(r)
    return out


def dump(obj, path: str) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f)
    os.replace(tmp, path)
