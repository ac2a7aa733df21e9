"""Seeded inputs: pages, query logs, refresh events and curation data.

Everything here is a pure function of the workload seed; the engine only
ever sees what these functions return.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from webindex.pagesgen import VOCAB, make_page

HOT = VOCAB[:16]
MID = VOCAB[16:100]
RARE = VOCAB[150:]
K = 10


def pages_pdf(ids, seed: int) -> pd.DataFrame:
    """Pages for the given doc indices; the url depends on the index only, so
    another content seed over the same index is a re-crawl of that url."""
    pdf = pd.DataFrame(
        [make_page(int(i), seed) for i in ids],
        columns=["url", "warc_ts", "html", "text", "lang"],
    )
    pdf["warc_ts"] = pd.to_datetime(pdf["warc_ts"])
    return pdf


def url(i: int) -> str:
    """The url make_page gives doc index i."""
    return f"https://site{i % 1000}.example/page/{i}"


def absent(rng) -> str:
    """A term no generated page contains."""
    return f"zq{int(rng.integers(10**6)):06d}"


def _term(rng, present: bool = False) -> str:
    r = rng.random() * (0.92 if present else 1.0)
    if r < 0.4:
        return str(rng.choice(HOT))
    if r < 0.75:
        return str(rng.choice(MID))
    if r < 0.92:
        return str(rng.choice(RARE))
    return absent(rng)


def wand_query(rng, n_terms: int) -> str:
    """n_terms terms by frequency class; the first is always in the corpus,
    so absent-only queries come from absent() alone, at a fixed rate."""
    return " ".join(_term(rng, present=i == 0) for i in range(n_terms))


def query_op(rng, texts: list[str], j: int) -> tuple[str, dict]:
    """The j-th single-query call of a closed-loop client: topk_wand about
    half the time, match(and) / bool / phrase a sixth each; every seventh
    call is a query on absent terms only (the empty-result path)."""
    if j % 7 == 3:
        return "wand", {"query": f"{absent(rng)} {absent(rng)}"}
    r = rng.random()
    if r < 0.5:
        return "wand", {"query": wand_query(rng, 1 + j % 4)}
    if r < 2 / 3:
        terms = [str(rng.choice(HOT)), str(rng.choice(MID))]
        if rng.random() < 0.3:
            terms.append(str(rng.choice(RARE)))
        return "match_and", {"query": " ".join(terms)}
    if r < 5 / 6:
        return "bool", {
            "must": str(rng.choice(HOT)),
            "should": " ".join(str(t) for t in rng.choice(MID, size=int(rng.integers(1, 3)))),
            "must_not": str(rng.choice(RARE)),
        }
    toks = texts[int(rng.integers(len(texts)))].split()
    at = int(rng.integers(len(toks) - 1))
    return "phrase", {"phrase": " ".join(toks[at : at + 2])}


def batch_log(rng) -> dict[str, str]:
    """A 10-20 query log whose queries share a small pool of terms."""
    pool = [*rng.choice(HOT, 2, replace=False), *rng.choice(MID, 3, replace=False),
            str(rng.choice(RARE)), absent(rng)]
    n = int(rng.integers(10, 21))
    return {
        f"q{i}": " ".join(str(t) for t in rng.choice(pool, int(rng.integers(1, 4)), replace=False))
        for i in range(n)
    }


def refresh_events(rng, seed: int, n_base: int, cycles: int, n_new: int, n_recrawl: int, n_delete: int):
    """One refresh per cycle: an upsert of new urls and re-crawls of live
    ones, then a delete of live urls. Returns [(upsert doc indices, content
    seed, deleted doc indices)]; the live set is tracked so a delete only
    names live urls."""
    live = set(range(n_base))
    next_id = n_base
    events = []
    for c in range(cycles):
        recrawl = rng.choice(sorted(live), n_recrawl, replace=False).tolist()
        new = list(range(next_id, next_id + n_new))
        next_id += n_new
        live.update(new)
        gone = rng.choice(sorted(live), n_delete, replace=False).tolist()
        live.difference_update(gone)
        events.append((sorted(recrawl + new), seed + 7919 * (c + 1), sorted(gone)))
    return events


def curate_docs(rng, seed: int, n: int, n_dup_pairs: int, hot: int) -> tuple[pd.DataFrame, set, set]:
    """Documents with planted exact-duplicate pairs and a hot bucket of
    identical boilerplate. Returns (doc_id, text) plus the planted pair and
    hot-member sets."""
    texts = [make_page(i, seed + 104729)["text"] for i in range(n)]
    ids = list(range(n))
    dup_pairs = set()
    src = rng.choice(n, n_dup_pairs, replace=False)
    for j, s in enumerate(src):
        ids.append(n + j)
        texts.append(texts[int(s)])
        dup_pairs.add((int(s), n + j))
    boiler = "cookie policy accept all cookies to continue browsing this site " * 4
    hot_ids = set(range(n + n_dup_pairs, n + n_dup_pairs + hot))
    for i in sorted(hot_ids):
        ids.append(i)
        texts.append(boiler.strip())
    return pd.DataFrame({"doc_id": ids, "text": texts}), dup_pairs, hot_ids


def embeddings(rng, n: int, dim: int, n_pairs: int, hot: int) -> tuple[np.ndarray, set]:
    """Gaussian vectors plus planted near-duplicate pairs (a tiny jitter)
    and a hot cluster of identical vectors. Returns the vectors and the
    pairs that must be found: the planted ones and every hot-cluster pair."""
    vecs = rng.normal(size=(n, dim))
    pairs = set()
    src = rng.choice(n, n_pairs, replace=False)
    extra = [vecs[int(s)] + rng.normal(scale=1e-4, size=dim) for s in src]
    pairs.update((int(s), n + j) for j, s in enumerate(src))
    centre = rng.normal(size=dim)
    base = n + n_pairs
    extra.extend(centre for _ in range(hot))
    pairs.update((base + a, base + b) for a in range(hot) for b in range(a + 1, hot))
    return np.vstack([vecs, np.asarray(extra)]), pairs


# -- the engine's doc id: Spark's xxhash64(url), seed 42 ---------------------

_P1, _P2, _P3 = 11400714785074694791, 14029467366897019727, 1609587929392839161
_P4, _P5 = 9650029242287828579, 2870177450012600261
_M = (1 << 64) - 1


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M


def _round(acc: int, lane: int) -> int:
    return (_rotl((acc + lane * _P2) & _M, 31) * _P1) & _M


def doc_id(url: str, seed: int = 42) -> int:
    """XXH64 of the url's UTF-8 bytes as a signed long, the doc id that
    build_index and IncrementalIndexer assign (F.xxhash64)."""
    data = url.encode("utf-8")
    n, i = len(data), 0
    word = lambda j, w: int.from_bytes(data[j : j + w], "little")  # noqa: E731
    if n >= 32:
        v = [(seed + _P1 + _P2) & _M, (seed + _P2) & _M, seed & _M, (seed - _P1) & _M]
        while i + 32 <= n:
            v = [_round(v[k], word(i + 8 * k, 8)) for k in range(4)]
            i += 32
        h = (_rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12) + _rotl(v[3], 18)) & _M
        for x in v:
            h = ((h ^ _round(0, x)) * _P1 + _P4) & _M
    else:
        h = (seed + _P5) & _M
    h = (h + n) & _M
    while i + 8 <= n:
        h = (_rotl(h ^ _round(0, word(i, 8)), 27) * _P1 + _P4) & _M
        i += 8
    if i + 4 <= n:
        h = (_rotl(h ^ ((word(i, 4) * _P1) & _M), 23) * _P2 + _P3) & _M
        i += 4
    while i < n:
        h = (_rotl(h ^ ((data[i] * _P5) & _M), 11) * _P1) & _M
        i += 1
    h = ((h ^ (h >> 33)) * _P2) & _M
    h = ((h ^ (h >> 29)) * _P3) & _M
    h ^= h >> 32
    return h - (1 << 64) if h >> 63 else h
