"""Seeded operation streams. Pure Python: the same seed always yields
the same requests, batches and query order, so two runs of one seed
present the program with identical work."""

from __future__ import annotations

import random
from dataclasses import dataclass

FREQS = ("M", "Q", "A")
# (start, end, weight): most requests read the whole history; the rest
# ask for one of two fixed windows, each its own cache namespace. The
# whole-history window is explicit because an unwindowed namespace
# directory holds the windowed ones of its frequency: compacting it
# deletes them, and loading it reads their files too.
WINDOWS = (("1995-01-01", None, 3), ("1996-01-01", "1998-12-31", 1),
           ("1999-01-01", None, 1))
ZIPF_S = 1.3
MAX_CODES = 16
MEAN_CODES = 4.0
# every REFRESH_EVERY-th request repeats an earlier one verbatim, as a
# dashboard refreshing a view does; these are the pure cache hits
REFRESH_EVERY = 3
SHAPE_SEED = 20_240_101


@dataclass(frozen=True)
class FetchRequest:
    codes: tuple[str, ...]
    freq: str
    start: str | None
    end: str | None

    @property
    def namespace(self) -> tuple[str, str | None, str | None]:
        return (self.freq, self.start, self.end)


def fetch_requests(seed: int, catalogue: list[str], n: int) -> list[FetchRequest]:
    """*n* fetch requests whose codes follow a Zipf(ZIPF_S) popularity
    over a seeded ranking of *catalogue*. Each request names 1 to
    MAX_CODES distinct codes (geometric around MEAN_CODES), a frequency
    and a date window; every REFRESH_EVERY-th one repeats an earlier one.

    Only the ranking depends on *seed*: the request shapes (code count,
    popularity ranks drawn, frequency, window) come from one fixed
    generator, so every seed replays the same pattern of cache hits and
    misses on different series, and run-to-run spread reflects the
    program rather than how many misses a seed happened to draw."""
    ranked = list(catalogue)
    random.Random(seed).shuffle(ranked)
    rng = random.Random(SHAPE_SEED)
    cum = []
    total = 0.0
    for rank in range(len(ranked)):
        total += 1.0 / (rank + 1) ** ZIPF_S
        cum.append(total)
    out: list[FetchRequest] = []
    for _ in range(n):
        if len(out) % REFRESH_EVERY == REFRESH_EVERY - 1:
            out.append(rng.choice(out))
            continue
        k = min(MAX_CODES, 1 + int(rng.expovariate(1.0 / (MEAN_CODES - 1))))
        k = min(k, len(ranked))
        codes: list[str] = []
        while len(codes) < k:
            code = rng.choices(ranked, cum_weights=cum)[0]
            if code not in codes:
                codes.append(code)
        start, end, _w = rng.choices(WINDOWS, weights=[w[2] for w in WINDOWS])[0]
        out.append(FetchRequest(tuple(codes), rng.choice(FREQS), start, end))
    return out


def release_batches(seed: int, doc_ids: list[int], batch_size: int) -> list[list[int]]:
    """A seeded permutation of *doc_ids* cut into consecutive batches of
    *batch_size* (the last one may be shorter); each batch is sorted."""
    if batch_size < 1:
        raise ValueError("batch_size must be >= 1")
    ids = list(doc_ids)
    random.Random(seed).shuffle(ids)
    return [sorted(ids[i:i + batch_size]) for i in range(0, len(ids), batch_size)]


def query_order(seed: int, names: list[str], n: int) -> list[str]:
    """*n* query names drawn in rounds: each round is a fresh seeded
    permutation of *names*, so every query runs equally often (to within
    one) and only the order depends on the seed."""
    rng = random.Random(seed)
    out: list[str] = []
    while len(out) < n:
        rnd = list(names)
        rng.shuffle(rnd)
        out.extend(rnd)
    return out[:n]
