"""Independent reference computations the correctness checks compare to.

Nothing here imports the program: each function re-derives, in plain
Python over the generated inputs, what the program's documented
semantics say the answer is.
"""

from __future__ import annotations

import math
import re
from collections import Counter
from decimal import ROUND_HALF_UP, Decimal

TOKEN_SPLIT = re.compile("[^a-z0-9]+")


def tokens(text: str) -> list[str]:
    """Standard analyzer: lowercase, split on non-alphanumeric runs."""
    return [t for t in TOKEN_SPLIT.split(text.lower()) if t]


def round_half_up(x: float, places: int = 4) -> float:
    """Spark's ``round``: HALF_UP on the shortest decimal form."""
    return float(Decimal(repr(x)).quantize(Decimal(1).scaleb(-places), ROUND_HALF_UP))


class BM25Oracle:
    """BM25 over the ``_all`` field (every column, stringified, space
    joined in column order), with the statistics (N, avgdl, df) taken
    over the query's match set — the scoring ``api.query_data`` documents
    for a keyword query over all fields."""

    def __init__(self, rows: list[tuple], k1: float = 1.2, b: float = 0.75):
        self.k1, self.b = k1, b
        self.ids = [str(r[0]) for r in rows]
        self.tf: list[Counter] = []
        self.dl: list[float] = []
        self.postings: dict[str, list[int]] = {}
        for i, r in enumerate(rows):
            toks = tokens(" ".join(str(c) for c in r))
            c = Counter(toks)
            self.tf.append(c)
            self.dl.append(float(len(toks)))
            for t in c:
                self.postings.setdefault(t, []).append(i)

    def count(self, query: str) -> int:
        return len(self._matched(tokens(query)))

    def _matched(self, terms: list[str]) -> list[int]:
        return sorted({i for t in terms for i in self.postings.get(t, ())})

    def topk(self, query: str, k: int = 10) -> list[tuple[str, float]]:
        terms = list(dict.fromkeys(tokens(query)))
        matched = self._matched(terms)
        if not matched:
            return []
        n = float(len(matched))
        avgdl = sum(self.dl[i] for i in matched) / n
        k1, b = self.k1, self.b
        idf = [math.log(1.0 + (n - len(self.postings.get(t, ())) + 0.5)
                        / (len(self.postings.get(t, ())) + 0.5)) for t in terms]
        scored = []
        for i in matched:
            total = 0.0
            for t, w in zip(terms, idf):
                tf = float(self.tf[i].get(t, 0))
                if tf > 0:
                    total += w * (tf * (k1 + 1.0)) / (
                        tf + k1 * ((1.0 - b) + b * self.dl[i] / avgdl))
            scored.append((self.ids[i], total))
        scored.sort(key=lambda s: (-round_half_up(s[1]), s[0]))
        return [(i, round_half_up(s)) for i, s in scored[:k]]


def same_ranking(got: list[tuple[str, float]], want: list[tuple[str, float]],
                 tol: float = 1e-4) -> bool:
    """Equal top-k ids in order; where they differ, only positions whose
    rounded scores tie within ``tol`` may swap (a last-digit rounding
    difference in the float sum can reorder an exact tie)."""
    if [g[0] for g in got] == [w[0] for w in want]:
        return True
    if len(got) != len(want):
        return False
    want_score = dict(want)
    for (gid, gs), (_, ws) in zip(got, want):
        if abs(gs - ws) > tol or abs(want_score.get(gid, math.inf) - gs) > tol:
            return False
    return True


GOPHER_STOPS = {"the", "be", "to", "of", "and", "that", "have", "with"}


def gopher_keep(text: str) -> bool:
    """The Gopher quality gates at ``curation.gopher_rules`` defaults."""
    w = text.strip().split()
    n = len(w)
    if not 50 <= n <= 100_000:
        return False
    sum_len = sum(len(x) for x in w)
    n_sym = sum(1 for x in w if x == "#" or "..." in x)
    n_alpha = sum(1 for x in w if re.search("[A-Za-z]", x))
    stops = {x.lower() for x in w} & GOPHER_STOPS
    return (3 * n <= sum_len <= 10 * n and 100 * n_sym <= 10 * n
            and 100 * n_alpha >= 80 * n and len(stops) >= 2)


def shingles(text: str, n: int = 8) -> set[str]:
    t = tokens(text)
    return {" ".join(t[i:i + n]) for i in range(len(t) - n + 1)}


def contaminated(docs: dict[int, str], bench_texts: list[str], n: int = 8) -> set[int]:
    """Ids of docs sharing at least one ``n``-token shingle with the
    benchmark set."""
    bench = set().union(*(shingles(t, n) for t in bench_texts))
    return {i for i, t in docs.items() if shingles(t, n) & bench}
