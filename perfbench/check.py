"""Independent correctness checker.

Scores exhaustive BM25 from the generator's own per-document term
counts -- never from anything the engine wrote -- and compares every
lane's top-k against it. Deliberately imports nothing from
``documentindex_spark``: the formula is restated here from its
definition (k1=1.2, b=0.75, idf = ln(1 + (N - df + 0.5)/(df + 0.5)),
per-term impacts summed in ascending term order, ties broken by
doc_id ascending).
"""

from __future__ import annotations

import math

import numpy as np

K1 = 1.2
B = 0.75
REL_TOL = 1e-9


class CheckError(AssertionError):
    pass


def _tol(x: float) -> float:
    return REL_TOL * max(1.0, abs(x))


class Truth:
    """The stored corpus as the generator planted it.

    ``docs`` maps doc_id -> (term_ids, tfs). ``stats_ids`` are the
    documents the corpus statistics (N, avgdl, df) count; ``live_ids``
    the ones a query may return. They differ between an update and the
    next compaction: replaced and deleted versions still count in the
    statistics but are never returned."""

    def __init__(self, term_index: dict[str, int]):
        self.term_index = term_index
        self.docs: dict[int, tuple[np.ndarray, np.ndarray]] = {}
        self.stats_ids: set[int] = set()
        self.live_ids: set[int] = set()
        self._frozen = None

    def add(self, doc_id: int, term_ids: np.ndarray, tfs: np.ndarray) -> None:
        self.docs[doc_id] = (term_ids, tfs)
        self.stats_ids.add(doc_id)
        self.live_ids.add(doc_id)
        self._frozen = None

    def tombstone(self, doc_ids) -> None:
        self.live_ids.difference_update(doc_ids)
        self._frozen = None

    def compact(self) -> None:
        """Compaction drops every non-live version from the stats."""
        self.stats_ids = set(self.live_ids)
        self._frozen = None

    # ---------------------------------------------------- statistics

    def _freeze(self):
        if self._frozen is not None:
            return self._frozen
        ids = np.array(sorted(self.stats_ids), dtype=np.int64)
        dls = np.array([int(self.docs[d][1].sum()) for d in ids],
                       dtype=np.int64)
        n = len(ids)
        avgdl = float(dls.sum()) / n if n else 0.0
        tids = np.concatenate([self.docs[d][0] for d in ids])
        tfs = np.concatenate([self.docs[d][1] for d in ids])
        owner = np.repeat(ids, [len(self.docs[d][0]) for d in ids])
        order = np.argsort(tids, kind="stable")
        tids, tfs, owner = tids[order], tfs[order], owner[order]
        uniq, starts = np.unique(tids, return_index=True)
        ends = np.append(starts[1:], len(tids))
        postings = {int(t): (owner[a:b], tfs[a:b])
                    for t, a, b in zip(uniq, starts, ends)}
        size = max(self.docs) + 1
        dl = np.zeros(size, dtype=np.float64)
        dl[ids] = dls
        live = np.zeros(size, dtype=bool)
        live[list(self.live_ids)] = True
        self._frozen = (n, avgdl, postings, dl, live, {})
        return self._frozen

    @property
    def n_docs(self) -> int:
        return self._freeze()[0]

    @property
    def avgdl(self) -> float:
        return self._freeze()[1]

    def postings(self, term: str):
        """(doc_ids, tfs) over the stats docs, or None when absent."""
        tid = self.term_index.get(term)
        if tid is None:
            return None
        return self._freeze()[2].get(tid)

    def df_table(self) -> dict[int, int]:
        return {t: len(p[0]) for t, p in self._freeze()[2].items()}

    def total_postings(self) -> int:
        return sum(len(p[0]) for p in self._freeze()[2].values())

    # ------------------------------------------------------- scoring

    def ranked(self, terms: list[str]) -> list[tuple[int, float]]:
        """Exhaustive BM25 of every live doc matching any term, in
        (score DESC, doc_id ASC) order. Impacts are added per term in
        ascending term order, the engine's documented summation
        order."""
        n, avgdl, _, dl, live, memo = self._freeze()
        key = tuple(sorted(set(terms)))
        if key in memo:
            return memo[key]
        score = np.zeros(len(dl), dtype=np.float64)
        hit = np.zeros(len(dl), dtype=bool)
        for t in key:
            p = self.postings(t)
            if p is None:
                continue
            docs, tfs = p
            df = len(docs)
            idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
            tf = tfs.astype(np.float64)
            tfn = (tf * (K1 + 1.0)) / (
                tf + K1 * (1.0 - B + B * dl[docs] / avgdl))
            score[docs] += idf * tfn
            hit[docs] = True
        ids = np.flatnonzero(hit & live)
        order = np.lexsort((ids, -score[ids]))
        memo[key] = [(int(d), float(score[d])) for d in ids[order]]
        return memo[key]


def check_topk(truth: Truth, terms: list[str], k: int, got, lane: str,
               oov_only: bool = False) -> None:
    """``got``: [(doc_id, score)] in rank order from one lane."""
    got = [(int(d), float(s)) for d, s in got]
    if oov_only:
        if got:
            raise CheckError(f"{lane}: out-of-vocabulary query {terms} "
                             f"returned {len(got)} rows")
        return
    ranked = truth.ranked(terms)
    exp = dict(ranked)
    want = min(k, len(ranked))
    if len(got) != want:
        raise CheckError(f"{lane}: {terms} k={k}: {len(got)} rows, "
                         f"expected {want}")
    if not got:
        return
    for (d, s), (d2, s2) in zip(got, got[1:]):
        if s2 > s + _tol(s) or (s2 == s and d2 < d):
            raise CheckError(f"{lane}: {terms}: rows not sorted at "
                             f"doc {d2}")
    if len({d for d, _ in got}) != len(got):
        raise CheckError(f"{lane}: {terms}: duplicate doc_ids")
    for d, s in got:
        if d not in exp:
            raise CheckError(f"{lane}: {terms}: doc {d} is not a live "
                             "match")
        if abs(s - exp[d]) > _tol(exp[d]):
            raise CheckError(f"{lane}: {terms}: doc {d} score {s!r}, "
                             f"exhaustive {exp[d]!r}")
    kth = ranked[want - 1][1]
    got_ids = {d for d, _ in got}
    for d, s in ranked:
        if s <= kth + _tol(kth):
            break
        if d not in got_ids:
            raise CheckError(f"{lane}: {terms}: missed doc {d} "
                             f"(score {s!r} > k-th {kth!r})")
    for (d, s), (_, es) in zip(got, ranked):
        if abs(s - es) > _tol(es):
            raise CheckError(f"{lane}: {terms}: rank score {s!r}, "
                             f"exhaustive {es!r}")


def check_agree(a, b, lane_a: str, lane_b: str, terms) -> None:
    """Two lanes' answers to one query: same length, same score at
    every rank, same documents except where the k-th score ties."""
    a = [(int(d), float(s)) for d, s in a]
    b = [(int(d), float(s)) for d, s in b]
    if len(a) != len(b):
        raise CheckError(f"{lane_a} vs {lane_b}: {terms}: {len(a)} vs "
                         f"{len(b)} rows")
    for (_, sa), (_, sb) in zip(a, b):
        if abs(sa - sb) > _tol(sa):
            raise CheckError(f"{lane_a} vs {lane_b}: {terms}: scores "
                             "differ")
    if a:
        kth = a[-1][1]
        da = {d for d, s in a if s > kth + _tol(kth)}
        db = {d for d, s in b if s > kth + _tol(kth)}
        if da != db:
            raise CheckError(f"{lane_a} vs {lane_b}: {terms}: documents "
                             "differ above the k-th score")


def check_index_totals(truth: Truth, n_docs: int, avgdl: float,
                       df_rows) -> None:
    """Corpus statistics and per-term document frequencies of a built
    index. ``df_rows``: [(term, df, n_postings)], one per stored
    segment row."""
    if n_docs != truth.n_docs:
        raise CheckError(f"index n_docs {n_docs}, generator {truth.n_docs}")
    if abs(avgdl - truth.avgdl) > _tol(truth.avgdl):
        raise CheckError(f"index avgdl {avgdl!r}, generator {truth.avgdl!r}")
    want = truth.df_table()
    inv = {v: k for k, v in truth.term_index.items()}
    df_of: dict[str, int] = {}
    post_of: dict[str, int] = {}
    for term, df, n in df_rows:
        if term in df_of and df_of[term] != df:
            raise CheckError(f"term {term!r}: segments disagree on df")
        df_of[term] = int(df)
        post_of[term] = post_of.get(term, 0) + int(n)
    if len(df_of) != len(want):
        raise CheckError(f"index has {len(df_of)} terms, generator "
                         f"{len(want)}")
    for tid, df in want.items():
        t = inv[tid]
        if df_of.get(t) != df or post_of.get(t) != df:
            raise CheckError(f"term {t!r}: index df {df_of.get(t)} / "
                             f"postings {post_of.get(t)}, generator {df}")
    if sum(post_of.values()) != truth.total_postings():
        raise CheckError("total postings differ")


def check_decoded(truth: Truth, term: str, doc_ids, tfs) -> None:
    p = truth.postings(term)
    if p is None:
        raise CheckError(f"term {term!r} not planted")
    if not (np.array_equal(np.asarray(doc_ids, np.int64), p[0])
            and np.array_equal(np.asarray(tfs, np.int64), p[1])):
        raise CheckError(f"term {term!r}: decoded list differs from the "
                         "generator's")


def stratified_terms(truth: Truth, per_stratum: int, rng) -> list[str]:
    """A frequency-stratified term sample: ``per_stratum`` terms from
    each df decade (1, 2-9, 10-99, ...)."""
    inv = {v: k for k, v in truth.term_index.items()}
    by_decade: dict[int, list[int]] = {}
    for tid, df in truth.df_table().items():
        by_decade.setdefault(int(math.log10(df)), []).append(tid)
    out = []
    for dec in sorted(by_decade):
        tids = sorted(by_decade[dec])
        pick = rng.choice(len(tids), min(per_stratum, len(tids)),
                          replace=False)
        out += [inv[tids[i]] for i in sorted(pick)]
    return out
