"""Property test: Block-Max WAND == exhaustive oracle on RANDOM
corpora/queries (hypothesis). Complements the fixed 50-query golden
set — randomized tie patterns, OOV mixes, empty docs, and forced
multi-segment splits exercise the window/skip logic paths small
fixed corpora miss (see the round-1 BMW bugs both found by corpus
variety, tests/test_bmw_regression.py)."""

from __future__ import annotations

from unittest.mock import patch

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from documentindex_spark import oracle
from documentindex_spark.functions.tokenize import query_terms
from documentindex_spark.operators import bmw
from documentindex_spark.operators.bmw import bmw_topk_local
from documentindex_spark.operators.codec import Segment, encode_segment
from tests.test_index_bmw import _segments_from_oracle

VOCAB = ["merge", "sort", "block", "the", "data", "scan", "a", "zz9"]

_doc = st.lists(st.sampled_from(VOCAB), min_size=0, max_size=30).map(
    " ".join
)
_corpus = st.lists(_doc, min_size=1, max_size=25).filter(
    lambda ds: any(d.strip() for d in ds)
)
_query = st.lists(
    st.sampled_from(VOCAB + ["oovword"]), min_size=1, max_size=4
).map(" ".join)


@settings(max_examples=80, deadline=None)
@given(_corpus, _query, st.sampled_from([1, 3, 10]),
       st.sampled_from([None, 3]))
def test_bmw_local_equals_oracle_on_random_corpora(docs, q, k, max_seg):
    local = {i: t for i, t in enumerate(docs)}
    orc = oracle.OracleIndex(local)
    terms = query_terms(q)
    segs = _segments_from_oracle(orc, terms, max_seg)
    got = bmw_topk_local(segs, k)
    want = orc.topk(q, k)
    assert [d for d, _ in got] == [d for d, _ in want], (docs, q, k)
    assert [s for _, s in got] == pytest.approx(
        [s for _, s in want], abs=1e-12
    )


_boost = st.sampled_from([0.5, 1.0, 2.5])


@settings(max_examples=80, deadline=None)
@given(
    _corpus,
    st.lists(st.sampled_from(VOCAB), min_size=1, max_size=4,
             unique=True),
    st.data(),
    st.sampled_from([1, 3, 10]),
    st.sampled_from([None, 3]),
)
def test_boolean_bmw_local_equals_replica(docs, qterms, data, k, max_seg):
    """Boosts + must clauses + liveDocs exclusion against a direct
    replica on random corpora: the boost-scaled bounds and the
    heap-admission gate must stay exact under every tie/skip
    pattern."""
    local = {i: t for i, t in enumerate(docs)}
    orc = oracle.OracleIndex(local)
    boosts = {t: data.draw(_boost, label=f"boost:{t}") for t in qterms}
    must = {
        t for t in qterms if data.draw(st.booleans(), label=f"must:{t}")
    }
    exclude = {
        d for d in range(len(docs))
        if data.draw(st.booleans(), label=f"del:{d}")
    }
    segs = _segments_from_oracle(orc, qterms, max_seg)
    got = bmw_topk_local(
        segs, k, exclude=exclude or None, boosts=boosts,
        must=must or None,
    )
    want = []
    for d in orc.tf:
        if d in exclude:
            continue
        if any(orc.tf[d].get(t, 0) == 0 for t in must):
            continue
        s = 0.0
        for t in sorted(qterms):
            s += boosts[t] * orc.impact(t, d)
        if s > 0.0:
            want.append((d, s))
    want.sort(key=lambda x: (-x[1], x[0]))
    want = want[:k]
    assert [d for d, _ in got] == [d for d, _ in want], (
        docs, qterms, boosts, must, exclude, k,
    )
    assert [s for _, s in got] == pytest.approx(
        [s for _, s in want], abs=1e-12
    )


# ------------------------------------------------ windows and skips
#
# The corpora above fit one 128-posting block, so the scorer sees one
# window and never skips. Below, 4-posting blocks, split segments and
# small windows put block edges, window edges and tied scores
# everywhere; the skewed long lists check that skipping happens.

# few values, so scores tie across window edges; sums of these round
# differently in another term order
IMPACTS = [0.1, 0.2, 0.7]

_postings = st.lists(
    st.tuples(st.integers(0, 299), st.sampled_from(IMPACTS)),
    max_size=120, unique_by=lambda p: p[0],
)


def _replica(lists, k, exclude=(), boosts=None, must=()):
    """Exhaustive top-k: every doc of any list, summed 0.0 + boost ×
    impact in ascending term order."""
    boosts = boosts or {}
    per_doc: dict[int, dict[str, float]] = {}
    for t, posts in lists.items():
        for d, imp in posts:
            per_doc.setdefault(d, {})[t] = imp
    out = []
    for d, hits in per_doc.items():
        if d in exclude or any(t not in hits for t in must):
            continue
        s = 0.0
        for t in sorted(hits):
            s += boosts.get(t, 1.0) * hits[t]
        out.append((d, s))
    out.sort(key=lambda x: (-x[1], x[0]))
    return out[:k]


@settings(max_examples=150, deadline=None)
@given(
    st.dictionaries(st.sampled_from(["a", "b", "c", "d"]), _postings,
                    min_size=1, max_size=4),
    st.data(),
    st.sampled_from([1, 3, 10, 100]),
    st.sampled_from([None, 5, 11]),
    st.sampled_from([4, 12, bmw.WINDOW_POSTINGS]),
)
def test_windowed_scorer_equals_replica(lists, data, k, max_seg, window):
    lists = {t: sorted(p) for t, p in lists.items()}
    segs = {}
    for t, posts in lists.items():
        if not posts:
            segs[t] = []  # a term with no segments
            continue
        docs = np.array([d for d, _ in posts], dtype=np.int64)
        imps = np.array([i for _, i in posts], dtype=np.float64)
        step = max_seg or len(docs)
        segs[t] = [
            encode_segment(t, len(docs), docs[i:i + step],
                           np.ones(len(docs[i:i + step]), dtype=np.int64),
                           imps[i:i + step], block_size=4)
            for i in range(0, len(docs), step)
        ]
    boosts = {
        t: data.draw(st.sampled_from([0.5, 1.0, 2.5]), label=f"boost:{t}")
        for t in lists
    }
    must = {
        t for t in lists if data.draw(st.booleans(), label=f"must:{t}")
    }
    exclude = set(data.draw(st.lists(st.integers(0, 299), max_size=40),
                            label="exclude"))
    with patch.object(bmw, "WINDOW_POSTINGS", window):
        got = bmw_topk_local(segs, k, exclude=exclude or None,
                             boosts=boosts, must=must or None)
    assert got == _replica(lists, k, exclude, boosts, must)


def test_window_sums_in_ascending_term_order():
    """0.1 + 0.2 + 0.7 rounds to 1.0 in this order but to
    0.9999999999999999 in the reverse one; docs 0 and 9 fall in two
    different windows."""
    one = np.ones(1, dtype=np.int64)
    segs = {
        t: [encode_segment(t, 2, np.array([0, 9]), np.ones(2, np.int64),
                           np.array([imp, imp]), block_size=1)]
        for t, imp in (("c", 0.7), ("a", 0.1), ("b", 0.2))
    }
    segs["z"] = [encode_segment("z", 1, np.array([5]), one,
                                np.array([0.05]), block_size=1)]
    with patch.object(bmw, "WINDOW_POSTINGS", 4):
        got = bmw_topk_local(segs, 2)
    assert got == [(0, 1.0), (9, 1.0)]


def _skewed_lists(seed=0):
    """Two terms, 100k postings each over 400k doc_ids, impacts
    U(0.1, 0.2) with 40 hot postings per term at U(4, 5)."""
    rng = np.random.default_rng(seed)
    lists = {}
    for t in ("a", "b"):
        docs = np.sort(rng.choice(400_000, 100_000, replace=False))
        imps = rng.uniform(0.1, 0.2, len(docs))
        imps[rng.choice(len(docs), 40, replace=False)] = rng.uniform(
            4.0, 5.0, 40
        )
        lists[t] = (docs.astype(np.int64), imps)
    return lists


def _exhaustive_np(lists, k):
    """Numpy exhaustive top-k, ascending-term sums."""
    docs = np.unique(np.concatenate([d for d, _ in lists.values()]))
    score = np.zeros(len(docs))
    for t in sorted(lists):
        d, imp = lists[t]
        score[np.searchsorted(docs, d)] += imp
    top = np.lexsort((docs, -score))[:k]
    return list(zip(docs[top].tolist(), score[top].tolist()))


def test_skewed_long_lists_skip_most_blocks(monkeypatch):
    lists = _skewed_lists()
    segs = {
        t: [encode_segment(t, len(d), d, np.ones(len(d), dtype=np.int64),
                           imp)]
        for t, (d, imp) in lists.items()
    }
    n_blocks = sum(s.n_blocks for ss in segs.values() for s in ss)
    assert n_blocks == 1564
    decoded = []
    orig = Segment.decode_block

    def counting(seg, b):
        decoded.append((seg.term, b))
        return orig(seg, b)

    monkeypatch.setattr(Segment, "decode_block", counting)
    assert bmw_topk_local(segs, 10) == _exhaustive_np(lists, 10)
    assert len(decoded) <= n_blocks // 2
    assert len(set(decoded)) == len(decoded)  # no block decoded twice
    assert bmw_topk_local(segs, 100) == _exhaustive_np(lists, 100)
