"""Boolean BM25 queries: per-term boosts (``term^2.5``) and must_not
exclusion (``-term``) inside the exact BMW scorer — Lucene's boolean
query surface over the same compressed index. Verified against a
driver-side python replica that reuses the OracleIndex impacts."""

from __future__ import annotations

import numpy as np
import pytest

from documentindex_spark import oracle
from documentindex_spark.api import Engine
from documentindex_spark.operators.bmw import (
    bmw_topk,
    bmw_topk_boolean,
    parse_boolean_query,
)
from documentindex_spark.operators.codec import encode_segment


@pytest.fixture(scope="module")
def engine(spark, repo_files_small, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("bool_idx"))
    return Engine.index(
        spark, repo_files_small, out, input_id="rf@200-bool",
        bucket_groups=1,
    ).persist()


def _replica_topk(orc, spec, k, exclude=()):
    """score = Σ (ascending-term order) boost·impact over should
    terms; docs containing ANY must_not term (or excluded), or
    missing ANY must term, drop — byte-for-byte the implementation's
    frozen summation."""
    out = []
    for d in orc.tf:
        if d in exclude:
            continue
        if any(orc.tf[d].get(t, 0) > 0 for t in spec["must_not"]):
            continue
        if any(
            orc.tf[d].get(t, 0) == 0 for t in spec.get("must", [])
        ):
            continue
        s = 0.0
        for t in sorted(spec["should"]):
            s += spec["should"][t] * orc.impact(t, d)
        if s > 0.0:
            out.append((d, s))
    out.sort(key=lambda x: (-x[1], x[0]))
    return out[:k]


def test_parse_boolean_query():
    spec = parse_boolean_query("merge block^2.5 -deprecated")
    assert spec == {
        "should": {"merge": 1.0, "block": 2.5},
        "must": [],
        "must_not": ["deprecated"],
    }
    # multi-term raw token shares boost/negation; repeats keep max
    spec = parse_boolean_query("foo.bar^2 foo -a.b")
    assert spec["should"] == {"foo": 2.0, "bar": 2.0}
    assert spec["must_not"] == ["a", "b"]
    # must_not beats should for a term in both
    assert parse_boolean_query("x -x")["should"] == {}
    # +token requires AND scores (lands in must and should)
    spec = parse_boolean_query("+merge^2 sort -fast")
    assert spec["must"] == ["merge"]
    assert spec["should"] == {"merge": 2.0, "sort": 1.0}
    # must_not beats must too
    spec = parse_boolean_query("+x -x")
    assert spec["must"] == [] and spec["should"] == {}


def test_plain_query_matches_search(engine, local_docs):
    plain = [
        (int(r["doc_id"]), float(r["score"]))
        for r in engine.search("merge block", 10).orderBy("rank").collect()
    ]
    boolean = [
        (int(r["doc_id"]), float(r["score"]))
        for r in engine.search_boolean("merge block", 10)
        .orderBy("rank")
        .collect()
    ]
    assert boolean == plain


def test_boosted_matches_replica(engine, local_docs):
    orc = oracle.OracleIndex(local_docs)
    spec = parse_boolean_query("merge^3 block")
    got = [
        (int(r["doc_id"]), float(r["score"]))
        for r in engine.search_boolean("merge^3 block", 10)
        .orderBy("rank")
        .collect()
    ]
    assert got == _replica_topk(orc, spec, 10)
    # the boost is real: any hit containing 'merge' scores strictly
    # above its unboosted score
    boosted_up = [
        (d, s) for d, s in got
        if orc.tf[d].get("merge", 0) > 0
    ]
    assert boosted_up, "query corpus must have 'merge' hits"
    for d, s in boosted_up:
        assert s > orc.score("merge block", d)


def test_must_not_excludes(engine, local_docs):
    orc = oracle.OracleIndex(local_docs)
    q = "merge -block"
    spec = parse_boolean_query(q)
    got = [
        (int(r["doc_id"]), float(r["score"]))
        for r in engine.search_boolean(q, 10).orderBy("rank").collect()
    ]
    assert got == _replica_topk(orc, spec, 10)
    for d, _ in got:
        assert orc.tf[d].get("block", 0) == 0


def test_banded_equals_unbanded(engine):
    spec = parse_boolean_query("merge^2 -block def")
    un = bmw_topk_boolean(
        engine.spark, engine._postings, {0: spec}, k=10, band_size=None
    ).collect()
    bd = bmw_topk_boolean(
        engine.spark, engine._postings, {0: spec}, k=10,
        band_size=engine.built.band_size,
    ).collect()
    key = lambda rows: [  # noqa: E731
        (int(r["doc_id"]), float(r["score"]), int(r["rank"]))
        for r in sorted(rows, key=lambda r: r["rank"])
    ]
    assert key(un) == key(bd)


def test_only_must_not_returns_empty(engine):
    assert engine.search_boolean("-merge", 10).count() == 0


def test_must_clause_matches_replica(engine, local_docs):
    orc = oracle.OracleIndex(local_docs)
    q = "+merge^2 block def"
    spec = parse_boolean_query(q)
    got = [
        (int(r["doc_id"]), float(r["score"]))
        for r in engine.search_boolean(q, 10).orderBy("rank").collect()
    ]
    assert got == _replica_topk(orc, spec, 10)
    for d, _ in got:
        assert orc.tf[d].get("merge", 0) > 0


def test_must_banded_equals_unbanded(engine, local_docs):
    spec = parse_boolean_query("+merge sort -fast")
    un = bmw_topk_boolean(
        engine.spark, engine._postings, {0: spec}, k=10, band_size=None
    ).collect()
    bd = bmw_topk_boolean(
        engine.spark, engine._postings, {0: spec}, k=10,
        band_size=engine.built.band_size,
    ).collect()
    key = lambda rows: [  # noqa: E731
        (int(r["doc_id"]), float(r["score"]), int(r["rank"]))
        for r in sorted(rows, key=lambda r: r["rank"])
    ]
    assert key(un) == key(bd)
    orc = oracle.OracleIndex(local_docs)
    assert key(un) == [
        (d, s, i + 1)
        for i, (d, s) in enumerate(_replica_topk(orc, spec, 10))
    ]


def test_must_absent_term_empties(engine):
    """A required term with no postings anywhere → nothing qualifies
    (no silent fallback to the optional terms)."""
    assert engine.search_boolean("+zzzzzqx merge", 10).count() == 0


def test_must_outside_should_rejected(engine):
    with pytest.raises(ValueError, match="must terms"):
        bmw_topk_boolean(
            engine.spark, engine._postings,
            {0: {"should": {"merge": 1.0}, "must": ["sort"]}}, k=5,
        )


def test_composes_with_tombstones(engine, local_docs):
    orc = oracle.OracleIndex(local_docs)
    spec = parse_boolean_query("merge^2 block")
    full = _replica_topk(orc, spec, 200)
    excl = {full[0][0]}
    got = bmw_topk_boolean(
        engine.spark, engine._postings, {0: spec}, k=10,
        exclude_ids=excl,
    ).orderBy("rank").collect()
    want = _replica_topk(orc, spec, 10, exclude=excl)
    assert [(int(r["doc_id"]), float(r["score"])) for r in got] == want


def test_boost_must_be_positive():
    import pytest as _pt

    from documentindex_spark.operators.bmw import bmw_topk_local

    segs = {"t": [encode_segment("t", 1, np.array([0]), np.array([1]),
                                 np.array([1.0]))]}
    with _pt.raises(ValueError, match="boost"):
        bmw_topk_local(segs, 10, boosts={"t": 0.0})


def test_batched_queries(engine, local_docs):
    """Two boolean queries in ONE job give each its own results."""
    orc = oracle.OracleIndex(local_docs)
    specs = {
        0: parse_boolean_query("merge -block"),
        1: parse_boolean_query("def^2 import"),
    }
    rows = bmw_topk_boolean(
        engine.spark, engine._postings, specs, k=5
    ).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(int(r["query_id"]), []).append(
            (int(r["rank"]), int(r["doc_id"]), float(r["score"]))
        )
    for qid, spec in specs.items():
        got = [(d, s) for _, d, s in sorted(by_q.get(qid, []))]
        assert got == _replica_topk(orc, spec, 5)
