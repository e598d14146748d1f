"""Engine facade: the reference-parity API surface end-to-end."""

from __future__ import annotations

import pytest

from documentindex_spark import oracle
from documentindex_spark.api import Engine


@pytest.fixture(scope="module")
def engine(spark, repo_files_small, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("api_idx"))
    return Engine.index(
        spark, repo_files_small, out, input_id="rf@200-api",
        bucket_groups=1,
    ).persist()


def test_search(engine, local_docs):
    orc = oracle.OracleIndex(local_docs)
    got = [
        (int(r["doc_id"]), float(r["score"]))
        for r in engine.search("merge block", 10).orderBy("rank").collect()
    ]
    want = orc.topk("merge block", 10)
    assert [d for d, _ in got] == [d for d, _ in want]


def test_search_serve(engine, local_docs):
    orc = oracle.OracleIndex(local_docs)
    got = engine.search_serve("merge block", 10)
    assert [d for d, _ in got] == [d for d, _ in orc.topk("merge block", 10)]


def test_extract_all(engine, local_docs):
    orc = oracle.OracleIndex(local_docs)
    rows = engine.extract_all("merge block", threshold=1.0).collect()
    want = orc.all_matches("merge block", 1.0)
    assert sorted(int(r["doc_id"]) for r in rows) == sorted(d for d, _ in want)
    assert all(r["snippet"] for r in rows)  # above excerpt gate


def test_answer_multi_probe(engine):
    res = engine.answer("merge block", k_per_probe=5, max_probes=3)
    assert res["citations"], "expected citations"
    ids = [c.doc_id for c in res["citations"]]
    assert len(ids) == len(set(ids)), "exclusion list must prevent dups"
    assert res["citations"][0].snippet
    assert 0.0 <= res["confidence"] <= 1.0
    assert res["probes"][0]["fresh"] > 0


def test_extract_all_topics_one_batch(engine, local_docs):
    """N topics in one job must equal N single-topic extract_all runs
    (reference provenance.py:255-291 bounded-concurrency analog)."""
    orc = oracle.OracleIndex(local_docs)
    topics = ["merge block", "def import"]
    rows = engine.extract_all_topics(topics, threshold=1.0).collect()
    by_topic: dict[int, set[int]] = {}
    for r in rows:
        by_topic.setdefault(int(r["query_id"]), set()).add(int(r["doc_id"]))
    for qid, topic in enumerate(topics):
        want = {d for d, _ in orc.all_matches(topic, 1.0)}
        assert by_topic.get(qid, set()) == want, topic
    assert all(r["snippet"] for r in rows)  # above the excerpt gate


def test_search_cached_hits_and_identity(engine):
    engine._result_cache.clear()
    engine.cache_hits = engine.cache_misses = 0
    a = engine.search_cached("merge block", 10)
    b = engine.search_cached("merge block", 10)
    assert a == b and a is b  # memoized object, no recompute
    assert engine.cache_misses == 1 and engine.cache_hits == 1
    assert a == engine.search_serve("merge block", 10)
    # different k = different key
    c = engine.search_cached("merge block", 5)
    assert engine.cache_misses == 2 and c == a[:5]


def test_search_cached_lru_eviction(engine):
    engine._result_cache.clear()
    engine._cache_capacity = 2
    engine.search_cached("merge block", 3)
    engine.search_cached("def import", 3)
    engine.search_cached("index0 token1", 3)  # evicts the oldest
    assert len(engine._result_cache) == 2
    engine._cache_capacity = 256


def test_search_cached_ttl_expiry(engine):
    """reference cache.py:286-288: entries expire after their TTL and
    recompute on next access; ttl=None (default) never expires."""
    engine._result_cache.clear()
    engine.cache_hits = engine.cache_misses = 0
    engine._cache_ttl = 10.0
    a = engine.search_cached("merge block", 3)
    assert engine.search_cached("merge block", 3) is a  # fresh → hit
    # age the entry past the TTL (no sleeping: rewrite its timestamp)
    key, (ts, res) = next(iter(engine._result_cache.items()))
    engine._result_cache[key] = (ts - 11.0, res)
    b = engine.search_cached("merge block", 3)
    assert b == a and b is not a  # recomputed, same values
    assert engine.cache_misses == 2 and engine.cache_hits == 1
    engine._cache_ttl = None


def test_describe_index_stats(engine):
    d = engine.describe()
    assert d["n_docs"] == 200 and d["n_files"] == 200
    assert d["n_terms"] > 0 and d["n_postings"] > 0
    assert d["n_buckets"] <= 64
    assert d["blob_bytes"] > 0
    assert d["max_segment_postings"] <= 1_000_000
    assert d["stages"]["postings"]["status"] == "complete"
    assert {"entries", "hits", "misses"} <= set(d["cache"])


def test_open_existing(spark, engine, repo_files_small):
    e2 = Engine.open(spark, engine.built.out_dir, repo_files_small)
    got = e2.search_serve("merge block", 5)
    assert got == engine.search_serve("merge block", 5)


def test_cross_references(engine):
    edges = engine.cross_references()
    rows = edges.limit(200).collect()
    assert rows, "corpus plants module/section refs"
    assert {"module", "section", "import"} >= {r["ref_type"] for r in rows}

def test_cold_search_plan_prunes_bucket_partitions(spark, engine,
                                                   tmp_path_factory):
    """A cold Engine.open().search() (postings NOT persisted) must
    push BOTH the bucket partition filter and the term predicate into
    the parquet scan — round-2 weak spot: the DataFrame index branch
    filtered on term only, so every bucket's row groups were read.

    Uses its OWN index dir: reading the module fixture's path would
    hit Spark's CacheManager (same analyzed plan as the persisted
    engine) and serve the InMemoryRelation, hiding the scan."""
    from documentindex_spark.corpus import generate_repo_files
    from documentindex_spark.sources.registry import with_doc_ids

    files = with_doc_ids(generate_repo_files(spark, 60)).cache()
    out = str(tmp_path_factory.mktemp("cold_idx"))
    Engine.index(spark, files, out, input_id="rf@60-cold", bucket_groups=1)
    e2 = Engine.open(spark, out, files)
    res = e2.search("merge block", 5)
    plan = res._jdf.queryExecution().executedPlan().toString()
    import re

    parts = re.findall(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert parts, f"no PartitionFilters in plan:\n{plan[:2000]}"
    assert any("bucket" in p for p in parts), (
        f"bucket partition filter not pushed: {parts}"
    )
    assert "PushedFilters: [IsNotNull(term)" in plan or re.search(
        r"PushedFilters: \[[^\]]*term", plan
    ), "term predicate not pushed to the scan"
    # and the search still returns ranked results
    rows = res.orderBy("rank").collect()
    assert rows and rows[0]["rank"] == 1


def test_cold_read_of_one_group_index_starts_no_listing_job(
    spark, tmp_path_factory
):
    """A default (one-pass) build puts all 64 bucket= dirs under one
    group= dir — above Spark's default parallel partition-discovery
    threshold of 32, where every cold read of the index would list
    them with an extra Spark job. session.get_spark raises the
    threshold; a cold bmw_topk over the default layout must start no
    more jobs than over a 4-group layout (16 buckets per group)."""
    from documentindex_spark.corpus import generate_repo_files
    from documentindex_spark.operators.bmw import bmw_topk
    from documentindex_spark.plans.build_index import build_index
    from documentindex_spark.sources.registry import with_doc_ids

    files = with_doc_ids(generate_repo_files(spark, 60)).cache()
    sc = spark.sparkContext
    jobs = {}
    for groups in (None, 4):
        out = str(tmp_path_factory.mktemp(f"listing_{groups}"))
        kw = {} if groups is None else {"bucket_groups": groups}
        built = build_index(spark, files, out, input_id="rf@60-list", **kw)
        tag = f"cold-topk-{groups}"
        sc.setJobGroup(tag, "cold bmw_topk")
        try:
            bmw_topk(spark, built.postings_path, {0: "merge sort"}, k=10).collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        jobs[groups] = len(sc.statusTracker().getJobIdsForGroup(tag))
    files.unpersist()
    assert 0 < jobs[None] <= jobs[4], jobs


def test_engine_close_releases_executor_memory(spark, tmp_path_factory):
    from documentindex_spark.corpus import generate_repo_files
    from documentindex_spark.sources.registry import (
        release_id_caches,
        with_doc_ids,
    )

    release_id_caches()
    jsc = spark.sparkContext._jsc.sc()
    before = jsc.getPersistentRDDs().size()
    out = str(tmp_path_factory.mktemp("close_idx"))
    # id assignment scoped to the engine's out_dir: close() releases
    # exactly this scope's pins (round-3 advice — a global release
    # could unpin another live engine's intermediates)
    # materialize=False: the generator's own build-pipeline persist is
    # a separate, caller-owned cache — this test counts the pins that
    # Engine.close() must release, so keep the corpus out of the tally.
    files = with_doc_ids(
        generate_repo_files(spark, 40, materialize=False), scope=out
    ).cache()
    files.count()
    eng = Engine.index(spark, files, out, input_id="rf@40-close",
                       bucket_groups=1).persist()
    assert eng.search_serve("merge block", 3)
    assert jsc.getPersistentRDDs().size() > before + 1
    eng.close()
    assert jsc.getPersistentRDDs().size() == before + 1  # files cache only
    files.unpersist()


def test_correct_query_and_search(engine):
    """OOV terms rewrite to their best distance-1 vocabulary match;
    in-vocab and unmatchable terms pass through; corrected search
    equals searching the corrected string."""
    # pick a real vocab term from the index and misspell it by one char
    row = (
        engine._postings.select("term")
        .filter("length(term) >= 5")
        .orderBy("term")
        .head()
    )
    term = row["term"]
    typo = term[:-1] + ("x" if term[-1] != "x" else "y") + term[-1]  # insertion
    corrected = engine.correct_query(typo)
    assert corrected == term
    assert engine.correct_query(term) == term  # in-vocab: untouched
    assert engine.correct_query("zzqqzzqq") == "zzqqzzqq"  # no match
    a = sorted(map(tuple, engine.search_corrected(typo, k=5).collect()))
    b = sorted(map(tuple, engine.search(term, k=5).collect()))
    assert a == b and len(a) > 0


def test_decompose_question_rules():
    """Deterministic clause splitting: punctuation + multi-word
    connectives split; bare 'and' between concepts does NOT."""
    from documentindex_spark.api import decompose_question

    assert decompose_question("what is a heap") == ["what is a heap"]
    assert decompose_question("merge and sort") == ["merge and sort"]
    got = decompose_question(
        "How does quicksort choose a pivot, and what is zstd compression?"
    )
    assert got == [
        "How does quicksort choose a pivot",
        "is zstd compression",
    ]
    # sentence punctuation splits; empty/garbage fragments dropped
    assert decompose_question("First thing? Second thing! ...") == [
        "First thing",
        "Second thing",
    ]


@pytest.fixture(scope="module")
def two_topic_engine(spark, tmp_path_factory):
    """Corpus engineered so a combined two-clause query's top-k is
    monopolized by clause 1 (more matching rare terms per doc), while
    clause 2's single evidence doc ranks below the cut."""
    from documentindex_spark.sources.registry import with_doc_ids

    rows = [
        (
            "qa",
            f"sort_{i}.md",
            "c0",
            "quicksort partition choose recursion pivot stack " * 6,
        )
        for i in range(3)
    ] + [
        ("qa", "zstd.md", "c0", "zstd compression entropy coding frames " * 6),
    ] + [
        ("qa", f"filler_{i}.md", "c0", f"telemetry logging notes shard {i} " * 4)
        for i in range(6)
    ]
    df = with_doc_ids(
        spark.createDataFrame(
            rows, "repo string, path string, commit string, content string"
        )
    ).cache()
    df.count()
    out = str(tmp_path_factory.mktemp("qa_two_topic"))
    eng = Engine.index(
        spark, df, out, input_id="qa-two-topic", bucket_groups=1
    ).persist()
    yield eng
    df.unpersist()


def test_answer_decomposed_covers_both_clauses(two_topic_engine):
    """Round-4 verdict #7: a two-clause question where single-probe
    search misses clause 2's evidence entirely (clause 1's docs match
    more high-idf terms and fill the whole top-k), but decomposed
    answering probes each clause and retrieves both."""
    q = (
        "How does quicksort partition choose a recursion pivot, "
        "and what is zstd compression?"
    )
    zstd_id = int(
        two_topic_engine.docs.filter("path = 'zstd.md'").head()["doc_id"]
    )

    single = two_topic_engine.answer(
        q, k_per_probe=2, max_probes=1, threshold=0.1
    )
    single_ids = {c.doc_id for c in single["citations"]}
    assert single_ids, "combined probe should still cite clause-1 docs"
    assert zstd_id not in single_ids, (
        "test premise: the combined top-k must miss clause 2's doc"
    )

    dec = two_topic_engine.answer(
        q, k_per_probe=2, max_probes=1, threshold=0.1, decompose=True
    )
    dec_ids = [c.doc_id for c in dec["citations"]]
    assert zstd_id in dec_ids, "decomposed answer must cover clause 2"
    assert single_ids & set(dec_ids), "clause 1 evidence still cited"
    assert len(dec_ids) == len(set(dec_ids)), "shared exclusion set"
    assert "clauses" in dec and len(dec["clauses"]) == 2
    assert 0.0 <= dec["confidence"] <= 1.0
    # ranks are a contiguous 1..n across clauses
    assert [c.rank for c in dec["citations"]] == list(
        range(1, len(dec_ids) + 1)
    )
