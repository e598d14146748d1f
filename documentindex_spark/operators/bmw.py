"""Block-Max WAND top-k over the compressed term-partitioned index
(Ding & Suel, SIGIR 2011) — SURVEY.md M3, north rule query path.

EXACT: block-max values are true per-block maxima of the precomputed
float64 impacts, skip decisions use ``<= θ`` only when the heap is
full (a doc that can only TIE the k-th score loses the
(score DESC, doc_id ASC) tie-break anyway, because windows are scored
in ascending doc_id), and scores sum impacts in ascending-term order —
so results are rank- AND score-identical to the exhaustive scorer
(asserted in tests/test_bmw_property.py).

Replaces the reference's full LLM scan
(/root/reference/src/documentindex/searcher.py:81-138: score every
node, sort, limit) with sub-linear skipping.

Execution shape: ``queries ⋈ postings on term`` (bucket partition
pruning + term predicate pushed to the parquet scan) →
``groupBy(query_id).applyInPandas(BMW)`` — queries score in parallel
across the cluster; each task touches only its terms' segments.
Every lane (the two driver-local serve lanes, the per-query and
banded Spark lanes, boolean queries) ends in ``bmw_topk_local``, which
scores window-at-a-time: block metadata bounds each doc-id window,
skipped windows are never decoded, and a scored window is one numpy
pass over its decoded blocks. Python loops over windows, terms and
blocks, never over postings.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..constants import BLOCK_SIZE, TOPK_DEFAULT
from ..functions.tokenize import query_terms
from .codec import Segment
from .postings import row_to_segment, term_bucket

# A window is cut after every WINDOW_POSTINGS postings of the query's
# lists (all terms together, counted from block metadata), at a block
# end. Large enough that a query over lists of about a thousand
# postings scores as one window: a window per block cost ~1.7x one
# exhaustive pass on such lists. Skipping inside a window is per
# block (_live_blocks), so long skewed lists skip most of their
# blocks at this size too.
WINDOW_POSTINGS = 32 * BLOCK_SIZE


def _id_array(ids) -> np.ndarray | None:
    """Any container of doc_ids → sorted int64 array (membership by
    searchsorted), or None when it holds none."""
    if ids is None or len(ids) == 0:
        return None
    if isinstance(ids, np.ndarray):
        arr = ids.astype(np.int64, copy=False)
    else:
        arr = np.fromiter(ids, dtype=np.int64, count=len(ids))
    return np.sort(arr)


def _in_sorted(values: np.ndarray, sorted_ids: np.ndarray) -> np.ndarray:
    """Boolean mask: which of ``values`` occur in ``sorted_ids``."""
    pos = np.searchsorted(sorted_ids, values)
    pos[pos == len(sorted_ids)] = 0
    return sorted_ids[pos] == values


class _Blocks:
    """One term's blocks, over all its segments in doc order: the
    doc range each block may cover (``lo``..``hi``), its boosted
    upper bound, and the decode of the last block read (a block that
    straddles a window edge is decoded once)."""

    __slots__ = ("segs", "seg_of", "local", "lo", "hi", "ub", "n",
                 "boost", "_last")

    def __init__(self, segments: list[Segment], boost: float):
        self.segs = sorted(segments, key=lambda s: s.min_doc_id)
        self.boost = boost
        self.hi = np.concatenate([s.block_max_doc for s in self.segs])
        # a block starts after its predecessor's last doc
        self.lo = np.concatenate([
            np.concatenate(([s.min_doc_id], s.block_max_doc[:-1] + 1))
            for s in self.segs
        ])
        self.ub = boost * np.concatenate(
            [s.block_max_impact for s in self.segs]
        )
        self.n = np.concatenate([s.block_n for s in self.segs])
        self.seg_of = np.repeat(
            np.arange(len(self.segs)), [s.n_blocks for s in self.segs]
        )
        self.local = np.concatenate(
            [np.arange(s.n_blocks) for s in self.segs]
        )
        self._last = (-1, None, None)

    def read(self, blocks, lo: int, hi: int):
        """Postings of the given blocks (ascending) with
        lo <= doc_id <= hi → (doc_ids, boosted impacts)."""
        docs, imps = [], []
        for g in blocks:
            if self._last[0] == g:
                d, i = self._last[1], self._last[2]
            else:
                seg = self.segs[self.seg_of[g]]
                d, i = seg.decode_block(int(self.local[g]))
                self._last = (g, d, i)
            docs.append(d)
            imps.append(i)
        docs = np.concatenate(docs)
        imps = np.concatenate(imps)
        i0 = int(np.searchsorted(docs, lo))
        i1 = int(np.searchsorted(docs, hi, side="right"))
        return docs[i0:i1], self.boost * imps[i0:i1]


def _live_blocks(lists, spans, lo: int, hi: int, theta: float):
    """Block-level refinement of a window that was not skipped. The
    window splits at every block edge of its terms into intervals that
    each term's blocks either cover whole or miss; an interval's bound
    sums, in ascending term order, the covering blocks' bounds. Only
    intervals bounded above θ can hold a new top-k doc → per span, the
    blocks that cover such an interval."""
    edges = [np.array([lo, hi + 1])]
    for i, b0, b1 in spans:
        b = lists[i]
        edges.append(b.lo[b0:b1 + 1])
        edges.append(b.hi[b0:b1 + 1] + 1)
    starts = np.unique(np.clip(np.concatenate(edges), lo, hi + 1))[:-1]
    bound = np.zeros(len(starts), dtype=np.float64)
    covers = []
    for i, b0, b1 in spans:
        b = lists[i]
        g = np.minimum(b0 + np.searchsorted(b.hi[b0:b1 + 1], starts), b1)
        hit = (b.hi[g] >= starts) & (b.lo[g] <= starts)
        bound += np.where(hit, b.ub[g], 0.0)
        covers.append((g, hit))
    live = bound > theta
    return [np.unique(g[hit & live]) for g, hit in covers]


def bmw_topk_local(
    segments_by_term: dict[str, list[Segment]],
    k: int = TOPK_DEFAULT,
    exclude=None,
    boosts: dict[str, float] | None = None,
    must: set | None = None,
) -> list[tuple[int, float]]:
    """Exact window-at-a-time Block-Max top-k over in-memory segments
    → [(doc_id, score)] sorted (score DESC, doc_id ASC).

    Windows: the doc-id space is cut at block ends, one window per
    ``WINDOW_POSTINGS`` postings of the query's lists, and windows are
    visited in ascending doc order. A window's bound is the sum, over
    terms in ascending order, of boost × the largest
    ``block_max_impact`` among that term's blocks overlapping it. Once
    the heap holds k docs, a window whose bound is ≤ θ (the k-th
    score) is skipped without a decode; in any other window, blocks
    whose doc ranges only hold intervals bounded ≤ θ are skipped too.
    The other blocks decode (``Segment.decode_block``) and numpy
    scores the window: per doc, 0.0 plus each matching term's boosted
    impact in ascending term order, then a merge of the docs above θ
    into the running top-k by ``lexsort((doc, -score))``.

    Exact: a skipped doc scores ≤ its window's or interval's bound ≤ θ
    (the bound adds per-term block maxima in the same order, impacts
    are positive, and float addition and multiplication round
    monotonically), and a doc that only ties θ loses the doc_id
    tie-break to every heap doc, all of which come from earlier
    (lower) windows. The ascending-term sum is the frozen
    summation order, so scores are float-identical to the exhaustive
    scorer (tests/test_bmw_property.py).

    ``exclude``: optional container of doc_ids to skip (Lucene's
    liveDocs check — tombstoned docs never enter the heap, so θ stays
    a valid lower bound on the k-th best RETAINED score and the
    result equals exhaustive-score-then-filter; plans/delete.py).

    ``boosts``: optional per-term score multipliers (> 0; Lucene's
    ``term^2.5``), applied to impacts and block bounds alike, so the
    pruning stays exact. A non-positive boost raises ``ValueError``:
    it breaks the bound monotonicity (use must_not for exclusion).

    ``must``: optional set of REQUIRED terms (Lucene MUST clauses;
    each must also be a scoring key of ``segments_by_term``): a doc
    qualifies only when every must term matched it; a must term with
    no segments empties the result. θ only rises on qualifying docs."""
    boosts = boosts or {}
    for t, b in boosts.items():
        if b <= 0.0:
            raise ValueError(f"boost must be > 0, got {b} for term {t!r}")
    if k <= 0:
        return []
    terms = sorted(t for t, segs in segments_by_term.items() if segs)
    must = frozenset(must or ())
    if not terms or not must <= set(terms):
        return []
    lists = [
        _Blocks(segments_by_term[t], float(boosts.get(t, 1.0)))
        for t in terms
    ]
    is_must = [t in must for t in terms]
    excl = _id_array(exclude)

    # window edges: a cut at the block end where the running postings
    # count (all terms, in block-end order) passes each multiple of
    # WINDOW_POSTINGS; windows are [lo_w, hi_w], inclusive
    ends = np.concatenate([b.hi for b in lists])
    order = np.argsort(ends, kind="stable")
    ends = ends[order]
    cum = np.cumsum(np.concatenate([b.n for b in lists])[order])
    cuts = np.searchsorted(cum, np.arange(WINDOW_POSTINGS, cum[-1],
                                          WINDOW_POSTINGS))
    hi_w = np.unique(np.append(ends[cuts], ends[-1]))
    lo_w = np.empty_like(hi_w)
    lo_w[0] = min(int(b.lo[0]) for b in lists)
    lo_w[1:] = hi_w[:-1] + 1
    # per term, the blocks overlapping each window: first..last
    first = [np.searchsorted(b.hi, lo_w) for b in lists]
    last = [np.searchsorted(b.lo, hi_w, side="right") - 1 for b in lists]

    top_d = np.zeros(0, dtype=np.int64)
    top_s = np.zeros(0, dtype=np.float64)
    theta = None  # k-th score once the heap is full
    for w in range(len(hi_w)):
        spans = [
            (i, int(first[i][w]), int(last[i][w]))
            for i in range(len(lists))
            if first[i][w] <= last[i][w]
        ]
        lo, hi = int(lo_w[w]), int(hi_w[w])
        if theta is None:
            blocks = [range(b0, b1 + 1) for _, b0, b1 in spans]
        else:
            bound = 0.0
            for i, b0, b1 in spans:
                bound += float(lists[i].ub[b0:b1 + 1].max())
            if bound <= theta:
                continue
            blocks = _live_blocks(lists, spans, lo, hi, theta)
        parts = [
            (i, *lists[i].read(blk, lo, hi))
            for (i, _, _), blk in zip(spans, blocks)
            if len(blk)
        ]
        if not parts:
            continue
        docs = np.unique(np.concatenate([d for _, d, _ in parts]))
        score = np.zeros(len(docs), dtype=np.float64)
        matched = np.zeros(len(docs), dtype=np.int64)
        for i, d, imp in parts:  # ascending term order
            pos = np.searchsorted(docs, d)
            score[pos] += imp
            if is_must[i]:
                matched[pos] += 1
        keep = matched == len(must)
        if excl is not None:
            keep &= ~_in_sorted(docs, excl)
        if theta is not None:
            # also drops the docs of intervals _live_blocks left out:
            # their sums are partial, and (impacts are positive) at
            # most their full scores, which are at most θ
            keep &= score > theta
        if not keep.any():
            continue
        cand_d = np.concatenate([top_d, docs[keep]])
        cand_s = np.concatenate([top_s, score[keep]])
        sel = np.lexsort((cand_d, -cand_s))[:k]
        top_d, top_s = cand_d[sel], cand_s[sel]
        if len(top_d) == k:
            theta = float(top_s[-1])
    return list(zip(top_d.tolist(), top_s.tolist()))


# --------------------------------------------------------- Spark layer

BMW_RESULT_SCHEMA = T.StructType(
    [
        T.StructField("query_id", T.LongType()),
        T.StructField("doc_id", T.LongType()),
        T.StructField("score", T.DoubleType()),
        T.StructField("rank", T.IntegerType()),
    ]
)

# Above this many (query, term) pairs the literal-map projection's
# expression tree stops being free to plan; large batches (the 20k+
# query batch-QPS path) take the broadcast-join route instead.
_LITMAP_MAX_PAIRS = 4096


def _attach_query_ids(
    seg_rows: DataFrame,
    terms_by_query: dict[int, list[str]],
    spark: SparkSession,
) -> DataFrame:
    """Tag each pruned segment row with the query_id(s) whose term it
    matches.

    For interactive batch sizes this is a LITERAL term→[query_id] map
    projection (create_map + explode): zero exchanges and no
    createDataFrame round-trip, where the old broadcast-join route
    paid a driver→JVM table ship plus a BroadcastExchange job per
    call — measured ~350 ms of the ~740 ms single-query latency
    (OPTIMIZATION_r06.md). Row-identical to the join: both emit
    one row per (matching segment, subscribed query)."""
    pairs = [(qid, t) for qid, ts in terms_by_query.items() for t in ts]
    if len(pairs) > _LITMAP_MAX_PAIRS:
        qdf = spark.createDataFrame(pairs, "query_id long, term string")
        return seg_rows.join(F.broadcast(qdf), "term")
    term_to_qids: dict[str, list[int]] = {}
    for qid, t in pairs:
        term_to_qids.setdefault(t, []).append(qid)
    mapping = F.create_map(
        *[
            part
            for t in sorted(term_to_qids)
            for part in (
                F.lit(t),
                F.array(
                    *[F.lit(q).cast("long") for q in term_to_qids[t]]
                ),
            )
        ]
    )
    return seg_rows.withColumn(
        "query_id", F.explode(mapping[F.col("term")])
    )


def load_query_postings(
    spark: SparkSession, index_path: str, terms_by_query: dict[int, list[str]]
) -> DataFrame:
    """Read only the posting rows the query batch needs: bucket
    partition pruning + term predicate, both pushed into the scan."""
    all_terms = sorted({t for ts in terms_by_query.values() for t in ts})
    buckets = sorted({term_bucket(t) for t in all_terms})
    postings = spark.read.parquet(index_path)
    return postings.filter(
        F.col("bucket").isin(buckets) & F.col("term").isin(all_terms)
    )


def bmw_topk(
    spark: SparkSession,
    index: str | DataFrame,
    queries: dict[int, str],
    k: int = TOPK_DEFAULT,
    band_size: int | None = None,
    exclude_ids=None,
) -> DataFrame:
    """Batched BMW: (query_id → query text) → DataFrame
    (query_id, doc_id, score, rank).

    ``exclude_ids``: optional broadcast-sized container of tombstoned
    doc_ids (plans/delete.py) skipped inside the scorer — liveDocs
    semantics: excluded docs never consume heap slots, retained docs
    keep their exact pre-delete scores (stats stay stale until
    compaction, Lucene's contract).

    ``index`` is either the postings path (cold: pruned parquet scan)
    or an already-loaded (usually ``.persist()``-ed) postings
    DataFrame — a resident index, the serving-path configuration.

    Plan: pruned index scan → broadcast-join the tiny (query_id, term)
    table → groupBy(query_id).applyInPandas(BMW). Queries run in
    parallel; every task sees only its own terms' segments.

    ``band_size``: when given (= the index's build-time band width),
    the grouping key becomes (query_id, doc_band): segments never
    cross band boundaries at build time, so every band scores
    EXACTLY and independently — a single heavy query parallelizes
    across the cluster instead of landing on one task. Per-band
    top-k results merge via a global (score DESC, doc ASC) window.
    Per-band θ starts at -inf (less skipping than a shared heap), so
    it trades some decode work for parallelism — results identical.
    """
    terms_by_query = {qid: query_terms(q) for qid, q in queries.items()}
    if not any(terms_by_query.values()):
        return spark.createDataFrame([], BMW_RESULT_SCHEMA)
    if isinstance(index, str):
        seg_rows = load_query_postings(spark, index, terms_by_query)
    else:
        # Same predicates as the path branch: a DataFrame index that
        # is NOT persisted (cold Engine.open) still resolves to a
        # parquet scan, and without the bucket predicate the partition
        # filter is lost — every bucket's row groups get read. Bucket
        # is derivable from the terms, so push both.
        all_terms = sorted({t for ts in terms_by_query.values() for t in ts})
        buckets = sorted({term_bucket(t) for t in all_terms})
        seg_rows = index.filter(
            F.col("bucket").isin(buckets) & F.col("term").isin(all_terms)
        )

    # NOTE (round-6 A/B, OPTIMIZATION_r06.md): an adaptive
    # "collect-and-score-on-the-driver" route for small queries was
    # measured SLOWER than this distributed plan (~430 ms vs ~250 ms
    # per query at 20k docs): the size-guard aggregate job plus the
    # createDataFrame(result) round-trip cost more than the one tiny
    # exchange they replaced. (At 200k docs a GUARDLESS collect
    # variant measures faster — 167 vs 357 ms — but without the guard
    # job the driver collects before knowing the posting volume,
    # which is exactly the unbounded-driver-materialization this
    # distributed lane exists to avoid; with the guard the win
    # disappears.) Callers who want the driver-local path use
    # bmw_serve / bmw_serve_arrow explicitly — those carry the
    # max_collect_postings cap as their contract.
    joined = _attach_query_ids(seg_rows, terms_by_query, spark)
    return _score_groups(joined, k, band_size, exclude_ids)


def _segments_by_term(rows) -> dict[str, list[Segment]]:
    """{term: [Segment]} from stored segment rows (dicts)."""
    by_term: dict[str, list[Segment]] = {}
    for r in rows:
        by_term.setdefault(r["term"], []).append(row_to_segment(r))
    return by_term


def _group_scorer(k: int, exclude_ids=None, must_by_q=None):
    """The per-group body every Spark lane runs: one query's (or one
    query band's) segment rows → its top-k rows. Rows carrying a
    ``neg`` flag are must_not terms (their docs join the exclusion
    set); a ``boost`` column gives the per-term boosts."""
    base = _id_array(exclude_ids)

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        qid = int(pdf["query_id"].iloc[0])
        rows = pdf.to_dict("records")
        excl = [base] if base is not None else []
        if "neg" in pdf.columns:
            excl += [
                row_to_segment(r).decode_all()[0] for r in rows if r["neg"]
            ]
            rows = [r for r in rows if not r["neg"]]
        boosts = (
            {r["term"]: float(r["boost"]) for r in rows}
            if "boost" in pdf.columns
            else None
        )
        top = bmw_topk_local(
            _segments_by_term(rows), k,
            exclude=np.concatenate(excl) if excl else None,
            boosts=boosts,
            must=(must_by_q or {}).get(qid) or None,
        )
        return pd.DataFrame(
            {
                "query_id": qid,
                "doc_id": [d for d, _ in top],
                "score": [s for _, s in top],
                "rank": np.arange(1, len(top) + 1, dtype=np.int32),
            }
        )

    return run


def _score_groups(
    joined: DataFrame,
    k: int,
    band_size: int | None,
    exclude_ids=None,
    must_by_q=None,
) -> DataFrame:
    """Score each query's segment rows (``_group_scorer``), per query
    or per (query, doc band) when ``band_size`` is given, and merge
    the bands' top-k rows."""
    run = _group_scorer(k, exclude_ids, must_by_q)
    if band_size is None:
        return joined.groupBy("query_id").applyInPandas(run, BMW_RESULT_SCHEMA)
    from pyspark.sql.window import Window

    banded = joined.withColumn(
        "doc_band", F.floor(F.col("min_doc_id") / F.lit(band_size))
    )
    per_band = banded.groupBy("query_id", "doc_band").applyInPandas(
        run, BMW_RESULT_SCHEMA
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        per_band.drop("rank")
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


# ------------------------------------------------- boolean queries


def parse_boolean_query(query: str) -> dict:
    """Minimal Lucene-ish query DSL → spec for ``bmw_topk_boolean``:

        "+merge block^2.5 -deprecated"
        → {"should": {"merge": 1.0, "block": 2.5},
           "must": ["merge"], "must_not": ["deprecated"]}

    The Lucene BooleanQuery trio: ``+token`` REQUIRES the term (it
    also scores, so it lands in should too), ``-token`` excludes
    documents containing it, ``token^w`` boosts by w (> 0). Each raw
    token normalizes through the FROZEN tokenizer (a token like
    ``foo.bar`` yields both terms, sharing the token's operators).
    Deterministic on repeats: the max boost wins; must_not beats
    must/should for a term in every clause (its docs are excluded,
    so requiring or scoring it could only empty the result).
    """
    should: dict[str, float] = {}
    must: list[str] = []
    must_not: list[str] = []
    for raw in query.split():
        neg = raw.startswith("-")
        req = raw.startswith("+")
        if neg or req:
            raw = raw[1:]
        boost = 1.0
        if "^" in raw:
            raw, _, bs = raw.rpartition("^")
            try:
                boost = float(bs)
            except ValueError:
                raw = raw + "^" + bs  # not a boost suffix
        for t in query_terms(raw):
            if neg:
                if t not in must_not:
                    must_not.append(t)
            else:
                should[t] = max(boost, should.get(t, 0.0))
                if req and t not in must:
                    must.append(t)
    for t in must_not:
        should.pop(t, None)
        if t in must:
            must.remove(t)
    return {"should": should, "must": must, "must_not": must_not}


def bmw_topk_boolean(
    spark: SparkSession,
    index: str | DataFrame,
    queries: dict[int, dict],
    k: int = TOPK_DEFAULT,
    band_size: int | None = None,
    exclude_ids=None,
    max_neg_postings: int = 2_000_000,
) -> DataFrame:
    """Batched boolean BM25: each query is a spec
    ``{"should": {term: boost}, "must": [terms], "must_not": [terms]}``
    (see ``parse_boolean_query``) → (query_id, doc_id, score, rank).
    ``must`` terms are required AND score (Lucene MUST; each must
    appear in ``should`` — ``parse_boolean_query`` guarantees it);
    the per-group scorer admits a doc only when all of them matched.

    Same plan as ``bmw_topk`` — ONE pruned scan covers the positive
    AND negative terms' segments (they ride the same bucket/term
    pushdown), broadcast (query_id, term, boost, neg) join,
    per-query applyInPandas. Inside the scorer the negative terms'
    postings decode into a liveDocs-style exclusion set (merged with
    the tombstones), and boosts scale impacts and block bounds —
    pruning stays exact. Banded mode is safe because segments never
    cross band boundaries: a negative term's postings for band B sit
    in band B's group, so each band's exclusion set is complete.

    ``max_neg_postings``: in NON-banded mode every negative term's
    full postings decode into one task's Python exclusion set, so a
    hot must_not term (stopword) would materialize a corpus-scale set
    in a single task. A per-query pre-check (one agg over the already
    pruned segment scan) raises when a query's negative postings
    exceed the cap — pass ``band_size`` instead, where each band's
    exclusion set is bounded by band_size (round-4 advice).
    """
    pairs = []
    must_by_q: dict[int, frozenset] = {}
    for qid, spec in queries.items():
        should = spec.get("should", {})
        m = frozenset(spec.get("must", []))
        if not m <= set(should):
            raise ValueError(
                f"must terms {sorted(m - set(should))} missing from "
                "'should' — must clauses score, give them a boost entry"
            )
        must_by_q[qid] = m
        for t, b in sorted(should.items()):
            pairs.append((qid, t, float(b), False))
        for t in sorted(set(spec.get("must_not", []))):
            pairs.append((qid, t, 1.0, True))
    if not any(not p[3] for p in pairs):
        return spark.createDataFrame([], BMW_RESULT_SCHEMA)
    all_terms = sorted({p[1] for p in pairs})
    buckets = sorted({term_bucket(t) for t in all_terms})
    if isinstance(index, str):
        postings = spark.read.parquet(index)
    else:
        postings = index
    seg_rows = postings.filter(
        F.col("bucket").isin(buckets) & F.col("term").isin(all_terms)
    )
    if len(pairs) > _LITMAP_MAX_PAIRS:
        qdf = spark.createDataFrame(
            pairs, "query_id long, term string, boost double, neg boolean"
        )
        joined = seg_rows.join(F.broadcast(qdf), "term")
    else:
        # literal term → [(query_id, boost, neg)] projection — same
        # zero-exchange attachment as _attach_query_ids, with the
        # boolean metadata riding in the struct.
        by_term: dict[str, list] = {}
        for qid, t, b, neg in pairs:
            by_term.setdefault(t, []).append(
                F.struct(
                    F.lit(qid).cast("long").alias("query_id"),
                    F.lit(b).alias("boost"),
                    F.lit(neg).alias("neg"),
                )
            )
        mapping = F.create_map(
            *[
                part
                for t in sorted(by_term)
                for part in (F.lit(t), F.array(*by_term[t]))
            ]
        )
        joined = (
            seg_rows.withColumn(
                "_q", F.explode(mapping[F.col("term")])
            )
            .withColumn("query_id", F.col("_q.query_id"))
            .withColumn("boost", F.col("_q.boost"))
            .withColumn("neg", F.col("_q.neg"))
            .drop("_q")
        )

    if band_size is None and any(p[3] for p in pairs):
        neg_hot = (
            joined.filter("neg")
            .groupBy("query_id")
            .agg(F.sum("n_postings").alias("neg_postings"))
            .filter(F.col("neg_postings") > max_neg_postings)
            .orderBy(F.desc("neg_postings"))
            .limit(1)
            .collect()
        )
        if neg_hot:
            r = neg_hot[0]
            raise RuntimeError(
                f"query {r['query_id']}: must_not terms match "
                f"{r['neg_postings']} postings > {max_neg_postings}; a "
                "corpus-hot negative term needs banded mode (band_size) "
                "where each band's exclusion set is bounded"
            )

    return _score_groups(joined, k, band_size, exclude_ids, must_by_q)


def score_threshold_all(
    spark: SparkSession,
    index: str | DataFrame,
    queries: dict[int, str],
    threshold: float,
    exclude_ids=None,
) -> DataFrame:
    """Provenance-mode scorer: every (query_id, doc_id, score) with
    score ≥ threshold — NO top-k heap, NO global merge window.

    "Find ALL evidence" via ``bmw_topk(k=n_docs)`` is correct but the
    per-band heap degenerates to the whole corpus at 10^10 docs
    (round-2 verdict watch item). The threshold-first plan instead:
    pruned segment scan (bucket partition filter + term predicate at
    parquet) → broadcast (query_id, term) join → mapInPandas decode
    emitting one (query_id, doc_id, impact) row per posting →
    (query_id, doc_id) hash agg (partial map-side + final) → the
    threshold filter sits directly above the agg, below ANY sort.
    Every stage is shuffle-partitions wide; nothing accumulates a
    corpus-sized structure per task.

    Scores reproduce the frozen ascending-term float64 sum
    bit-for-bit (the per-doc term list is sorted before summing —
    same as bmw_topk_local / the DuckDB oracle), so results are
    value-identical to the heap path, not just rank-identical."""
    terms_by_query = {qid: query_terms(q) for qid, q in queries.items()}
    out_schema = T.StructType(
        [
            T.StructField("query_id", T.LongType()),
            T.StructField("doc_id", T.LongType()),
            T.StructField("score", T.DoubleType()),
        ]
    )
    if not any(terms_by_query.values()):
        return spark.createDataFrame([], out_schema)
    if isinstance(index, str):
        seg_rows = load_query_postings(spark, index, terms_by_query)
    else:
        all_terms = sorted({t for ts in terms_by_query.values() for t in ts})
        buckets = sorted({term_bucket(t) for t in all_terms})
        seg_rows = index.filter(
            F.col("bucket").isin(buckets) & F.col("term").isin(all_terms)
        )
    joined = _attach_query_ids(seg_rows, terms_by_query, spark)

    post_schema = T.StructType(
        [
            T.StructField("query_id", T.LongType()),
            T.StructField("term", T.StringType()),
            T.StructField("doc_id", T.LongType()),
            T.StructField("impact", T.DoubleType()),
        ]
    )

    def decode(batches):
        for pdf in batches:
            out = []
            for r in pdf.to_dict("records"):
                doc_ids, _, imps = row_to_segment(r).decode_all()
                out.append(
                    pd.DataFrame(
                        {
                            "query_id": r["query_id"],
                            "term": r["term"],
                            "doc_id": doc_ids,
                            "impact": imps,
                        }
                    )
                )
            if out:
                yield pd.concat(out, ignore_index=True)

    postings = joined.mapInPandas(decode, post_schema)
    if exclude_ids:
        # liveDocs filter UNDER the agg: tombstoned postings never
        # shuffle (plans/delete.py). The set is broadcast-sized by the
        # deletion contract, so an isin literal list keeps it in the
        # codegen'd stage; a corpus-fraction exclusion belongs in
        # compaction, not here.
        postings = postings.filter(
            ~F.col("doc_id").isin([int(d) for d in exclude_ids])
        )
    scored = (
        postings.groupBy("query_id", "doc_id")
        .agg(
            F.aggregate(
                F.sort_array(F.collect_list(F.struct("term", "impact"))),
                F.lit(0.0),
                lambda acc, x: acc + x["impact"],
            ).alias("score")
        )
        .filter(F.col("score") >= threshold)
    )
    return scored


def bmw_serve_arrow(
    index_path: str,
    query: str,
    k: int = TOPK_DEFAULT,
    max_collect_postings: int = 2_000_000,
    dataset=None,
    exclude_ids=None,
) -> list[tuple[int, float]]:
    """Spark-FREE point lookup: read only the query's segment rows
    straight from the bucket-partitioned parquet index with pyarrow
    (hive partition pruning on ``bucket=`` dirs + row-group statistics
    skipping on ``term``), then run BMW in-process. No job scheduling,
    no executor round-trip — the serving-tier fast lane under the
    same on-disk index the cluster path reads (results identical,
    asserted in tests/test_index_bmw.py).

    ``dataset``: pass a cached ``pyarrow.dataset.Dataset`` (e.g. from
    ``Engine``) to skip re-listing files per query."""
    import pyarrow.dataset as ds

    terms = query_terms(query)
    if not terms:
        return []
    if dataset is None:
        dataset = ds.dataset(index_path, format="parquet", partitioning="hive")
    buckets = sorted({term_bucket(t) for t in terms})
    tbl = dataset.to_table(
        filter=ds.field("bucket").isin(buckets) & ds.field("term").isin(terms)
    )
    return _serve_table(tbl, k, max_collect_postings, exclude_ids)


def _serve_table(
    tbl, k: int, max_collect_postings: int, exclude_ids
) -> list[tuple[int, float]]:
    """The driver-local tail of both serve lanes: the query's segment
    rows as an Arrow table → postings cap check → top-k."""
    import pyarrow.compute as pc

    total = pc.sum(tbl.column("n_postings")).as_py() or 0
    if total > max_collect_postings:
        raise ValueError(
            f"query matches {total} postings > {max_collect_postings}; "
            "use the distributed bmw_topk path"
        )
    return bmw_topk_local(
        _segments_by_term(tbl.to_pylist()), k, exclude=exclude_ids
    )


def bmw_serve(
    postings: DataFrame,
    query: str,
    k: int = TOPK_DEFAULT,
    max_collect_postings: int = 2_000_000,
    exclude_ids=None,
) -> list[tuple[int, float]]:
    """Low-latency single-query serving: pull the query's (pruned,
    pushed-down) segment rows to the driver and run BMW locally —
    the point-lookup path a serving tier uses, bypassing per-job
    scheduling overhead (~0.5-1s → ~10-100ms).

    Falls back to raising when the matched lists exceed
    ``max_collect_postings`` (hot-stopword queries at cluster scale
    belong on the distributed path, never on the driver)."""
    terms = query_terms(query)
    if not terms:
        return []
    # bucket predicate alongside term: partition pruning on a cold
    # parquet-backed frame, per-batch stats pruning on a persisted one.
    buckets = sorted({term_bucket(t) for t in terms})
    # toArrow() collect: the segment rows are mostly binary blobs, and
    # the Arrow path moves them as columnar buffers where Row collect
    # deserializes each through pickled Rows — measured p50 107 → 89 ms
    # at 20k docs, identical results (OPTIMIZATION_r06.md).
    tbl = postings.filter(
        F.col("bucket").isin(buckets) & F.col("term").isin(terms)
    ).toArrow()
    return _serve_table(tbl, k, max_collect_postings, exclude_ids)
