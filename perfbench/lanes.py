"""The three read lanes, each timed per call.

- serve: ``Engine.search_serve_arrow`` -- pyarrow pruned read plus
  in-process Block-Max WAND, no Spark job.
- search: ``Engine.search`` -- one Spark job per query.
- batch: ``operators.bmw.bmw_topk`` -- one Spark job per group of
  queries.

Every lane calls the engine's own public entry point, traced or not.
In a traced run ``Probes`` wraps the functions those entry points
look up at call time, so the spans come from the program's own calls:
the analyzer, the segment rebuild and the scorer that
``bmw_serve_arrow`` calls, ``Segment.decode_block``, and the
``Engine.delete`` and ``plans.incremental.append_documents`` calls of
``Engine.update_documents``. The serve lane's pyarrow scan is the
rest of the call. The Spark lanes add a scan-only job and executor
byte counters. Results are kept per call for the checker; a call that
raises is counted as failed and its answer is not checked.
"""

from __future__ import annotations

import os
import time

from documentindex_spark.api import Engine
from documentindex_spark.functions.tokenize import query_terms
from documentindex_spark.operators import bmw as bmw_mod
from documentindex_spark.operators.codec import Segment
from documentindex_spark.plans import incremental
from documentindex_spark.plans.delete import load_tombstones
from documentindex_spark.plans.metrics import executor_totals


def _row_bytes(row) -> int:
    """Bytes of one stored segment row: its blobs, block arrays (8
    bytes an entry; ``block_n`` is 4) and term."""
    n = len(row["term"].encode())
    for c in ("doc_blob", "tf_blob", "impact_blob"):
        n += len(row[c])
    n += 4 * len(row["block_n"])
    for c in ("block_max_doc", "block_max_impact", "block_doc_off",
              "block_tf_off"):
        n += 8 * len(row[c])
    return n


def dir_listing(path: str) -> dict[str, tuple[int, int]]:
    out = {}
    for root, _, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            st = os.stat(p)
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


def bytes_written(before: dict, after: dict) -> int:
    """Bytes of files created or rewritten between two listings."""
    return sum(sz for p, (sz, mt) in after.items()
               if before.get(p) != (sz, mt))


class Probes:
    """Span-recording wrappers around engine functions, for traced runs
    only; each wrapper calls the original unchanged, and leaving the
    block puts the originals back. ``serve`` wraps what
    ``bmw_serve_arrow`` calls and is installed around each serve call
    alone: a Spark job pickles the scorer and the segment rebuild into
    its tasks, which must get the originals. ``write`` wraps what
    ``Engine.update_documents`` calls, for the update cycle."""

    def __init__(self, tracer, kind: str):
        self.tracer = tracer
        self.kind = kind
        self._saved: list[tuple[object, str, object]] = []

    def _wrap(self, owner, name: str, make) -> None:
        orig = getattr(owner, name)
        self._saved.append((owner, name, orig))
        setattr(owner, name, make(orig))

    def __enter__(self):
        tr = self.tracer
        if not tr.enabled:
            return self

        def timed(span):
            def make(orig):
                def wrapper(*a, **kw):
                    with tr.span(span):
                        return orig(*a, **kw)
                return wrapper
            return make

        def row_to_segment(orig):
            def wrapper(row):
                tr.count("bmw.segment_rows")
                tr.count("bmw.postings", int(row["n_postings"]))
                tr.count("bmw.bytes_read", _row_bytes(row))
                with tr.span("postings.row_to_segment"):
                    return orig(row)
            return wrapper

        def topk_local(orig):
            def wrapper(by_term, *a, **kw):
                tr.count("bmw.queries")
                tr.count("bmw.blocks_in_lists",
                         sum(s.n_blocks for segs in by_term.values()
                             for s in segs))
                with tr.span("bmw.score"):
                    return orig(by_term, *a, **kw)
            return wrapper

        def decode_block(orig):
            def wrapper(seg, b):
                tr.count("codec.blocks_decoded")
                return orig(seg, b)
            return wrapper

        def append(orig):
            def wrapper(spark, built, *a, **kw):
                before = dir_listing(built.out_dir)
                with tr.span("incremental.append"):
                    out = orig(spark, built, *a, **kw)
                tr.count("incremental.bytes_written",
                         bytes_written(before, dir_listing(out.out_dir)))
                return out
            return wrapper

        if self.kind == "serve":
            self._wrap(bmw_mod, "query_terms", timed("tokenize.query_terms"))
            self._wrap(bmw_mod, "row_to_segment", row_to_segment)
            self._wrap(bmw_mod, "bmw_topk_local", topk_local)
            self._wrap(Segment, "decode_block", decode_block)
        else:
            self._wrap(incremental, "append_documents", append)
            self._wrap(Engine, "delete", timed("delete.delete"))
        return self

    def __exit__(self, *exc):
        while self._saved:
            owner, name, orig = self._saved.pop()
            setattr(owner, name, orig)


class Reader:
    """Read lanes over one engine. ``results`` collects
    (lane, query, [(doc_id, score)]) for the checker; ``errors`` the
    calls that raised."""

    def __init__(self, spark, engine, tracer):
        self.spark = spark
        self.engine = engine
        self.tracer = tracer
        self.results: list[tuple[str, object, list]] = []
        self.lat: dict[str, list[float]] = {"serve": [], "search": [],
                                            "batch": []}
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self._probes = Probes(tracer, "serve")
        self._tomb = None

    def use(self, engine) -> None:
        """Switch to a new engine (after an update or compaction)."""
        self.engine = engine
        self._tomb = None

    def _tombstones(self):
        if self._tomb is None:
            self._tomb = load_tombstones(self.spark, self.engine.built.out_dir)
        return self._tomb or None

    def _failed(self, lane: str, n: int, e: Exception) -> None:
        self.failed += n
        self.errors.append(f"{lane} lane raised {type(e).__name__}: {e}")

    # ------------------------------------------------------------ serve

    def serve(self, q, record: bool = True):
        """One ``search_serve_arrow`` call; its answer, or None if it
        raised. In a traced run the call's pyarrow scan time is the
        call's span minus its analyzer, segment rebuild and scorer
        spans."""
        self.attempted += 1
        tr = self.tracer
        i0 = len(tr.spans)
        t0 = time.perf_counter()
        try:
            with tr.span("bmw.serve"), self._probes:
                res = self.engine.search_serve_arrow(q.text, k=q.k)
        except Exception as e:  # noqa: BLE001 - counted, run goes on
            self._failed("serve", 1, e)
            return None
        dt = time.perf_counter() - t0
        if tr.enabled:
            inner = {}
            for s in tr.spans[i0 + 1:]:
                inner[s[2]] = inner.get(s[2], 0.0) + s[4] - s[3]
            if "bmw.score" in inner:
                whole = tr.spans[i0][4] - tr.spans[i0][3]
                tr.sample("bmw.serve_scan", whole - sum(inner.values()))
                tr.sample("postings.row_to_segment",
                          inner.get("postings.row_to_segment", 0.0))
        if record:
            self.lat["serve"].append(dt)
            self.results.append(("serve", q, res))
        return res

    # ----------------------------------------------------------- search

    def search(self, q) -> None:
        self.attempted += 1
        tr = self.tracer
        snap = executor_totals(self.spark) if tr.enabled else None
        t0 = time.perf_counter()
        try:
            with tr.span("bmw.search_job"):
                rows = self.engine.search(q.text, k=q.k).collect()
        except Exception as e:  # noqa: BLE001 - counted, run goes on
            self._failed("search", 1, e)
            return
        self.lat["search"].append(time.perf_counter() - t0)
        res = [(r["doc_id"], r["score"])
               for r in sorted(rows, key=lambda r: r["rank"])]
        self.results.append(("search", q, res))
        if tr.enabled:
            self._bytes(snap, 1)
            terms = query_terms(q.text)
            if terms:
                with tr.span("bmw.search_scan_job"):
                    bmw_mod.load_query_postings(
                        self.spark, self.engine.built.postings_path,
                        {0: terms}).count()

    # ------------------------------------------------------------ batch

    def batch(self, qs) -> None:
        """One ``bmw_topk`` job over ``qs`` (all with the same k)."""
        self.attempted += len(qs)
        tr = self.tracer
        snap = executor_totals(self.spark) if tr.enabled else None
        t0 = time.perf_counter()
        try:
            with tr.span("bmw.batch_job"):
                rows = bmw_mod.bmw_topk(
                    self.spark, self.engine.built.postings_path,
                    {i: q.text for i, q in enumerate(qs)}, k=qs[0].k,
                    exclude_ids=self._tombstones()).collect()
        except Exception as e:  # noqa: BLE001 - counted, run goes on
            self._failed("batch", len(qs), e)
            return
        self.lat["batch"].append(time.perf_counter() - t0)
        by_q: dict[int, list] = {i: [] for i in range(len(qs))}
        for r in rows:
            by_q[int(r["query_id"])].append((r["rank"], r["doc_id"],
                                             r["score"]))
        for i, q in enumerate(qs):
            self.results.append(
                ("batch", q, [(d, s) for _, d, s in sorted(by_q[i])]))
        if tr.enabled:
            self._bytes(snap, len(qs))

    def _bytes(self, snap, n_queries: int) -> None:
        after = executor_totals(self.spark)
        self.tracer.count("metrics.queries", n_queries)
        for f in ("input_bytes", "shuffle_write_bytes"):
            self.tracer.count(f"metrics.{f}", after[f] - snap[f])
