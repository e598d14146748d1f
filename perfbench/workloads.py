"""The workloads: query and update.

Each one has a set-up (timed from process start as ``setup_s``), a
measured phase, and a check against ``check.Truth``. Both build one
index cold with ``Engine.index`` at default settings during set-up and
read it through all three lanes, so every end-to-end metric has a
value on both; what differs is where the time goes (README.md).
"""

from __future__ import annotations

import json
import math
import os
import statistics
import time

import numpy as np

import check
import gen
from lanes import Probes, Reader

# ------------------------------------------------------------ sizes

SPECS = {
    "query": gen.Workload(n_docs=1200, mean_len=120, vocab_cap=500,
                          n_queries=3000),
    "update": gen.Workload(n_docs=1000, mean_len=120, vocab_cap=400,
                           n_queries=1000, update_batches=1,
                           batch_modified=15, batch_new=10),
}

# Reads: serve queries, Spark searches and batch jobs of BATCH_SIZE
# k=10 queries. The query workload repeats QUERY_ROUND until --seconds
# is used up (at least MIN_ROUNDS times); the update workload serves
# UPDATE_SERVE queries in each of its three index states and runs the
# Spark lanes on the last one, after two searches and a batch job that
# warm them on the new index and are checked but not timed. A Spark search costs as much as about
# 35 served queries and a batch job about 65, so a round holds two of
# each: the Spark lanes' medians need the samples more than the serve
# lane's. Four rounds give the serve p90 the ten samples beyond it that
# it needs.
BATCH_SIZE = 12
QUERY_ROUND = (30, 2, 2)
MIN_ROUNDS = 4
UPDATE_SERVE = 80
UPDATE_SPARK = (20, 6)
TAIL_PCT = 90


class Run:
    """State of one benchmark process."""

    def __init__(self, workload: str, seed: int, seconds: int, tracer,
                 work: str, t_start: float, cpus: int):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.work = work
        self.t_start = t_start
        self.cpus = cpus
        self.spec = SPECS[workload]
        self.spark = None
        self.e2e: dict[str, tuple[float, str]] = {}
        self.layer: dict[str, tuple[float, str]] = {}
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    # ---------------------------------------------------------- set-up

    def start_spark(self) -> None:
        from documentindex_spark.session import get_spark

        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        t0 = time.perf_counter()
        self.spark = get_spark(
            "perfbench",
            master=f"local[{self.cpus}]",
            extra_conf={
                "spark.local.dir": os.path.join(self.work, "spark-local"),
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
                "spark.driver.memory": "3g",
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                "spark.ui.showConsoleProgress": "false",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.layer["session.start_s"] = (time.perf_counter() - t0, "s")

    def stop_spark(self) -> None:
        """Stop the session and wait for the JVM (and the Python workers
        it started) to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gw = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except Exception:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None

    def make_corpus(self):
        vocab = gen.make_vocab(self.seed, self.spec.vocab_cap)
        corpus = gen.make_corpus(self.seed, self.spec, vocab)
        path = os.path.join(self.work, "corpus")
        gen.write_corpus(path, corpus.keys, corpus.contents, self.cpus)
        stream = gen.make_query_stream(self.seed, self.spec, corpus)
        return corpus, path, stream

    def end_setup(self) -> None:
        self.e2e["setup_s"] = (time.perf_counter() - self.t_start, "s")

    # ----------------------------------------------------------- build

    def build(self, corpus_dir: str, n_docs: int, content_bytes: int):
        """One cold ``Engine.index`` at default settings."""
        from documentindex_spark.api import Engine
        from documentindex_spark.sources.registry import (load_repo_files,
                                                          with_doc_ids)

        out = os.path.join(self.work, "index")
        t0 = time.perf_counter()
        files = with_doc_ids(load_repo_files(self.spark, path=corpus_dir))
        engine = Engine.index(self.spark, files, out,
                              input_id=f"perfbench-{self.workload}-{self.seed}")
        dt = time.perf_counter() - t0
        self.attempted += 1
        self.e2e["build_docs_per_s"] = (n_docs / dt, "docs/s")
        # overwritten by the update cycle, whose writes come after
        self.e2e["write_docs_per_s"] = (n_docs / dt, "docs/s")
        self.e2e["index_bytes_per_input_byte"] = (
            dir_bytes(out) / content_bytes, "ratio")
        if self.tracer.enabled:
            self.index_layers(out)
        return engine

    def index_layers(self, out: str) -> None:
        import pyarrow.parquet as pq

        with open(os.path.join(out, "_manifest.json")) as f:
            st = json.load(f)  # stage name -> stage record
        post = st["postings"]
        post_ms = (sum(p["wall_ms"] for p in post.get("partitions", []))
                   + post.get("wall_ms", 0.0))
        L = self.layer
        L["build_index.docs_stage_s"] = (st["docs"]["wall_ms"] / 1e3, "s")
        L["build_index.tf_stage_s"] = (st["tf"]["wall_ms"] / 1e3, "s")
        L["build_index.postings_stage_s"] = (post_ms / 1e3, "s")
        for s in ("docs", "tf", "postings"):
            L[f"build_index.shuffle_write_bytes.{s}"] = (
                st[s].get("shuffle", {}).get("shuffle_write_bytes", 0), "bytes")
        terms = pq.read_table(os.path.join(out, "postings"),
                              columns=["term"]).column("term")
        n_terms = len(set(terms.to_pylist()))
        L["postings.distinct_terms"] = (n_terms, "count")
        L["postings.segment_rows"] = (len(terms), "count")
        L["postings.stage_ms_per_kterm"] = (post_ms / (n_terms / 1e3), "ms")
        for s in ("docs", "tf", "postings"):
            L[f"index.{s}_bytes"] = (dir_bytes(os.path.join(out, s)), "bytes")

    # ---------------------------------------------------------- reads

    def reads(self, reader: Reader, stream, n_serve: int, n_search: int,
              n_batch: int, pos: list) -> None:
        """Serve ``n_serve`` queries, search ``n_search`` and run
        ``n_batch`` batch jobs; ``pos`` holds where the serve and the
        batch lanes are in the stream."""
        p = pos[0]
        for i in range(n_serve):
            reader.serve(stream[(p + i) % len(stream)])
        for i in range(n_search):
            reader.search(stream[(p + 7 * i + 3) % len(stream)])
        k10 = [q for q in stream if q.k == 10]
        for j in range(n_batch):
            start = pos[1] + j * BATCH_SIZE
            reader.batch([k10[(start + i) % len(k10)]
                          for i in range(BATCH_SIZE)])
        pos[0] = p + n_serve
        pos[1] += n_batch * BATCH_SIZE

    def read_metrics(self, reader: Reader) -> None:
        serve = reader.lat["serve"]
        self.e2e["serve_p50_ms"] = (statistics.median(serve) * 1e3, "ms")
        self.e2e[f"serve_p{TAIL_PCT}_ms"] = (
            tail(serve, TAIL_PCT) * 1e3, "ms")
        self.e2e["serve_qps"] = (len(serve) / sum(serve), "1/s")
        self.e2e["search_p50_ms"] = (
            statistics.median(reader.lat["search"]) * 1e3, "ms")
        self.e2e["batch_qps"] = (
            BATCH_SIZE / statistics.median(reader.lat["batch"]), "1/s")

    def lane_layers(self) -> None:
        tr = self.tracer
        L = self.layer
        nq = max(1, tr.counts.get("bmw.queries", 0))

        def med_ms(name):
            d = tr.durations(name)
            return (statistics.median(d) * 1e3 if d else 0.0, "ms")

        L["tokenize.query_terms_us"] = (med_ms("tokenize.query_terms")[0]
                                        * 1e3, "us")
        for name in ("bmw.serve_scan", "postings.row_to_segment"):
            v = tr.samples.get(name)
            L[f"{name}_ms"] = (statistics.median(v) * 1e3 if v else 0.0,
                               "ms")
        L["bmw.score_ms"] = med_ms("bmw.score")
        c = tr.counts
        L["bmw.segment_rows_per_query"] = (c.get("bmw.segment_rows", 0) / nq,
                                           "rows")
        L["bmw.postings_per_query"] = (c.get("bmw.postings", 0) / nq,
                                       "postings")
        L["bmw.bytes_read_per_query"] = (c.get("bmw.bytes_read", 0) / nq,
                                         "bytes")
        L["codec.blocks_decoded_per_query"] = (
            c.get("codec.blocks_decoded", 0) / nq, "blocks")
        L["bmw.block_decode_ratio"] = (
            c.get("codec.blocks_decoded", 0)
            / max(1, c.get("bmw.blocks_in_lists", 0)), "ratio")
        L["bmw.search_job_ms"] = med_ms("bmw.search_job")
        L["bmw.search_scan_job_ms"] = med_ms("bmw.search_scan_job")
        jobs = tr.durations("bmw.batch_job")
        L["bmw.batch_job_s"] = (statistics.median(jobs) if jobs else 0.0, "s")
        mq = max(1, c.get("metrics.queries", 0))
        L["metrics.input_bytes_per_query"] = (
            c.get("metrics.input_bytes", 0) / mq, "bytes")
        L["metrics.shuffle_write_bytes_per_query"] = (
            c.get("metrics.shuffle_write_bytes", 0) / mq, "bytes")

    # ---------------------------------------------------------- checks

    def verify(self, fn, *args) -> None:
        """Run one check; a failure is recorded and the run goes on, so
        the result still carries every metric."""
        try:
            fn(*args)
        except check.CheckError as e:
            self.errors.append(str(e))

    def check_reads(self, truth: check.Truth, reader: Reader) -> None:
        """Every recorded answer against the exhaustive scorer, and the
        lanes against each other, for the engine state ``truth``
        describes. Clears the recorded answers."""
        first: dict[tuple, tuple[str, list]] = {}
        for lane, q, res in reader.results:
            self.verify(check.check_topk, truth, q.terms, q.k, res, lane,
                        q.oov_only)
            key = (q.text, q.k)
            if key in first:
                self.verify(check.check_agree, first[key][1], res,
                            first[key][0], lane, q.terms)
            else:
                first[key] = (lane, res)
        reader.results.clear()

    def collect(self, reader: Reader) -> None:
        """Take the reader's operation counts and failures."""
        self.attempted += reader.attempted
        self.failed += reader.failed
        self.errors += reader.errors

    def write(self, what: str, fn, *args):
        """One write of the update cycle. A write that raises is counted
        as failed and ends the cycle: the ones after it depend on it."""
        self.attempted += 1
        try:
            return fn(*args)
        except Exception as e:
            self.failed += 1
            self.errors.append(f"{what} raised {type(e).__name__}: {e}")
            raise Aborted(what) from e

    def result(self) -> dict:
        metrics = self.layer if self.tracer.enabled else self.e2e
        return {
            # no operation is expected to fail, so a failure is an error
            "correct": not self.errors,
            "attempted": max(1, int(self.attempted)),
            "failed": int(self.failed),
            "metrics": {k: {"value": float(v), "unit": u}
                        for k, (v, u) in sorted(metrics.items())},
        }


class Aborted(Exception):
    """A failed operation ended the workload early; already counted."""


# ----------------------------------------------------------- helpers


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def tail(samples: list[float], pct: int) -> float:
    """Nearest-rank percentile; requires ten samples beyond it."""
    n = len(samples)
    r = math.ceil(pct / 100 * n)
    if n - r < 10:
        raise ValueError(f"p{pct} of {n} samples has fewer than ten "
                         "samples beyond it")
    return sorted(samples)[r - 1]


def corpus_truth(corpus: gen.Corpus) -> check.Truth:
    index = {w: i for i, w in enumerate(corpus.vocab.tolist())}
    truth = check.Truth(index)
    for i in range(corpus.n_docs):
        truth.add(i, corpus.term_ids[i], corpus.term_tfs[i])
    return truth


# ------------------------------------------------------- index check


def check_built_index(run: Run, engine, truth: check.Truth,
                      corpus: gen.Corpus) -> None:
    """Stats, per-term df and postings totals, decoded lists for a
    frequency-stratified term sample, and the doc_id assignment."""
    import pyarrow.dataset as ds
    import pyarrow.parquet as pq

    from documentindex_spark.operators.postings import row_to_segment

    built = engine.built
    seg_rows = pq.read_table(built.postings_path,
                             columns=["term", "df", "n_postings"]).to_pylist()
    check.check_index_totals(
        truth, built.n_docs, built.avgdl,
        [(r["term"], r["df"], r["n_postings"]) for r in seg_rows])
    rng = np.random.default_rng(run.seed)
    sample = check.stratified_terms(truth, 8, rng)
    dset = ds.dataset(built.postings_path, format="parquet",
                      partitioning="hive")
    rows = dset.to_table(filter=ds.field("term").isin(sample)).to_pylist()
    by_term: dict[str, list] = {}
    for r in rows:
        by_term.setdefault(r["term"], []).append(r)
    for t in sample:
        segs = sorted((row_to_segment(r) for r in by_term.get(t, [])),
                      key=lambda s: s.min_doc_id)
        if not segs:
            raise check.CheckError(f"term {t!r} missing from the index")
        parts = [s.decode_all() for s in segs]
        check.check_decoded(truth, t, np.concatenate([p[0] for p in parts]),
                            np.concatenate([p[1] for p in parts]))
    dm = pq.read_table(built.doc_map_path,
                       columns=["doc_id", "repo", "path", "commit"]).to_pylist()
    got = {r["doc_id"]: (r["repo"], r["path"], r["commit"]) for r in dm}
    if got != dict(enumerate(corpus.keys)):
        raise check.CheckError("doc_map does not assign doc_ids in "
                               "(repo, path, commit) order")


# ------------------------------------------------------------ query


def run_query(run: Run) -> None:
    corpus, corpus_dir, stream = run.make_corpus()
    run.start_spark()
    engine = run.build(corpus_dir, corpus.n_docs, corpus.content_bytes())
    engine.persist()
    reader = Reader(run.spark, engine, run.tracer)
    # warm every lane (JIT, Python workers, dataset listing); not timed
    run.reads(reader, stream[::-1], 20, 2, 1, pos=[0, 0])
    warm = reader.results[:]
    reader.results.clear()
    for v in reader.lat.values():
        v.clear()
    run.end_setup()

    deadline = time.perf_counter() + run.seconds
    pos = [0, 0]
    rounds = 0
    while rounds < MIN_ROUNDS or time.perf_counter() < deadline:
        run.reads(reader, stream, *QUERY_ROUND, pos=pos)
        rounds += 1
    run.collect(reader)
    run.read_metrics(reader)
    if run.tracer.enabled:
        run.lane_layers()

    truth = corpus_truth(corpus)
    run.verify(check_built_index, run, engine, truth, corpus)
    reader.results[:0] = warm
    run.check_reads(truth, reader)


# ----------------------------------------------------------- update


def run_update(run: Run) -> None:
    spec = run.spec
    corpus, corpus_dir, stream = run.make_corpus()
    batches = gen.make_update_batches(run.seed, spec, corpus)
    batch_dirs = []
    for b, batch in enumerate(batches):
        p = os.path.join(run.work, f"batch{b}")
        gen.write_corpus(p, batch.keys, batch.contents, 1)
        batch_dirs.append(p)
    run.start_spark()
    engine = run.build(corpus_dir, corpus.n_docs, corpus.content_bytes())
    reader = Reader(run.spark, engine, run.tracer)
    run.reads(reader, stream[::-1], 20, 0, 0, pos=[0, 0])
    reader.lat["serve"].clear()
    run.end_setup()
    try:
        update_cycle(run, engine, reader, corpus, stream, batches,
                     batch_dirs)
    finally:
        run.collect(reader)


def update_cycle(run: Run, engine, reader: Reader, corpus: gen.Corpus,
                 stream, batches, batch_dirs) -> None:
    truth = corpus_truth(corpus)
    run.verify(check_built_index, run, engine, truth, corpus)
    run.check_reads(truth, reader)
    for batch in batches:
        for m, mid in batch.markers:
            truth.term_index[m] = mid
    cur = {(k[0], k[1]): i for i, k in enumerate(corpus.keys)}
    repo_of = {i: k[0] for i, k in enumerate(corpus.keys)}
    tr = run.tracer
    write_s = 0.0
    written = 0
    pos = [0, 0]
    with Probes(run.tracer, "write"):
        for b, batch in enumerate(batches):
            new_files = run.spark.read.parquet(batch_dirs[b])
            t0 = time.perf_counter()
            engine = run.write("update_documents", engine.update_documents,
                               new_files, f"upd{b}")
            write_s += time.perf_counter() - t0
            written += len(batch.keys)
            tr.count("incremental.docs", len(batch.keys))
            base = max(truth.docs) + 1
            truth.tombstone([cur[(k[0], k[1])] for k in batch.keys
                             if (k[0], k[1]) in cur])
            for j, key in enumerate(batch.keys):
                truth.add(base + j, batch.term_ids[j], batch.term_tfs[j])
                cur[(key[0], key[1])] = base + j
                repo_of[base + j] = key[0]
            reader.use(engine)
            run.reads(reader, stream, UPDATE_SERVE, 0, 0, pos)
            marker_reads(reader, batch)
            run.check_reads(truth, reader)

        # delete whole repos, at least 12% of the corpus, by natural
        # key: over maintain()'s tenth, so it must compact
        n_repos = math.ceil(corpus.n_docs * 0.12 / 100)
        repos = sorted({corpus.keys[i][0] for i in range(corpus.n_docs)})
        rng = np.random.default_rng([run.seed, 7])
        gone = sorted(rng.choice(len(repos), n_repos, replace=False))
        gone = [repos[i] for i in gone]
        cond = "repo IN (" + ", ".join(f"'{r}'" for r in gone) + ")"
        dead = [d for d, r in repo_of.items() if r in set(gone)]
        t0 = time.perf_counter()
        with tr.span("engine.delete_where"):
            run.write("delete_where", engine.delete_where, cond)
        write_s += time.perf_counter() - t0
        written += len(set(dead) & truth.live_ids)
        truth.tombstone(dead)
        reader.use(engine)
        run.reads(reader, stream, UPDATE_SERVE, 0, 0, pos)
        for batch in batches:
            marker_reads(reader, batch)
        run.check_reads(truth, reader)

        before = dir_bytes(engine.built.out_dir)
        live_before = len(truth.live_ids)
        dest = os.path.join(run.work, "index_compacted")
        t0 = time.perf_counter()
        with tr.span("delete.compact"):
            action, engine = run.write("maintain", engine.maintain,
                                       "perfbench-compact", dest)
        write_s += time.perf_counter() - t0
        if action != "compact":
            run.errors.append(f"maintain() chose {action!r} with more than "
                              "a tenth of the corpus tombstoned")
        truth.compact()
        reader.use(engine)
        run.reads(reader, stream, UPDATE_SERVE, 0, 0, pos)
        run.reads(reader, stream[::-1], 0, 2, 1, pos=[0, 0])
        del reader.lat["search"][:], reader.lat["batch"][:]
        run.reads(reader, stream, 0, *UPDATE_SPARK, pos)
        for batch in batches:
            marker_reads(reader, batch)
    run.e2e["write_docs_per_s"] = (written / write_s, "docs/s")
    run.read_metrics(reader)
    if tr.enabled:
        run.lane_layers()
        after = dir_bytes(dest)
        run.layer["delete.compact_s"] = (tr.total("delete.compact"), "s")
        run.layer["delete.compact_bytes_written"] = (after, "bytes")
        run.layer["index.bytes_per_live_doc.before_compact"] = (
            before / live_before, "bytes")
        run.layer["index.bytes_per_live_doc.after_compact"] = (
            after / len(truth.live_ids), "bytes")
        run.layer["delete.delete_s"] = (tr.total("delete.delete"), "s")
        run.layer["incremental.append_s"] = (tr.total("incremental.append"),
                                             "s")
        run.layer["incremental.bytes_written_per_updated_doc"] = (
            tr.counts["incremental.bytes_written"]
            / tr.counts["incremental.docs"], "bytes")
    run.check_reads(truth, reader)


def marker_reads(reader: Reader, batch: gen.UpdateBatch) -> None:
    """Each row's marker alone, then the whole batch's markers at
    k = batch size: both must return exactly the new versions that
    are still live."""
    qs = [gen.Query(m, 10, [m]) for m, _ in batch.markers]
    allm = sorted(m for m, _ in batch.markers)
    qs.append(gen.Query(" ".join(allm), len(allm), allm))
    for q in qs:
        res = reader.serve(q, record=False)
        if res is not None:
            reader.results.append(("serve", q, res))


WORKLOADS = {"query": run_query, "update": run_update}
