"""End-to-end index build pipeline (SURVEY.md §3.1 target trace):

    source table → sha256 invariant → tokenize (built-ins) →
    TF groupBy → stats aggregates → impact join →
    term repartition → sorted streaming encode (tail terms) |
    salted (term, shard) encode + shuffle-merge (hot terms) →
    bucket-partitioned Parquet index
    + doc_map + stats.json + per-partition lineage manifest.

Stage boundaries (= the shuffles Catalyst plans):
  1. TF hash-agg on (doc_id, term)          [partial+final, map-side combine]
  2. df hash-agg on term
  3. repartition on term                    [shared by both encode routes]
  4. merge groupBy on term (hot terms only) [moves compressed blobs only]
  5. repartition on bucket                  [one file per bucket]

Checkpointing: three durable stages — 'docs' (doc_id assignment +
doc_map), 'tf' (tokenize output: the expensive stage whose loss the
north rule forbids), 'postings' (the index). The postings stage is ONE
pass over all buckets by default; ``bucket_groups=G`` splits it into G
passes over disjoint bucket sets, each committed with a manifest row,
so a kill mid-stage resumes at the first incomplete group without
re-tokenizing anything — a resume option, paid for with G scans of
the impact subtree. The manifest records the grouping its group ids
refer to; resuming under another grouping restarts the stage.

The build is deterministic end-to-end, so resume produces a
byte-identical index (asserted in tests/test_resume.py).
"""

from __future__ import annotations

import json
import os
import shutil
import time
from dataclasses import dataclass, fields as dc_fields

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..constants import DOC_BAND_SIZE, NUM_TERM_BUCKETS, POSTINGS_PER_SHARD
from ..functions.tokenize import term_frequencies_colocated
from ..operators.bm25 import impacts
from ..operators.postings import (
    INDEX_SCHEMA,
    build_segments,
    write_bucketed,
)
from ..operators.stats import CorpusStats, corpus_stats, document_frequencies
from .checkpoint import Manifest, stage_fingerprint
from .metrics import delta as _metrics_delta
from .metrics import executor_totals as _executor_totals


@dataclass
class BuiltIndex:
    out_dir: str
    n_docs: int
    avgdl: float
    n_files: int
    band_size: int = DOC_BAND_SIZE

    @property
    def postings_path(self) -> str:
        return os.path.join(self.out_dir, "postings")

    @property
    def doc_map_path(self) -> str:
        return os.path.join(self.out_dir, "doc_map")

    @classmethod
    def open(cls, out_dir: str) -> "BuiltIndex":
        with open(os.path.join(out_dir, "stats.json")) as f:
            s = json.load(f)
        known = {f.name for f in dc_fields(cls)}
        return cls(
            out_dir=out_dir, **{k: v for k, v in s.items() if k in known}
        )


def build_index(
    spark: SparkSession,
    files: DataFrame,
    out_dir: str,
    input_id: str,
    text_col: str = "content",
    bucket_groups: int = 1,
    postings_per_shard: int = POSTINGS_PER_SHARD,
    source_path: str | None = None,
    band_size: int = DOC_BAND_SIZE,
    hashed_term_keys: bool = False,
) -> BuiltIndex:
    """Build (or resume) the inverted index for ``files``.

    ``files`` must carry a dense ``doc_id`` (sources.registry
    .with_doc_ids) plus identity columns; ``input_id`` is the caller's
    stable identifier for the input snapshot (path + version / count)
    used in checkpoint fingerprints. ``bucket_groups`` > 1 commits the
    postings stage in that many resumable passes (module docstring).
    """
    os.makedirs(out_dir, exist_ok=True)
    man = Manifest.load(out_dir)

    # ---------------- stage: docs (identity + invariant columns)
    # When the input is already a materialized parquet/Iceberg table
    # WITH stable doc_ids (source_path given), the stage records its
    # fingerprint and reads in place — copying 100 TB of input to
    # freeze doc_ids would be absurd at scale. Otherwise (derived/
    # in-memory input) it materializes once so doc_ids are frozen for
    # resume idempotence.
    fp_docs = stage_fingerprint("docs", "", input_id)
    id_cols = [c for c in files.columns if c != text_col]
    if source_path is not None and "doc_id" in files.columns:
        docs = spark.read.parquet(source_path)
        if man.stages.get("docs", {}).get("fingerprint") != fp_docs:
            man.begin("docs", fp_docs)
            man.stages["docs"].update({"status": "complete", "in_place": True})
            man.save()
        n_files = docs.count()
    else:
        docs_path = os.path.join(out_dir, "docs")
        if man.is_complete("docs", fp_docs):
            man.hits += 1
        else:
            man.misses += 1
            man.begin("docs", fp_docs)
            t0 = time.time()
            snap = _executor_totals(spark)
            files.write.mode("overwrite").parquet(docs_path)
            n = spark.read.parquet(docs_path).count()
            man.complete("docs", n, docs_path, (time.time() - t0) * 1000)
            man.stages["docs"]["shuffle"] = _metrics_delta(
                snap, _executor_totals(spark)
            )
            man.save()
        docs = spark.read.parquet(docs_path)
        n_files = docs.count()

    # ---------------- stage: tf (tokenize — the expensive one)
    fp_tf = stage_fingerprint("tf", fp_docs, input_id)
    tf_path = os.path.join(out_dir, "tf")
    dl_path = os.path.join(out_dir, "dl")
    if man.is_complete("tf", fp_tf):
        man.hits += 1
    else:
        man.misses += 1
        # dl and doc_map are DERIVED from tf/docs and guarded only by
        # _SUCCESS below — when tf is invalidated (new input_id or a
        # constants change against a reused out_dir), stale dl/doc_map
        # from the previous build must go with it, or avgdl/dl (and
        # therefore every impact) would silently come from the old
        # corpus ("fingerprints cover config, not just data").
        for derived in (dl_path, os.path.join(out_dir, "doc_map")):
            if os.path.exists(derived):
                shutil.rmtree(derived)
        man.begin("tf", fp_tf)
        t0 = time.time()
        snap = _executor_totals(spark)
        # colocated variant: exchange moved below the explode (content
        # bytes, not tf rows) — measured 2.25× on this stage
        # (BENCH/tf_ab.json; tokenize.term_frequencies_colocated).
        term_frequencies_colocated(docs, text_col).write.mode(
            "overwrite"
        ).parquet(tf_path)
        n = spark.read.parquet(tf_path).count()
        man.complete("tf", n, tf_path, (time.time() - t0) * 1000)
        man.stages["tf"]["shuffle"] = _metrics_delta(
            snap, _executor_totals(spark)
        )
        man.save()
    tf = spark.read.parquet(tf_path)
    snap_derived = _executor_totals(spark)
    # dl = Σ tf per doc — derived from the checkpointed TF table, so
    # the corpus is tokenized exactly ONCE. Left join keeps zero-token
    # docs (dl=0): N/avgdl count every document. Recomputed whenever
    # absent (e.g. invalidated by an incremental append).
    if not os.path.exists(os.path.join(dl_path, "_SUCCESS")):
        docs.select("doc_id").join(
            tf.groupBy("doc_id").agg(F.sum("tf").alias("dl")),
            "doc_id",
            "left",
        ).select(
            "doc_id", F.coalesce(F.col("dl"), F.lit(0)).cast("long").alias("dl")
        ).write.mode("overwrite").parquet(dl_path)
    dl = spark.read.parquet(dl_path)

    stats: CorpusStats = corpus_stats(dl)
    dfreq = document_frequencies(tf)
    impact_tf = impacts(tf, dl, dfreq, stats)

    # doc_map: result join-back table (doc_id → identity + dl + sha)
    doc_map_path = os.path.join(out_dir, "doc_map")
    if not os.path.exists(os.path.join(doc_map_path, "_SUCCESS")):
        docs.select(*id_cols).join(dl, "doc_id").write.mode(
            "overwrite"
        ).parquet(doc_map_path)

    # dl + doc_map + eager corpus stats ran between the tf and
    # postings windows; record their (small) shuffle share so the
    # per-stage accounting sums to the build total.
    man.stages["derived_dl_stats"] = {
        "status": "complete",
        "shuffle": _metrics_delta(snap_derived, _executor_totals(spark)),
    }
    man.save()

    # ---------------- stage: postings (streaming encode + salted
    # hot-term merge), written in bucket groups for intra-stage resume.
    fp_post = stage_fingerprint(
        "postings",
        fp_tf,
        f"{input_id}|shard={postings_per_shard}|band={band_size}",
    )
    postings_path = os.path.join(out_dir, "postings")
    if not man.is_complete("postings", fp_post):
        man.misses += 1
        man.begin("postings", fp_post)
        post = man.stages["postings"]
        if post.get("bucket_groups") != bucket_groups:
            # group g names a different bucket set under another
            # grouping: a resume that kept its committed groups would
            # skip buckets and still mark the stage complete. Restart
            # the stage, and drop whatever an earlier grouping or
            # fingerprint left on disk.
            post.update(partitions=[], bucket_groups=bucket_groups)
            man.save()
            shutil.rmtree(postings_path, ignore_errors=True)
        snap_post = _executor_totals(spark)
        done = man.completed_partitions("postings", fp_post)
        tdict = None
        if hashed_term_keys:
            # int64-keyed build (round-3 verdict #5): the encode
            # shuffles carry tkey = xxhash64(term) + an int bucket
            # instead of term strings; the dictionary (vocab-sized,
            # derived from the dfreq agg that runs anyway) rejoins the
            # string at segment granularity before the write. Stored
            # bytes identical (tests/test_index_bmw.py). Collision
            # guard: one term per tkey or the build refuses — at a
            # vocab where the broadcast below would also crack
            # (≳100M terms), swap F.broadcast for a plain tkey join.
            tdict = dfreq.select(
                "term",
                "df",
                F.xxhash64("term").alias("tkey"),
                F.pmod(
                    F.crc32(F.col("term").cast("binary")),
                    F.lit(NUM_TERM_BUCKETS),
                ).cast("int").alias("bucket"),
            ).persist()
            ncoll = (
                tdict.groupBy("tkey")
                .agg(F.countDistinct("term").alias("c"))
                .filter(F.col("c") > 1)
                .count()
            )
            if ncoll:
                raise RuntimeError(
                    f"xxhash64 term-key collision ({ncoll} keys) — "
                    "rebuild with hashed_term_keys=False"
                )
            from ..operators.bm25 import impacts_keyed
            from ..operators.postings import INDEX_SCHEMA, build_segments_keyed

            tf_k = tf.withColumn("tkey", F.xxhash64("term")).drop("term")
            impact_b = impacts_keyed(tf_k, dl, tdict, stats)
        else:
            # bucket = crc32(term) % NUM_TERM_BUCKETS is a pure
            # function of term, so it's computed BEFORE the grouped
            # encode: the per-group filter prunes the token stream
            # itself, not the finished segments — each group does 1/G
            # of the encode work.
            impact_b = impact_tf.withColumn(
                "bucket",
                F.pmod(
                    F.crc32(F.col("term").cast("binary")),
                    F.lit(NUM_TERM_BUCKETS),
                ).cast("int"),
            )
        groups = [
            [b for b in range(NUM_TERM_BUCKETS) if b % bucket_groups == g]
            for g in range(bucket_groups)
        ]
        for gid, buckets in enumerate(groups):
            if gid in done:
                man.hits += 1
                continue
            t0 = time.time()
            grp = (
                impact_b
                if len(buckets) == NUM_TERM_BUCKETS
                else impact_b.filter(F.col("bucket").isin(buckets))
            )
            if hashed_term_keys:
                part = build_segments_keyed(
                    grp,
                    stats.n_docs,
                    postings_per_shard,
                    band_size,
                ).drop("term").join(
                    F.broadcast(tdict.select("tkey", "term")), "tkey"
                ).select(*[f.name for f in INDEX_SCHEMA.fields])
            else:
                part = build_segments(
                    grp.drop("bucket"),
                    stats.n_docs,
                    postings_per_shard,
                    band_size,
                )
            # one subdir per group; globally still partitioned by bucket
            gpath = os.path.join(postings_path, f"group={gid}")
            write_bucketed(part, gpath)
            rows = spark.read.parquet(gpath).count()
            man.record_partition(
                "postings", gid, rows, gpath, (time.time() - t0) * 1000
            )
        if tdict is not None:
            tdict.unpersist()
        t0 = time.time()
        total = spark.read.parquet(postings_path).count()
        man.complete("postings", total, postings_path, (time.time() - t0) * 1000)
        # Per-stage shuffle-byte accounting: bytes shuffled per input
        # byte is the transferable 4N-cluster scaling predictor
        # (plans/metrics.py). Covers the whole postings window —
        # stats/df/impacts feed it lazily, so their exchanges are
        # counted where they execute.
        man.stages["postings"]["shuffle"] = _metrics_delta(
            snap_post, _executor_totals(spark)
        )
        man.save()
    else:
        man.hits += 1

    with open(os.path.join(out_dir, "stats.json"), "w") as f:
        json.dump(
            {
                "n_docs": stats.n_docs,
                "avgdl": stats.avgdl,
                "n_files": n_files,
                "band_size": band_size,
            },
            f,
        )
    return BuiltIndex(
        out_dir=out_dir,
        n_docs=stats.n_docs,
        avgdl=stats.avgdl,
        n_files=n_files,
        band_size=band_size,
    )
