"""A/B: the default encode (build_segments: term shuffle, streaming
encode of tail terms, salted merge of hot terms) vs map-side partial
encode (build_segments_mapside).

Interleaved reps; reports wall, shuffle bytes, and asserts the stored
segment content is identical.

Usage: python tools/bench_encode_ab_r6.py [N_FILES] [REPS]
"""

import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from documentindex_spark.corpus import generate_repo_files
from documentindex_spark.functions.tokenize import term_frequencies_colocated
from documentindex_spark.operators.bm25 import impacts
from documentindex_spark.operators.postings import (
    build_segments,
    build_segments_mapside,
    write_bucketed,
)
from documentindex_spark.operators.stats import corpus_stats, document_frequencies
from documentindex_spark.plans.metrics import delta, executor_totals
from documentindex_spark.session import get_spark
from documentindex_spark.sources.registry import with_doc_ids

N = int(sys.argv[1]) if len(sys.argv) > 1 else 20000
REPS = int(sys.argv[2]) if len(sys.argv) > 2 else 3
spark = get_spark("bench-encode-ab-r6", master="local[32]", shuffle_partitions=32)
spark.sparkContext.setLogLevel("ERROR")
out = tempfile.mkdtemp(prefix="encab-")

g = generate_repo_files(spark, N)
with_doc_ids(g).write.mode("overwrite").parquet(f"{out}/docs")
docs = spark.read.parquet(f"{out}/docs")
term_frequencies_colocated(docs).write.mode("overwrite").parquet(f"{out}/tf")
tf = spark.read.parquet(f"{out}/tf")
docs.select("doc_id").join(
    tf.groupBy("doc_id").agg(F.sum("tf").alias("dl")), "doc_id", "left"
).select("doc_id", F.coalesce(F.col("dl"), F.lit(0)).cast("long").alias("dl")
).write.mode("overwrite").parquet(f"{out}/dl")
dl = spark.read.parquet(f"{out}/dl")
stats = corpus_stats(dl)
dfreq = document_frequencies(tf)
imp = impacts(tf, dl, dfreq, stats)
print(f"setup: n_docs={stats.n_docs}", flush=True)

variants = {
    "default": lambda path: write_bucketed(build_segments(imp, stats.n_docs), path),
    "mapside": lambda path: write_bucketed(build_segments_mapside(imp, stats.n_docs), path),
}

res = {k: [] for k in variants}
for rep in range(REPS):
    for name, fn in variants.items():
        path = f"{out}/p_{name}"
        snap = executor_totals(spark)
        t0 = time.time()
        fn(path)
        dt = time.time() - t0
        d = delta(snap, executor_totals(spark))
        res[name].append((dt, d.get("shuffle_write_bytes", 0)))
        print(
            f"rep{rep} {name:8s} {dt:6.2f}s shufW={d.get('shuffle_write_bytes',0)/1e6:7.1f}MB",
            flush=True,
        )

for name, rs in res.items():
    ts = sorted(t for t, _ in rs)
    print(f"{name}: median {ts[len(ts)//2]:.2f}s shufW {rs[0][1]/1e6:.1f}MB", flush=True)


def content(path):
    rows = spark.read.parquet(path).collect()
    return sorted(
        (
            r["term"], r["seg_idx"], r["df"], r["n_postings"],
            r["min_doc_id"], r["max_doc_id"],
            bytes(r["doc_blob"]), bytes(r["tf_blob"]), bytes(r["impact_blob"]),
            list(r["block_n"]), list(r["block_max_doc"]),
            list(r["block_max_impact"]), r["bucket"],
        )
        for r in rows
    )


a = content(f"{out}/p_default")
b = content(f"{out}/p_mapside")
print("content identical:", a == b, f"({len(a)} vs {len(b)} rows)", flush=True)

import shutil

shutil.rmtree(out, ignore_errors=True)
spark.stop()
