"""Benchmark harness (driver contract: prints ONE JSON line).

Measures the two north-rule metrics at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS]:

  1. index-build throughput (docs/sec) — full pipeline: tokenize →
     TF → stats → impacts → salted partial segments → shuffle-merge →
     bucket-partitioned parquet index;
  2. top-k BM25 query latency — the reference query set through the
     Block-Max WAND scorer over the compressed index (per-query
     seconds in "queries", p50/p95 summarized).

Scaling-efficiency evidence (N vs 4N cores) lives in
tools/bench_scaling.py → BENCH/BASELINE.md, not here.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from documentindex_spark.corpus import generate_repo_files  # noqa: E402
from documentindex_spark.operators.bmw import bmw_serve, bmw_topk  # noqa: E402
from documentindex_spark.plans.build_index import build_index  # noqa: E402
from documentindex_spark.session import get_spark  # noqa: E402
from documentindex_spark.sources.registry import with_doc_ids  # noqa: E402

from documentindex_spark.queryset import reference_query_set  # noqa: E402

# The frozen 50-query reference set (FIXTURES.md §3): 20 single-term,
# 15 two-term, 10 three-term, 5 OOV-mixed; 5 at k=100.
QUERY_SET = {
    f"q{q['query_id']}": (q["query_text"], q["k"])
    for q in reference_query_set()
}

# FIXTURES.md sizing: bench (sf0.1-equivalent) = 20,000 source files.
FILES_PER_SF = 200_000


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8))
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or 0.1)
    spark = get_spark(
        "documentindex-bench",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
    )
    spark.sparkContext.setLogLevel("ERROR")

    out_dir = tempfile.mkdtemp(prefix="dix-bench-")
    t_all = time.time()
    try:
        n_files = max(500, int(FILES_PER_SF * sf))
        docs = with_doc_ids(generate_repo_files(spark, n_files))
        n_docs = n_files

        t0 = time.time()
        built = build_index(
            spark,
            docs,
            out_dir,
            input_id=f"corpus@{n_files}",
        )
        build_s = time.time() - t0
        files_per_sec = n_docs / build_s

        # serving configuration: resident (persisted) index, warmed
        postings = spark.read.parquet(built.postings_path).persist()
        postings.count()
        bmw_topk(spark, postings, {0: "warmup"}, k=10).collect()
        q_times: dict[str, float] = {}
        topk_rows = 0
        for name, (q, k) in QUERY_SET.items():
            t0 = time.time()
            rows = bmw_topk(spark, postings, {0: q}, k=k).collect()
            q_times[name] = round(time.time() - t0, 4)
            topk_rows += len(rows)
        lat = sorted(q_times.values())
        # serving path: driver-local BMW over the pruned collected
        # segments (the point-lookup configuration)
        serve_times = []
        for q, k in QUERY_SET.values():
            t0 = time.time()
            bmw_serve(postings, q, k=k, max_collect_postings=50_000_000)
            serve_times.append(time.time() - t0)
        serve_times.sort()
        # Spark-free serving path: pyarrow partition-pruned segment
        # reads + in-process BMW (no job scheduling at all)
        from documentindex_spark.operators.bmw import bmw_serve_arrow
        import pyarrow.dataset as _ds

        arrow_ds = _ds.dataset(
            built.postings_path, format="parquet", partitioning="hive"
        )
        bmw_serve_arrow(
            built.postings_path, "warmup", k=10, dataset=arrow_ds
        )
        arrow_times = []
        for q, k in QUERY_SET.values():
            t0 = time.time()
            bmw_serve_arrow(
                built.postings_path, q, k=k,
                max_collect_postings=50_000_000, dataset=arrow_ds,
            )
            arrow_times.append(time.time() - t0)
        arrow_times.sort()
        # batch throughput: the whole query set in ONE Spark job
        t0 = time.time()
        nbatch = bmw_topk(
            spark,
            postings,
            {i: q for i, (q, _) in enumerate(QUERY_SET.values())},
            k=10,
        ).count()
        batch_s = time.time() - t0
        total_s = time.time() - t_all
        print(
            json.dumps(
                {
                    "metric": "index_build_plus_topk_bench",
                    "value": round(total_s, 3),
                    "unit": "sec",
                    "queries": q_times,
                    "sf": sf,
                    "n_docs": n_docs,
                    "build_sec": round(build_s, 3),
                    "build_docs_per_sec": round(files_per_sec, 1),
                    "query_p50_sec": round(statistics.median(lat), 4),
                    "query_p95_sec": round(
                        lat[max(0, int(len(lat) * 0.95) - 1)], 4
                    ),
                    "serve_p50_sec": round(statistics.median(serve_times), 4),
                    "serve_p95_sec": round(
                        serve_times[max(0, int(len(serve_times) * 0.95) - 1)], 4
                    ),
                    "serve_arrow_p50_sec": round(
                        statistics.median(arrow_times), 4
                    ),
                    "serve_arrow_p95_sec": round(
                        arrow_times[max(0, int(len(arrow_times) * 0.95) - 1)],
                        4,
                    ),
                    # queries per second = query count / wall (NOT
                    # rows/10: OOV/rare queries can return < k rows,
                    # which would inflate the number)
                    "batch_qps": round(len(QUERY_SET) / batch_s, 2),
                    "batch_rows": nbatch,
                    "topk_rows": topk_rows,
                    "cpus": int(cpus),
                }
            )
        )
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
