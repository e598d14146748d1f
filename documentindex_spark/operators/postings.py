"""Posting-list construction — the index build core (SURVEY.md M2,
north rule: "build per-partition sorted posting lists ... then
shuffle-merge them into a global term-partitioned inverted index with
salted repartitioning for hot-term skew").

One shuffle on the term key routes every posting row by the term's df:

1. **Streaming encode (df ≤ POSTINGS_PER_SHARD — the Zipf tail, i.e.
   nearly every term)** — ``sortWithinPartitions(term, doc_id)`` then
   ``mapInPandas``: one Python call per partition walks the sorted
   Arrow batches, finds term boundaries with numpy and encodes each
   term's slice (delta+varbyte blocks + block-max metadata, codec.py)
   straight into final segments. Only the batch's unfinished last
   term is carried into the next batch.

2. **Salted build (hot terms)** — every hot (term, doc) row gets a
   ``shard`` = floor(doc_id / shard_width(term)); shard count scales
   with df, so no single reducer ever owns a whole stopword.
   ``groupBy(term, shard).applyInPandas`` encodes one partial segment
   per shard; ``groupBy(term).applyInPandas`` then receives the ≤S
   compressed partials (bytes, not postings — the second shuffle
   moves ~100× less data), concatenates them in min_doc_id order and
   re-encodes. Per-group UDF calls are affordable here because hot
   terms are few.

Either way a term's postings become final segments split at doc-band
boundaries and capped at MAX_SEGMENT_POSTINGS, so a 10^12-scale
stopword becomes many bounded rows instead of one unbounded blob; the
bytes of a term's segments do not depend on the route it took.

The stored index is partitioned by ``bucket = crc32(term) %
NUM_TERM_BUCKETS`` — query-side partition pruning reads only the
buckets of the query's terms.

AQE's skew handling only splits join/shuffle-read skew, not hot
groupBy keys — this explicit salting is required (SURVEY.md §4.2.1).

Literature (PAPERS.md): the columnar posting layout follows
"Columnar Formatted Inverted Index for Highly-Paralleled, Vectorized
Query Processing" (ICDE 2025) — postings as columnar blobs inside a
columnar store; the salted two-stage repartition is the standard
petabyte-scale shuffle decomposition ("Hyper Dimension Shuffle",
VLDB 2019); the Arrow-batched encode path follows "Accelerating
Python UDFs in Vectorized Query Execution" (CIDR 2022).
"""

from __future__ import annotations

import zlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..constants import (
    DOC_BAND_SIZE,
    MAX_SEGMENT_POSTINGS,
    NUM_TERM_BUCKETS,
    POSTINGS_PER_SHARD,
)
from .codec import Segment, encode_segment


def _split_runs(
    doc_ids: np.ndarray, band_size: int, cap: int
) -> list[tuple[int, int]]:
    """Split a sorted doc_id run into segment (start, end) slices that
    (a) never cross a doc-band boundary (banded query execution) and
    (b) never exceed ``cap`` postings (bounded rows for hot terms)."""
    n = len(doc_ids)
    band_breaks = (np.flatnonzero(np.diff(doc_ids // band_size)) + 1).tolist()
    bounds = [0] + band_breaks + [n]
    out: list[tuple[int, int]] = []
    for a, b in zip(bounds, bounds[1:]):
        for s in range(a, b, cap):
            out.append((s, min(s + cap, b)))
    return out

# ------------------------------------------------------------- schemas

SEGMENT_FIELDS = [
    T.StructField("term", T.StringType()),
    T.StructField("df", T.LongType()),
    T.StructField("seg_idx", T.IntegerType()),
    T.StructField("n_postings", T.LongType()),
    T.StructField("min_doc_id", T.LongType()),
    T.StructField("max_doc_id", T.LongType()),
    T.StructField("doc_blob", T.BinaryType()),
    T.StructField("tf_blob", T.BinaryType()),
    T.StructField("impact_blob", T.BinaryType()),
    T.StructField("block_n", T.ArrayType(T.IntegerType())),
    T.StructField("block_max_doc", T.ArrayType(T.LongType())),
    T.StructField("block_max_impact", T.ArrayType(T.DoubleType())),
    T.StructField("block_doc_off", T.ArrayType(T.LongType())),
    T.StructField("block_tf_off", T.ArrayType(T.LongType())),
]
SEGMENT_SCHEMA = T.StructType(SEGMENT_FIELDS)
INDEX_SCHEMA = T.StructType(SEGMENT_FIELDS + [T.StructField("bucket", T.IntegerType())])
# int64-keyed build (build_segments_keyed): tkey + term '' + bucket
KEYED_SEGMENT_SCHEMA = T.StructType(
    [T.StructField("tkey", T.LongType())]
    + SEGMENT_FIELDS
    + [T.StructField("bucket", T.IntegerType())]
)
_KEYED_COLS = KEYED_SEGMENT_SCHEMA.fieldNames()


def term_bucket(term: str) -> int:
    """Deterministic, language-independent bucket for partition
    pruning — replicable at query time without Spark."""
    return zlib.crc32(term.encode("utf-8")) % NUM_TERM_BUCKETS


def write_bucketed(
    df: DataFrame, path: str, sort_cols: tuple[str, ...] = ("term", "seg_idx")
) -> None:
    """Write a bucket-partitioned table with ONE file per bucket,
    term-clustered rows.

    Without the repartition, every encode task writes a sliver into
    every bucket it touches: measured 1,347 files for a 90 MB index at
    20k docs (tools/profile_encode_r6.py), which costs the build
    open/commit overhead (7.5 s → 4.3 s for the write) and costs every
    later reader a 337-task scan (each query over the resident index
    scheduled 337 tasks; 32 after). Hashing on the partition column
    lands each bucket's rows in exactly one task → one file; the
    within-file sort by term makes parquet row-group min/max stats
    tight, so term-pruned reads (pyarrow serve path, cold query scans)
    skip non-matching row groups. Partition count stays
    shuffle.partitions/AQE-derived — nothing here is tuned to the
    local core count."""
    (
        df.repartition("bucket")
        .sortWithinPartitions("bucket", *sort_cols)
        .write.mode("overwrite")
        # 2 MB row groups (session default is 16 MB): with term-sorted
        # rows, parquet min/max stats per row group become the serving
        # tier's skip index — a point lookup reads ~one row group
        # instead of the whole bucket file. Scan-split sizing is
        # byte-range based, so Spark-side parallelism is unaffected.
        .option("parquet.block.size", str(2 * 1024 * 1024))
        .partitionBy("bucket")
        .parquet(path)
    )


def _segment_to_dict(seg: Segment, seg_idx: int) -> dict:
    return {
        "term": seg.term,
        "df": seg.df,
        "seg_idx": seg_idx,
        "n_postings": seg.n_postings,
        "min_doc_id": seg.min_doc_id,
        "max_doc_id": seg.max_doc_id,
        "doc_blob": seg.doc_blob,
        "tf_blob": seg.tf_blob,
        "impact_blob": seg.impact_blob,
        "block_n": seg.block_n.tolist(),
        "block_max_doc": seg.block_max_doc.tolist(),
        "block_max_impact": seg.block_max_impact.tolist(),
        "block_doc_off": seg.block_doc_off.tolist(),
        "block_tf_off": seg.block_tf_off.tolist(),
    }


def row_to_segment(row) -> Segment:
    """Rebuild a Segment view from a stored row (Row or dict-like)."""
    return Segment(
        term=row["term"],
        df=int(row["df"]),
        n_postings=int(row["n_postings"]),
        min_doc_id=int(row["min_doc_id"]),
        max_doc_id=int(row["max_doc_id"]),
        doc_blob=bytes(row["doc_blob"]),
        tf_blob=bytes(row["tf_blob"]),
        impact_blob=bytes(row["impact_blob"]),
        block_n=np.asarray(row["block_n"], dtype=np.int32),
        block_max_doc=np.asarray(row["block_max_doc"], dtype=np.int64),
        block_max_impact=np.asarray(row["block_max_impact"], dtype=np.float64),
        block_doc_off=np.asarray(row["block_doc_off"], dtype=np.int64),
        block_tf_off=np.asarray(row["block_tf_off"], dtype=np.int64),
    )


# ------------------------------------------------------- segment rows
#
# Every encoder below serves both key types: ``key="term"`` (the term
# string is the group key) and ``key="tkey"`` (int64 xxhash64 key, term
# left '' for the dictionary join in plans/build_index.py, bucket
# carried in from the dictionary).


def _is_keyed(key: str) -> bool:
    return key == "tkey"


def _final_schema(key: str) -> T.StructType:
    return KEYED_SEGMENT_SCHEMA if _is_keyed(key) else INDEX_SCHEMA


def _segment_rows(
    key: str,
    kval,
    bucket: int,
    df_: int,
    doc_ids: np.ndarray,
    tfs: np.ndarray,
    imps: np.ndarray,
    band_size: int,
) -> list[dict]:
    """One key's ascending posting run → final segment rows, split at
    band boundaries and capped at MAX_SEGMENT_POSTINGS."""
    term = "" if _is_keyed(key) else kval
    rows = []
    for seg_idx, (start, end) in enumerate(
        _split_runs(doc_ids, band_size, MAX_SEGMENT_POSTINGS)
    ):
        d = _segment_to_dict(
            encode_segment(
                term, df_, doc_ids[start:end], tfs[start:end], imps[start:end]
            ),
            seg_idx,
        )
        d[key] = kval
        d["bucket"] = bucket
        rows.append(d)
    return rows


# ---------------------------------------- single-shard: streaming encode


def _encode_sorted(pdf: pd.DataFrame, key: str, band_size: int) -> pd.DataFrame:
    """Rows sorted by (key, doc_id) holding WHOLE keys → their final
    segment rows. Key boundaries come from one numpy compare over the
    batch; the Python loop runs per key, never per posting."""
    keys = pdf[key].to_numpy()
    doc_ids = pdf["doc_id"].to_numpy(np.int64)
    tfs = pdf["tf"].to_numpy(np.int64)
    imps = pdf["impact"].to_numpy(np.float64)
    dfs = pdf["df"].to_numpy(np.int64)
    buckets = pdf["bucket"].to_numpy(np.int64) if _is_keyed(key) else None
    new_key = keys[1:] != keys[:-1]
    # the sort is what makes each slice a posting list — assert it
    # rather than re-sort (re-sorting would hide a plan bug)
    assert not np.any((np.diff(doc_ids) <= 0) & ~new_key), "unsorted postings"
    bounds = [0, *(np.flatnonzero(new_key) + 1).tolist(), len(keys)]
    rows: list[dict] = []
    for a, b in zip(bounds, bounds[1:]):
        if _is_keyed(key):
            kval, bucket = int(keys[a]), int(buckets[a])
        else:
            kval, bucket = keys[a], term_bucket(keys[a])
        rows += _segment_rows(
            key,
            kval,
            bucket,
            int(dfs[a]),
            doc_ids[a:b],
            tfs[a:b],
            imps[a:b],
            band_size,
        )
    return pd.DataFrame(rows, columns=_final_schema(key).fieldNames())


def _stream_encode_fn(key: str, band_size: int):
    """mapInPandas body of the single-shard branch: one Python call per
    partition, one output frame per Arrow batch. Only the batch's last
    key may continue into the next batch, so only its rows are carried
    — memory stays bounded by one key's postings (≤ postings_per_shard
    on this branch), not by the partition."""

    def _encode(it):
        pending: list[pd.DataFrame] = []  # rows of the unfinished key
        for pdf in it:
            if pdf.empty:
                continue
            keys = pdf[key].to_numpy()
            breaks = np.flatnonzero(keys[1:] != keys[:-1]) + 1
            cut = int(breaks[-1]) if len(breaks) else 0
            if cut == 0 and pending and pending[-1][key].iat[-1] == keys[0]:
                pending.append(pdf)
                continue
            done = pd.concat(pending + [pdf.iloc[:cut]], ignore_index=True)
            pending = [pdf.iloc[cut:]]
            if len(done):
                yield _encode_sorted(done, key, band_size)
        if pending:
            yield _encode_sorted(
                pd.concat(pending, ignore_index=True), key, band_size
            )

    return _encode


# ---------------------------------------------- hot terms: salted build
#
# 1. Salted partial build — every hot (key, doc) row gets a ``shard`` =
#    floor(doc_id / shard_width(key)); shard count scales with df, so
#    no single reducer ever owns a whole stopword. Range-sharding by
#    doc_id (not hash-salting) is deliberate: shard doc-id ranges are
#    DISJOINT and ordered, so the merge is a concatenation of
#    pre-sorted runs — no re-sort.
# 2. Shuffle-merge — ``groupBy(key)`` receives the ≤S compressed
#    partial segments of a key (bytes, not postings) and re-encodes
#    them into final segments.


def _encode_partial_fn(key: str):
    def _encode_partial(pdf: pd.DataFrame) -> pd.DataFrame:
        """One (key, shard) group → one compressed partial segment row."""
        pdf = pdf.sort_values("doc_id")
        first = pdf.iloc[0]
        seg = encode_segment(
            term="" if _is_keyed(key) else first["term"],
            df=int(first["df"]),
            doc_ids=pdf["doc_id"].to_numpy(np.int64),
            tfs=pdf["tf"].to_numpy(np.int64),
            impacts=pdf["impact"].to_numpy(np.float64),
        )
        d = _segment_to_dict(seg, 0)
        if _is_keyed(key):
            d["tkey"] = int(first["tkey"])
            d["bucket"] = int(first["bucket"])
            return pd.DataFrame([d])[_KEYED_COLS]
        return pd.DataFrame([d])

    return _encode_partial


def _merge_fn(key: str, band_size: int, resort: bool = False):
    """All partial segments of one key → final segments split at band
    boundaries and capped at MAX_SEGMENT_POSTINGS. ``resort=False``:
    the partials are disjoint ascending shard ranges, so their
    concatenation IS sorted (asserted, not re-sorted — re-sorting would
    hide salt bugs). ``resort=True`` (map-side partials, overlapping
    doc ranges): concatenate and sort by doc_id, unique per key, so the
    result is independent of shuffle arrival order."""
    cols = _final_schema(key).fieldNames()

    def _merge(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("min_doc_id")
        first = pdf.iloc[0]
        if _is_keyed(key):
            kval, bucket = int(first["tkey"]), int(first["bucket"])
        else:
            kval, bucket = first["term"], term_bucket(first["term"])
        df_ = int(first["df"])
        if (
            len(pdf) == 1
            and int(first["n_postings"]) <= MAX_SEGMENT_POSTINGS
            and int(first["min_doc_id"]) // band_size
            == int(first["max_doc_id"]) // band_size
        ):
            out = pdf.iloc[[0]].copy()  # pass-through: blobs reused as-is
            out["seg_idx"] = 0
            out["bucket"] = bucket
            return out[cols]

        docs, tfs, imps = [], [], []
        for _, row in pdf.iterrows():
            d, t, i = row_to_segment(row).decode_all()
            docs.append(d)
            tfs.append(t)
            imps.append(i)
        doc_ids = np.concatenate(docs)
        tfs = np.concatenate(tfs)
        imps = np.concatenate(imps)
        if resort:
            order = np.argsort(doc_ids, kind="stable")
            doc_ids, tfs, imps = doc_ids[order], tfs[order], imps[order]
        assert bool(np.all(np.diff(doc_ids) > 0)), f"unsorted merge {kval!r}"
        return pd.DataFrame(
            _segment_rows(key, kval, bucket, df_, doc_ids, tfs, imps, band_size),
            columns=cols,
        )

    return _merge


# ------------------------------------- map-side partial encode path


def _mapside_partial_fn(projected_cols: list[str]):
    """Whole-partition partial encoder for ``build_segments_mapside``:
    accumulate each term's (doc_id, tf, impact) rows across the
    partition's Arrow batches, sort locally, emit ONE compressed
    partial segment per (term, partition). Raw TF rows never leave
    the map task — only blobs cross the exchange (guide §2.3
    "shuffle keys and metadata instead of payloads")."""

    def _partials(it):
        acc: dict[str, list[pd.DataFrame]] = {}
        dfs: dict[str, int] = {}
        for pdf in it:
            for term, grp in pdf.groupby("term", sort=False):
                acc.setdefault(term, []).append(grp)
                if term not in dfs:
                    dfs[term] = int(grp["df"].iloc[0])
        rows = []
        for term, parts in acc.items():
            g = pd.concat(parts, ignore_index=True) if len(parts) > 1 else parts[0]
            g = g.sort_values("doc_id")
            seg = encode_segment(
                term=term,
                df=dfs[term],
                doc_ids=g["doc_id"].to_numpy(np.int64),
                tfs=g["tf"].to_numpy(np.int64),
                impacts=g["impact"].to_numpy(np.float64),
            )
            rows.append(_segment_to_dict(seg, 0))
        if rows:
            yield pd.DataFrame(rows)[projected_cols]
        else:
            yield pd.DataFrame({c: [] for c in projected_cols})

    return _partials


def build_segments_mapside(
    impact_tf: DataFrame,
    n_docs: int,
    postings_per_shard: int = POSTINGS_PER_SHARD,
    band_size: int = DOC_BAND_SIZE,
) -> DataFrame:
    """build_segments with the encode moved BELOW the exchange.

    One pass: mapInPandas partial-encodes each map partition's rows
    into per-term compressed runs (NO shuffle — narrow over the tf
    scan), then a single groupBy(term) moves blobs only and merges.
    vs the grouped path, the exchange carries ~compressed-index bytes
    instead of raw (doc_id, term, tf, impact, df) rows, and the
    impact subtree is scanned ONCE (the old single/hot union scanned
    it twice). Final segment bytes are identical (the merge re-sorts
    by doc_id and re-encodes with the same splitter; asserted in
    tests/test_postings_mapside.py).

    ``postings_per_shard`` is unused here (no salting needed: partial
    encode is bounded by map-partition size, the merge by term like
    the sharded merge) — kept for signature compatibility.
    """
    cols = ["term", "df", "doc_id", "tf", "impact"]
    partial_cols = [f.name for f in SEGMENT_SCHEMA.fields]
    partial = impact_tf.select(*cols).mapInPandas(
        _mapside_partial_fn(partial_cols), schema=SEGMENT_SCHEMA
    )
    return partial.groupBy("term").applyInPandas(
        _merge_fn("term", band_size, resort=True), schema=INDEX_SCHEMA
    )


# --------------------------------------------- adaptive single-pass


def _build(
    impact: DataFrame,
    key: str,
    n_docs: int,
    postings_per_shard: int,
    band_size: int,
) -> DataFrame:
    common = impact.repartition(key)
    single = (
        common.filter(F.col("df") <= postings_per_shard)
        .sortWithinPartitions(key, "doc_id")
        .mapInPandas(_stream_encode_fn(key, band_size), schema=_final_schema(key))
    )
    hot = common.filter(F.col("df") > postings_per_shard)
    n_shards = F.ceil(F.col("df") / F.lit(postings_per_shard))
    shard_width = F.ceil(F.lit(n_docs) / n_shards)
    salted = hot.withColumn(
        "shard", F.floor(F.col("doc_id") / shard_width).cast("int")
    )
    partial = salted.groupBy(key, "shard").applyInPandas(
        _encode_partial_fn(key),
        schema=KEYED_SEGMENT_SCHEMA if _is_keyed(key) else SEGMENT_SCHEMA,
    )
    merged = partial.groupBy(key).applyInPandas(
        _merge_fn(key, band_size), schema=_final_schema(key)
    )
    return single.unionByName(merged)


def build_segments(
    impact_tf: DataFrame,
    n_docs: int,
    postings_per_shard: int = POSTINGS_PER_SHARD,
    band_size: int = DOC_BAND_SIZE,
) -> DataFrame:
    """Adaptive index build over (doc_id, term, tf, impact, df) — the
    cost-based route the reference's 'multi-model routing' maps to
    (SURVEY.md §4.1 last row):

    - terms with df ≤ postings_per_shard (the overwhelming majority —
      Zipf tail) take the streaming encode: ``repartition(term)`` →
      ``sortWithinPartitions(term, doc_id)`` → ``mapInPandas``, one
      shuffle and ONE Python call per partition that cuts every
      term's posting list out of the sorted Arrow batches
      (``_stream_encode_fn``). A ``groupBy(term).applyInPandas`` here
      paid a pandas frame round trip per term: a warm encode + write of
      5,000 terms (302k postings, local[4]) took 11.6–12.0 s that way
      and 3.3–4.0 s streamed;
    - hot terms (df > postings_per_shard) take the salted two-stage
      path: range-sharded partial segments, then the blob-only
      shuffle-merge, so no task holds a stopword's postings.

    Both paths produce identical bytes for a given term (asserted in
    tests/test_postings_stream.py), so the split is purely physical.

    The two branches consume ONE shared ``repartition("term")``
    exchange: without it, each branch's filter pushed into its own
    subtree and the tf scan + impact joins evaluated TWICE (union
    branches share nothing unless the subplans are identical). Hash
    partitioning on ``term`` also satisfies the hot branch's
    (term, shard) grouping, so AQE's stage reuse materializes the
    common shuffle once.
    """
    return _build(impact_tf, "term", n_docs, postings_per_shard, band_size)


# ------------------------------------------ int64-keyed build variant
#
# Round-3 verdict #5 (the next per-byte lever after the §9 TF
# relocation: on bandwidth-bound hardware cutting bytes/row beats
# adding threads): the encode shuffles carry an 8-byte
# ``tkey = xxhash64(term)`` instead of the term string; the string
# rejoins at SEGMENT granularity (vocab-sized, broadcast) just before
# the index write, so the STORED format — term strings + crc32
# buckets, query-side pushdown — is byte-identical to the default
# path (asserted in tests/test_index_bmw.py). Collisions are guarded
# at dictionary build (plans/build_index.py raises on any tkey with
# two terms — 2⁻⁶⁴-scale, but an identity-breaking hazard if ignored).


def build_segments_keyed(
    impact_tf_k: DataFrame,
    n_docs: int,
    postings_per_shard: int = POSTINGS_PER_SHARD,
    band_size: int = DOC_BAND_SIZE,
) -> DataFrame:
    """build_segments over (doc_id, tkey, bucket, tf, impact, df) —
    the same streaming single-shard encode (sorted by (tkey, doc_id))
    and salted hot-key path, int64 keys, term column left '' for the
    dictionary join in plans/build_index.py."""
    return _build(impact_tf_k, "tkey", n_docs, postings_per_shard, band_size)
