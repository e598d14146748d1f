"""The streaming postings encode (operators/postings.py ``_build``):
every stored segment must equal what a driver-side oracle gets by
calling ``encode_segment`` on each term's sorted postings, split at
band boundaries — whatever the Arrow batch size, the band width, the
hot/tail routing or the number of empty partitions."""

from __future__ import annotations

import itertools
import zlib
from contextlib import contextmanager

import numpy as np
import pandas as pd
import pytest

from documentindex_spark.constants import (
    DOC_BAND_SIZE,
    MAX_SEGMENT_POSTINGS,
    NUM_TERM_BUCKETS,
    POSTINGS_PER_SHARD,
)
from documentindex_spark.operators.codec import encode_segment
from documentindex_spark.operators.postings import (
    _stream_encode_fn,
    build_segments,
    build_segments_keyed,
)

N_DOCS = 200


def _impact_rows(seed: int = 7) -> pd.DataFrame:
    """(doc_id, term, tf, df, impact) with dfs from 1 to 120: short
    lists, lists longer than a small Arrow batch, and lists above a
    small postings_per_shard, doc_ids spread over the whole range."""
    rng = np.random.default_rng(seed)
    parts = []
    for i, df_ in enumerate([1, 2, 3, 5, 9, 14, 23, 30, 41, 57, 80, 120] * 3):
        docs = np.sort(rng.choice(N_DOCS, size=df_, replace=False))
        parts.append(pd.DataFrame({
            "doc_id": docs.astype(np.int64),
            "term": f"t{i:02d}",
            "tf": rng.integers(1, 9, size=df_).astype(np.int64),
            "df": np.int64(df_),
            "impact": rng.random(df_),
        }))
    # shuffle so the engine, not the input order, does the sorting
    return pd.concat(parts).sample(frac=1.0, random_state=seed)


def _oracle(rows: pd.DataFrame, band_size: int) -> list[tuple]:
    out = []
    for term, g in rows.groupby("term"):
        g = g.sort_values("doc_id")
        doc_ids = g["doc_id"].to_numpy(np.int64)
        tfs = g["tf"].to_numpy(np.int64)
        imps = g["impact"].to_numpy(np.float64)
        runs = []
        for _, idx in itertools.groupby(
            range(len(doc_ids)), key=lambda i: int(doc_ids[i]) // band_size
        ):
            idx = list(idx)
            for c in range(0, len(idx), MAX_SEGMENT_POSTINGS):
                runs.append(idx[c : c + MAX_SEGMENT_POSTINGS])
        for seg_idx, idx in enumerate(runs):
            a, b = idx[0], idx[-1] + 1
            seg = encode_segment(
                term, int(g["df"].iloc[0]), doc_ids[a:b], tfs[a:b], imps[a:b]
            )
            out.append((
                term, seg_idx, seg.df, seg.n_postings, seg.min_doc_id,
                seg.max_doc_id, seg.doc_blob, seg.tf_blob, seg.impact_blob,
                seg.block_n.tolist(), seg.block_max_doc.tolist(),
                seg.block_max_impact.tolist(), seg.block_doc_off.tolist(),
                seg.block_tf_off.tolist(),
                zlib.crc32(term.encode()) % NUM_TERM_BUCKETS,
            ))
    return sorted(out)


def _content(df, term_of=None) -> list[tuple]:
    return sorted(
        (
            term_of[r["tkey"]] if term_of else r["term"], r["seg_idx"],
            r["df"], r["n_postings"], r["min_doc_id"], r["max_doc_id"],
            bytes(r["doc_blob"]), bytes(r["tf_blob"]), bytes(r["impact_blob"]),
            list(r["block_n"]), list(r["block_max_doc"]),
            list(r["block_max_impact"]), list(r["block_doc_off"]),
            list(r["block_tf_off"]), r["bucket"],
        )
        for r in df.collect()
    )


@contextmanager
def _conf(spark, **conf):
    old = {k: spark.conf.get(k) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


BATCH = "spark.sql.execution.arrow.maxRecordsPerBatch"


@pytest.mark.parametrize(
    "batch, band_size, pps",
    [
        (7, DOC_BAND_SIZE, POSTINGS_PER_SHARD),  # lists span many batches
        (10000, 16, POSTINGS_PER_SHARD),  # band splits inside a list
        (7, 16, 20),  # tail and hot terms mixed, small batches, bands
    ],
)
def test_stream_encode_matches_oracle(spark, batch, band_size, pps):
    rows = _impact_rows()
    expected = _oracle(rows, band_size)
    imp = spark.createDataFrame(rows)
    with _conf(spark, **{BATCH: str(batch)}):
        got = _content(build_segments(imp, N_DOCS, pps, band_size))
    assert got == expected
    if pps < POSTINGS_PER_SHARD:  # both routes really ran
        assert (rows["df"] > pps).any() and (rows["df"] <= pps).any()


def test_keyed_stream_encode_matches_oracle(spark):
    rows = _impact_rows(seed=11)
    keys = {t: i * 7919 + 3 for i, t in enumerate(sorted(rows["term"].unique()))}
    keyed = rows.assign(
        tkey=rows["term"].map(keys).astype(np.int64),
        bucket=rows["term"].map(
            lambda t: zlib.crc32(t.encode()) % NUM_TERM_BUCKETS
        ).astype(np.int32),
        # a keyed segment carries term '' until the dictionary join
    ).drop(columns="term")
    imp = spark.createDataFrame(keyed)
    with _conf(spark, **{BATCH: "7"}):
        got = _content(
            build_segments_keyed(imp, N_DOCS, 20, 16),
            term_of={v: k for k, v in keys.items()},
        )
    assert got == _oracle(rows, 16)


def test_stream_encode_with_empty_partitions(spark):
    rows = _impact_rows()
    rows = rows[rows["term"].isin(["t03", "t07", "t11"])]
    imp = spark.createDataFrame(rows)
    with _conf(
        spark,
        **{
            "spark.sql.shuffle.partitions": "32",
            "spark.sql.adaptive.coalescePartitions.enabled": "false",
            BATCH: "7",
        },
    ):
        assert _content(build_segments(imp, N_DOCS)) == _oracle(rows, DOC_BAND_SIZE)
        assert build_segments(imp.filter("df < 0"), N_DOCS).count() == 0


def test_stream_fn_carries_only_the_unfinished_term():
    """Driven without Spark: empty batches, a term continued across
    three batches, and a batch boundary that falls exactly on a term
    boundary."""
    rows = _impact_rows()
    rows = rows.sort_values(["term", "doc_id"], ignore_index=True)
    rows = rows[rows["term"].isin(["t00", "t04", "t07", "t08"])]  # 1, 9, 30, 41
    rows = rows.reset_index(drop=True)
    cuts = [0, 0, 4, 10, 11, 25, 40, 40, len(rows)]  # 10 = start of t07
    batches = [rows.iloc[a:b] for a, b in zip(cuts, cuts[1:])]
    out = list(_stream_encode_fn("term", DOC_BAND_SIZE)(iter(batches)))
    got = pd.concat(out, ignore_index=True)
    assert got["term"].tolist() == ["t00", "t04", "t07", "t08"]
    assert got["n_postings"].tolist() == [1, 9, 30, 41]
    expected = _oracle(rows, DOC_BAND_SIZE)
    assert [(e[0], e[6], e[7], e[8]) for e in expected] == [
        (r.term, r.doc_blob, r.tf_blob, r.impact_blob) for r in got.itertuples()
    ]
    assert list(_stream_encode_fn("term", DOC_BAND_SIZE)(iter([]))) == []
    assert list(
        _stream_encode_fn("term", DOC_BAND_SIZE)(iter([rows.iloc[:0]]))
    ) == []
