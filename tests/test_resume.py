"""Checkpoint/resume: a build killed mid-postings-stage resumes
without re-tokenizing, and the final index is content-identical to an
uninterrupted build (north rule; SURVEY.md §5.4)."""

from __future__ import annotations

import json
import os

import pytest

from documentindex_spark.plans import build_index as bi
from documentindex_spark.plans.checkpoint import Manifest


def _index_content(spark, path):
    rows = spark.read.parquet(os.path.join(path, "postings")).collect()
    return sorted(
        (
            r["term"], r["seg_idx"], r["df"], r["n_postings"],
            bytes(r["doc_blob"]), bytes(r["tf_blob"]), bytes(r["impact_blob"]),
        )
        for r in rows
    )


def _kill_after_two_groups(spark, files, out_dir, monkeypatch):
    """Run a 4-group build into ``out_dir`` and kill it right after
    its second group commits."""
    orig = Manifest.record_partition
    calls = {"n": 0}

    def dying(self, stage, pid, rows, path, wall_ms):
        orig(self, stage, pid, rows, path, wall_ms)
        calls["n"] += 1
        if calls["n"] == 2:
            raise KeyboardInterrupt("simulated kill after group 1 committed")

    monkeypatch.setattr(Manifest, "record_partition", dying)
    with pytest.raises(KeyboardInterrupt):
        bi.build_index(
            spark, files, out_dir, input_id="rf@200", bucket_groups=4
        )
    monkeypatch.setattr(Manifest, "record_partition", orig)


def test_kill_and_resume_byte_identical(spark, repo_files_small, tmp_path, monkeypatch):
    straight = str(tmp_path / "straight")
    bi.build_index(
        spark, repo_files_small, straight, input_id="rf@200", bucket_groups=4
    )

    killed = str(tmp_path / "killed")
    _kill_after_two_groups(spark, repo_files_small, killed, monkeypatch)

    # manifest after the kill: docs+tf complete, postings partial (2/4)
    man = json.load(open(os.path.join(killed, "_manifest.json")))
    assert man["docs"]["status"] == "complete"
    assert man["tf"]["status"] == "complete"
    assert man["postings"]["status"] == "partial"
    assert len(man["postings"]["partitions"]) == 2

    # resume: must skip docs+tf (no re-tokenization) and groups 0-1
    tf_mtime = os.path.getmtime(os.path.join(killed, "tf", "_SUCCESS"))
    out = bi.build_index(
        spark, repo_files_small, killed, input_id="rf@200", bucket_groups=4
    )
    assert os.path.getmtime(os.path.join(killed, "tf", "_SUCCESS")) == tf_mtime
    man2 = json.load(open(os.path.join(killed, "_manifest.json")))
    assert man2["postings"]["status"] == "complete"
    assert {p["id"] for p in man2["postings"]["partitions"]} == {0, 1, 2, 3}

    # final index content-identical to the uninterrupted build
    assert _index_content(spark, killed) == _index_content(spark, straight)
    assert out.n_docs == 200


def test_resume_under_another_grouping_rebuilds_every_bucket(
    spark, repo_files_small, tmp_path, monkeypatch
):
    """Group ids name different bucket sets under different groupings:
    a 4-group build killed after two groups and resumed as one pass
    (the default) must not skip 'group 0' as done — the index must
    hold every bucket, content-identical to an uninterrupted build,
    with no files of the killed grouping left behind."""
    straight = str(tmp_path / "straight")
    bi.build_index(spark, repo_files_small, straight, input_id="rf@200")

    killed = str(tmp_path / "killed")
    _kill_after_two_groups(spark, repo_files_small, killed, monkeypatch)
    bi.build_index(spark, repo_files_small, killed, input_id="rf@200")

    man = json.load(open(os.path.join(killed, "_manifest.json")))
    assert man["postings"]["status"] == "complete"
    assert man["postings"]["bucket_groups"] == 1
    assert {p["id"] for p in man["postings"]["partitions"]} == {0}
    assert sorted(os.listdir(os.path.join(killed, "postings"))) == sorted(
        os.listdir(os.path.join(straight, "postings"))
    )
    assert _index_content(spark, killed) == _index_content(spark, straight)


def test_resume_noop_when_complete(spark, repo_files_small, tmp_path):
    out_dir = str(tmp_path / "idx")
    bi.build_index(spark, repo_files_small, out_dir, input_id="rf@200")
    m1 = os.path.getmtime(os.path.join(out_dir, "postings"))
    bi.build_index(spark, repo_files_small, out_dir, input_id="rf@200")
    assert os.path.getmtime(os.path.join(out_dir, "postings")) == m1


def test_config_change_invalidates(spark, repo_files_small, tmp_path, monkeypatch):
    """Fingerprints cover config, not just data (SURVEY.md hard parts)."""
    out_dir = str(tmp_path / "idx")
    bi.build_index(spark, repo_files_small, out_dir, input_id="rf@200")
    from documentindex_spark.plans import checkpoint as cp

    monkeypatch.setattr("documentindex_spark.constants.BM25_K1", 2.0)
    fp = cp.stage_fingerprint("tf", "x", "rf@200")
    monkeypatch.undo()
    assert fp != cp.stage_fingerprint("tf", "x", "rf@200")
