"""The applied-batch marker protocol of streaming/batch_commit, without
Spark: a fake ``apply`` records its calls and the batch frame is None."""

from __future__ import annotations

import os

import pytest

from etl_bigquery_pipeline_spark.streaming.batch_commit import once_per_batch


def _sink(tmp_path, fail=False):
    calls = []

    def apply(batch_df, batch_id, recovery):
        calls.append((batch_id, recovery))
        if fail:
            raise RuntimeError("batch work failed")

    marker_dir = tmp_path / "__applied_batches"
    return once_per_batch(str(tmp_path), apply), calls, marker_dir


def test_fresh_batch_runs_once_and_leaves_only_the_commit_marker(tmp_path):
    write_batch, calls, marker_dir = _sink(tmp_path)
    write_batch(None, 3)
    assert calls == [(3, False)]
    assert sorted(os.listdir(marker_dir)) == ["batch_3"]


def test_committed_replay_skips_and_sweeps_a_stale_pre_marker(tmp_path):
    write_batch, calls, marker_dir = _sink(tmp_path)
    write_batch(None, 0)
    (marker_dir / "batch_0.__inserting").touch()
    write_batch(None, 0)
    assert calls == [(0, False)]
    assert sorted(os.listdir(marker_dir)) == ["batch_0"]


def test_pre_marker_without_commit_replays_in_recovery(tmp_path):
    write_batch, calls, marker_dir = _sink(tmp_path)
    (marker_dir / "batch_1.__inserting").touch()
    write_batch(None, 1)
    assert calls == [(1, True)]
    assert sorted(os.listdir(marker_dir)) == ["batch_1"]


def test_failed_apply_leaves_the_pre_marker_and_no_commit(tmp_path):
    write_batch, calls, marker_dir = _sink(tmp_path, fail=True)
    with pytest.raises(RuntimeError, match="batch work failed"):
        write_batch(None, 2)
    assert calls == [(2, False)]
    assert sorted(os.listdir(marker_dir)) == ["batch_2.__inserting"]
