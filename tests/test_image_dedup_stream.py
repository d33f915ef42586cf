"""Streaming image near-dup dedup against the persisted dHash band index
(`streaming/image_dedup_stream.py` + `multimodal/dhash_index.py`) — the
multimodal twin of tests around `streaming/dedup_stream.py`.

Fixture strategy mirrors test_multimodal: deterministic numpy images
encoded as PPM/BMP (pure-python codecs, no PIL), near-copies planted by
flipping a pixel (dHash Hamming distance stays <= 3), a distinct image
as the novel control, and a junk payload as the undecodable reject.
"""

from __future__ import annotations

import os

import numpy as np
import pytest

from etl_bigquery_pipeline_spark.multimodal import binary_ops, dhash_index
from etl_bigquery_pipeline_spark.operators.localrel import literal_frame
from etl_bigquery_pipeline_spark.streaming.image_dedup_stream import (
    incremental_image_dedup_sink,
)
from tests.crash_window import forge_crash_window


def _img(seed: int, h: int = 48, w: int = 48) -> np.ndarray:
    return np.random.RandomState(seed).randint(
        0, 256, size=(h, w, 3), dtype=np.uint8
    )


def _noisy(arr: np.ndarray) -> np.ndarray:
    out = arr.copy()
    out[0, 0] = 255 - out[0, 0]
    return out


def _ppm(arr: np.ndarray) -> bytes:
    return binary_ops.encode_ppm(arr)


def test_phash_exact_when_undecodable_shares_batch(spark):
    """Regression: a None phash in the same Arrow batch made pandas
    infer float64 for the column, zeroing the low ~11 bits of every
    neighbor's 64-bit hash (53-bit mantissa) — dedup then silently
    missed true near-dups depending on which rows shared a batch."""
    img = _img(555)
    alone = binary_ops.with_perceptual_hash(
        literal_frame(spark, [(1, _ppm(img))], "id long, payload binary")
    ).collect()[0].phash
    with_junk = {
        r.id: r.phash
        for r in binary_ops.with_perceptual_hash(
            literal_frame(
                spark,
                [(1, _ppm(img)), (2, b"\xff\xd8\xff\xe0 jpeg-codec-gated")],
                "id long, payload binary",
            ).coalesce(1)
        ).collect()
    }
    assert with_junk[1] == alone == binary_ops.dhash64(img) - (
        (1 << 64) if binary_ops.dhash64(img) >= (1 << 63) else 0
    )


@pytest.fixture()
def corpus_index(spark, tmp_path):
    corpus = literal_frame(
        spark,
        [(i, _ppm(_img(i))) for i in range(10)], "id long, payload binary"
    )
    table = "t_dhash_idx"
    dhash_index.build_dhash_index(corpus, table)
    return table


def test_index_probe_finds_noisy_copy_and_skips_distinct(spark, corpus_index):
    from pyspark.sql import functions as F

    batch = literal_frame(
        spark,
        [(100, _ppm(_noisy(_img(3)))),   # near-copy of corpus id 3
         (101, _ppm(_img(999)))],        # genuinely novel
        "id long, payload binary",
    )
    hashed = binary_ops.with_perceptual_hash(batch).filter(F.col("ok"))
    got = {
        (r.batch_id, r.corpus_id)
        for r in dhash_index.near_dup_candidates_from_dhash_index(
            spark, hashed, corpus_index
        ).collect()
    }
    assert (100, 3) in got
    assert all(b != 101 for b, _ in got)


def test_probe_plan_broadcasts_batch_never_corpus(spark, corpus_index):
    from pyspark.sql import functions as F

    batch = literal_frame(
        spark,
        [(100, _ppm(_img(3)))], "id long, payload binary"
    )
    hashed = binary_ops.with_perceptual_hash(batch).filter(F.col("ok"))
    df = dhash_index.near_dup_candidates_from_dhash_index(
        spark, hashed, corpus_index
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    # the batch side broadcasts; the index side must stay a scan (a
    # corpus-side broadcast would OOM the driver at real corpus sizes)
    assert "BroadcastExchange" in plan


def test_streaming_sink_routes_and_appends(spark, corpus_index, tmp_path):
    work = str(tmp_path)
    # batch 1: a noisy near-copy of corpus id 2, a novel image, junk;
    # batch 2: a noisy near-copy of BATCH 1's novel image (cross-batch
    # collision proves the append made batch-1 novels part of the corpus)
    b1 = [
        (200, _ppm(_noisy(_img(2)))),
        (201, _ppm(_img(555))),
        (202, b"\xff\xd8\xff\xe0 jpeg-codec-gated"),
    ]
    b2 = [
        (300, _ppm(_noisy(_img(555)))),  # near-copy of novel 201
        (301, _ppm(_img(777))),          # novel
    ]
    src = os.path.join(work, "src")
    os.makedirs(src)
    for i, rows in enumerate((b1, b2), start=1):
        (
            literal_frame(spark, rows, "id long, payload binary")
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(os.path.join(work, f"__slice{i}"))
        )
        import glob
        import shutil
        import time

        part = glob.glob(os.path.join(work, f"__slice{i}", "part-*.parquet"))[0]
        dst = os.path.join(src, f"{i:03d}.parquet")
        shutil.move(part, dst)
        os.utime(dst, (time.time() - 10 + i, time.time() - 10 + i))

    stream = (
        spark.readStream.schema("id long, payload binary")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = incremental_image_dedup_sink(
        stream,
        index_table=corpus_index,
        checkpoint=os.path.join(work, "ckpt"),
        out_dir=os.path.join(work, "novel"),
        dup_dir=os.path.join(work, "dups"),
        reject_dir=os.path.join(work, "rejects"),
    )
    q.awaitTermination()

    dups = {
        (r.id, r.corpus_id)
        for r in spark.read.parquet(os.path.join(work, "dups")).collect()
    }
    novel = {r.id for r in spark.read.parquet(os.path.join(work, "novel")).collect()}
    rejects = {
        r.id for r in spark.read.parquet(os.path.join(work, "rejects")).collect()
    }
    assert (200, 2) in dups          # corpus near-dup routed with evidence
    assert (300, 201) in dups        # CROSS-BATCH: batch-2 copy hit batch-1 novel
    assert novel == {201, 301}
    assert rejects == {202}
    # the index grew by exactly the novel hashes: 4 band rows each
    n_index = spark.table(corpus_index).count()
    assert n_index == (10 + 2) * 4


def test_streaming_sink_replay_is_idempotent(spark, corpus_index, tmp_path):
    """Restarting from the checkpoint with the markers intact must not
    double-append (the exactly-once contract the marker encodes)."""
    work = str(tmp_path)
    src = os.path.join(work, "src")
    os.makedirs(src)
    (
        literal_frame(
            spark,
            [(400, _ppm(_img(888)))], "id long, payload binary"
        )
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(os.path.join(work, "__slice"))
    )
    import glob
    import shutil

    shutil.move(
        glob.glob(os.path.join(work, "__slice", "part-*.parquet"))[0],
        os.path.join(src, "001.parquet"),
    )

    def run():
        stream = (
            spark.readStream.schema("id long, payload binary")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = incremental_image_dedup_sink(
            stream,
            index_table=corpus_index,
            checkpoint=os.path.join(work, "ckpt"),
            out_dir=os.path.join(work, "novel"),
            dup_dir=os.path.join(work, "dups"),
            reject_dir=os.path.join(work, "rejects"),
        )
        q.awaitTermination()

    run()
    after_first = spark.table(corpus_index).count()
    # simulate a crash AFTER the batch applied but BEFORE the engine
    # committed the batch to its offset log: wipe the engine checkpoint
    # commits so the batch replays, keeping the applied-batch markers
    commits = os.path.join(work, "ckpt", "commits")
    for f in os.listdir(commits):
        os.remove(os.path.join(commits, f))
    run()
    assert spark.table(corpus_index).count() == after_first  # no double append
    assert spark.read.parquet(os.path.join(work, "novel")).count() == 1


def test_streaming_sink_crash_window_replay_no_duplicate_rows(
    spark, corpus_index, tmp_path
):
    """The r8-ADVICE crash window: the previous attempt died AFTER the
    band-index insert but BEFORE its commit marker landed. The replay
    must detect the leftover "inserting" pre-marker and run the append
    in recovery mode (anti-join against the index) — index row counts
    stay exact instead of silently inflating.

    r9 ADVICE (high): the recovery probe runs against an index that
    already holds the crashed attempt's own rows, so without the
    batch-id exclusion every previously-novel image self-collides
    (hamming 0), dup_dir fills with bogus (id, id, 0) pairs and
    out_dir is overwritten WITHOUT the novel payloads. The test now
    asserts the routed outputs, not just the index count: 500 is a
    genuine corpus near-dup, 501 is novel, and both must route the
    same way on the recovery replay as on the first attempt."""
    work = str(tmp_path)
    src = os.path.join(work, "src")
    os.makedirs(src)
    (
        literal_frame(
            spark,
            [(500, _ppm(_noisy(_img(2)))), (501, _ppm(_img(31337)))],
            "id long, payload binary",
        )
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(os.path.join(work, "__slice"))
    )
    import glob
    import shutil

    shutil.move(
        glob.glob(os.path.join(work, "__slice", "part-*.parquet"))[0],
        os.path.join(src, "001.parquet"),
    )

    def run():
        stream = (
            spark.readStream.schema("id long, payload binary")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = incremental_image_dedup_sink(
            stream,
            index_table=corpus_index,
            checkpoint=os.path.join(work, "ckpt"),
            out_dir=os.path.join(work, "novel"),
            dup_dir=os.path.join(work, "dups"),
            reject_dir=os.path.join(work, "rejects"),
        )
        q.awaitTermination()

    run()
    after_first = spark.table(corpus_index).count()

    def routed():
        dups = {
            (r.id, r.corpus_id, r.hamming)
            for r in spark.read.parquet(os.path.join(work, "dups")).collect()
        }
        novel = spark.read.parquet(os.path.join(work, "novel"))
        novel_rows = {
            (r.id, r.payload is not None) for r in novel.collect()
        }
        return dups, novel_rows

    dups_first, novel_first = routed()
    assert {(i, c) for i, c, _ in dups_first} == {(500, 2)}
    assert novel_first == {(501, True)}
    # forge the crash window: commit marker gone, pre-marker left behind
    markers = forge_crash_window(os.path.join(work, "ckpt"))
    assert markers, "sanity: a commit marker landed"
    run()
    # recovery-mode append anti-joined the already-inserted rows away
    assert spark.table(corpus_index).count() == after_first
    # ... and the routed outputs survived the replay byte-for-byte in
    # shape: no (501, 501, 0) self-pair in dup_dir, the novel payload
    # row still present in out_dir (the r9-ADVICE corruption mode)
    dups_replay, novel_replay = routed()
    assert dups_replay == dups_first
    assert novel_replay == novel_first


def test_streaming_sink_stale_pre_marker_swept_on_committed_replay(
    spark, corpus_index, tmp_path
):
    """A crash between the commit-marker rename and the pre-marker
    removal leaks a permanent __inserting file (r9 ADVICE, low): the
    replay short-circuits on the commit marker, so the stale pre-marker
    must be swept there or it misreads forever as an in-flight insert."""
    work = str(tmp_path)
    src = os.path.join(work, "src")
    os.makedirs(src)
    (
        literal_frame(
            spark,
            [(600, _ppm(_img(424242)))], "id long, payload binary"
        )
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(os.path.join(work, "__slice"))
    )
    import glob
    import shutil

    shutil.move(
        glob.glob(os.path.join(work, "__slice", "part-*.parquet"))[0],
        os.path.join(src, "001.parquet"),
    )

    def run():
        stream = (
            spark.readStream.schema("id long, payload binary")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = incremental_image_dedup_sink(
            stream,
            index_table=corpus_index,
            checkpoint=os.path.join(work, "ckpt"),
            out_dir=os.path.join(work, "novel"),
            dup_dir=os.path.join(work, "dups"),
            reject_dir=os.path.join(work, "rejects"),
        )
        q.awaitTermination()

    run()
    after_first = spark.table(corpus_index).count()
    # forge the leak: commit marker present AND pre-marker left behind
    markers = forge_crash_window(os.path.join(work, "ckpt"), committed=True)
    assert markers, "sanity: a commit marker landed"
    run()
    marker_dir = os.path.join(work, "ckpt", "__applied_batches")
    # the short-circuit swept the stale pre-marker and touched nothing
    assert spark.table(corpus_index).count() == after_first
    leftovers = [
        m for m in os.listdir(marker_dir) if m.endswith("__inserting")
    ]
    assert leftovers == []
