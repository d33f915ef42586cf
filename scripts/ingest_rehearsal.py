#!/usr/bin/env python
"""Measure the incremental-ingest shape at any scale: build the
persisted MinHash band index ONCE over the corpus, then time what a
daily batch actually costs — probe, append, re-probe.

This is the reproducible form of SCALE.md's "incremental ingest at 10x"
paragraph (round 5 measured it ad hoc; round 6 committed it):

    python scripts/gen_scaled_testdata.py --sf 1.0 --out /tmp/sf1.0
    python scripts/ingest_rehearsal.py --sf /tmp/sf1.0

Prints ONE JSON line:
    {"corpus_docs": N, "batch_docs": B, "build_s": ..., "probe_s": ...,
     "append_s": ..., "reprobe_s": ..., "probe_candidates": ...,
     "reprobe_candidates": ..., "sf": DIR}

The batch is deterministic: the ``--batch`` lowest doc_ids, id-shifted
by +9_000_000 with a trailing edit — so every batch doc has a true
near-dup in the corpus (the probe MUST surface candidates, making the
timing an honest candidates-flowing measurement, not an empty join) and
the re-probe after append must additionally return the appended twins
(the index stays queryable in place).

The index table lands in ./spark-warehouse (same as the catalog's
band-index gates); stale leftovers self-heal via band_index_core.reset_table.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from etl_bigquery_pipeline_spark.operators import dedup
from etl_bigquery_pipeline_spark.session import get_session
from etl_bigquery_pipeline_spark.sources.readers import read_table

TABLE = "ingest_rehearsal_idx"


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--batch", type=int, default=1000)
    args = ap.parse_args()

    spark = get_session("ingest-rehearsal")
    spark.sparkContext.setLogLevel("ERROR")

    corpus = read_table(spark, args.sf, "documents").select("doc_id", "text")
    batch = (
        corpus.orderBy("doc_id")
        .limit(args.batch)
        .select(
            (F.col("doc_id") + 9_000_000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" trailing edit")).alias("text"),
        )
    )
    # materialize the batch driver-side-free: write/read a temp view is
    # unnecessary — localCheckpoint pins the (tiny) batch so its lineage
    # (an orderBy over the full corpus) isn't re-run inside every timed
    # step, which would charge corpus-scan cost to the batch operations
    batch = batch.localCheckpoint()
    n_corpus, n_batch = corpus.count(), batch.count()

    t0 = time.perf_counter()
    dedup.build_band_index(corpus, TABLE)
    build_s = time.perf_counter() - t0

    t0 = time.perf_counter()
    probe_candidates = dedup.near_dup_candidates_from_index(
        spark, batch, TABLE
    ).count()
    probe_s = time.perf_counter() - t0

    t0 = time.perf_counter()
    dedup.append_to_band_index(batch, TABLE)
    append_s = time.perf_counter() - t0

    t0 = time.perf_counter()
    reprobe_candidates = dedup.near_dup_candidates_from_index(
        spark, batch, TABLE
    ).count()
    reprobe_s = time.perf_counter() - t0

    assert reprobe_candidates >= probe_candidates + n_batch, (
        "re-probe must also return the appended twins: "
        f"{reprobe_candidates} < {probe_candidates} + {n_batch}"
    )

    print(
        json.dumps(
            {
                "corpus_docs": n_corpus,
                "batch_docs": n_batch,
                "build_s": round(build_s, 2),
                "probe_s": round(probe_s, 2),
                "append_s": round(append_s, 2),
                "reprobe_s": round(reprobe_s, 2),
                "probe_candidates": probe_candidates,
                "reprobe_candidates": reprobe_candidates,
                "sf": args.sf,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
