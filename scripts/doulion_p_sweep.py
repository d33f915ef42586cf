#!/usr/bin/env python
"""DOULION variance check: measured rel_err across sampling rates p.

The estimator's docstring claims error shrinks ~1/sqrt(T * p^3)
(Tsourakakis et al., KDD 2009). This script turns the claimed error
model into a measured one: on the co-purchase graph of a given sf
directory it computes the EXACT triangle count once, then the DOULION
estimate at p in {0.1, 0.2, 0.5} (same md5-coin construction as the
catalog queries), and records rel_err per p plus the model's predicted
error ratio between consecutive p values — the table SCALE.md commits.

Usage:
    python scripts/doulion_p_sweep.py --sf /root/testdata/sf0.1 \
        [--out /tmp/doulion_p_sweep.json] [--cpus 16]

Exact count feasibility bounds the sf (sf10 exact spills past a single
node's disk — that wall is WHY DOULION exists); sf0.1/sf1.0 are the
intended rungs.
"""

from __future__ import annotations

import argparse
import json
import math
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--out", default="")
    ap.add_argument("--cpus", type=int, default=16)
    args = ap.parse_args()

    from etl_bigquery_pipeline_spark.operators import graph
    from etl_bigquery_pipeline_spark.operators.caching import cache_scope
    from etl_bigquery_pipeline_spark.plans.catalog_p8_waves46_48 import (
        _copurchase_edges,
    )
    from etl_bigquery_pipeline_spark.session import get_session

    spark = get_session("doulion-p-sweep", master=f"local[{args.cpus}]")
    spark.sparkContext.setLogLevel("ERROR")

    rows = []
    with cache_scope():
        edges = _copurchase_edges(spark, args.sf)
        t0 = time.perf_counter()
        ex = graph.triangle_count(edges).collect()[0]
        exact_sec = round(time.perf_counter() - t0, 1)
        n_exact = ex.n_triangles
        m = ex.n_edges
        print(f"exact: {n_exact} triangles / {m} edges ({exact_sec}s)")
        for keep_num, keep_den in ((1, 10), (2, 10), (5, 10)):
            p = keep_num / keep_den
            t0 = time.perf_counter()
            est = graph.doulion_triangle_estimate(
                edges, keep_num=keep_num, keep_den=keep_den
            ).collect()[0]
            sec = round(time.perf_counter() - t0, 1)
            rel = abs(est.triangles_est - n_exact) / n_exact
            # the KDD'09 variance model: std(rel_err) ~ 1/sqrt(T * p^3)
            pred = 1.0 / math.sqrt(max(n_exact, 1) * p**3)
            rows.append(
                {
                    "p": p,
                    "edges_sampled": est.n_edges_sampled,
                    "tri_sampled": est.n_triangles_sampled,
                    "estimate": est.triangles_est,
                    "rel_err": round(rel, 6),
                    "model_pred_std": round(pred, 6),
                    "sec": sec,
                }
            )
            print(
                f"p={p}: est={est.triangles_est:.0f} rel_err={rel:.6f} "
                f"(model std ~{pred:.6f}) {sec}s"
            )

    print("\n| p | edges sampled | tri sampled | estimate | rel_err "
          "| model std 1/sqrt(T*p^3) | sec |")
    print("|---|---|---|---|---|---|---|")
    for r in rows:
        print(
            f"| {r['p']} | {r['edges_sampled']} | {r['tri_sampled']} | "
            f"{r['estimate']:.0f} | {r['rel_err']} | "
            f"{r['model_pred_std']} | {r['sec']} |"
        )

    summary = {
        "metric": "doulion_p_sweep",
        "sf": args.sf,
        "exact_triangles": n_exact,
        "n_edges": m,
        "exact_sec": exact_sec,
        "rows": rows,
    }
    line = json.dumps(summary)
    print(line)
    if args.out:
        Path(args.out).write_text(line)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
