#!/usr/bin/env python
"""Targeted sf1 scaling points for ONE round's newcomers (the r13
discipline): measure each newcomer at sf1.0 AND sf0.1 in the SAME
session (min-of-2, memo-cleared), compute self-contained ratios, and
MERGE the cells into BENCH_SF1.json — each cell is same-session, so
merging into the standing artifact is sound where cross-sweep ratios
would not be. The full regeneration path (scripts/bench_sf1.py, whose
EXTRA_HEAVY already lists these queries) stays the authoritative
whole-artifact run.

Usage: python scripts/bench_sf1_newcomers.py q_a q_b ...
       (no args = the round-14 newcomer list)
"""
from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF1_DIR = os.path.join(REPO, ".benchdata", "sf1.0")
SF01_DIR = "/root/testdata/sf0.1"
N_RUNS = 2

R14_NEWCOMERS = [
    "q_er_clusters", "q_sax_motifs", "q_dbscan_capped",
    "q_dbscan_recall", "q_luby_mis", "q_xcorr_matrix",
    "q_kmv_resemblance", "q_matrix_profile", "q_ivm_agg",
    "q_runtime_filter_census", "q_uplift_qini", "q_quantile_merge",
    "q_bitemporal_asof",
]


def main() -> None:
    from pyspark.sql import functions as F

    from legislative_bills_database_spark.plans import QUERIES
    from legislative_bills_database_spark.session import (
        clear_memos,
        get_spark,
        materialize_fully,
    )

    names = sys.argv[1:] or R14_NEWCOMERS
    spark = get_spark(
        app_name="lbd-bench-sf1-newcomers",
        cpus=os.environ.get("SPARK_GRAFT_CPUS", "32"),
    )
    spark.sparkContext.setLogLevel("ERROR")
    for d in (SF1_DIR, SF01_DIR):
        for t in ["customer", "orders", "lineitem", "events",
                  "embeddings"]:
            spark.read.parquet(f"{d}/{t}.parquet").count()

    def calib() -> float:
        best = None
        for _ in range(3):
            t0 = time.perf_counter()
            spark.range(200_000_000).agg(
                F.expr("bit_xor(xxhash64(id))").alias("h")
            ).collect()
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        return round(best, 3)

    def timed(name: str, sf_dir: str) -> float:
        # per-plan timings: each run pays its own memoized builds
        # (similarity chains, co-purchase, purchase-sym, centroids)
        best = None
        for _ in range(N_RUNS):
            clear_memos()
            t0 = time.perf_counter()
            materialize_fully(QUERIES[name](spark, sf_dir))
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        return round(best, 3)

    c = calib()
    print(f"  calibration token: {c:.3f}s", file=sys.stderr)
    cells = {}
    for name in names:
        t1 = timed(name, SF1_DIR)
        t01 = timed(name, SF01_DIR)
        ratio = round(t1 / t01, 2) if t01 else None
        cells[name] = (t1, t01, ratio)
        print(f"  {name}: sf1 {t1}s  sf0.1 {t01}s  ratio {ratio}",
              file=sys.stderr)
    spark.stop()

    path = os.path.join(REPO, "BENCH_SF1.json")
    with open(path) as fh:
        doc = json.load(fh)
    for name, (t1, t01, ratio) in cells.items():
        doc["queries"][name] = t1
        doc["sf0.1_per_plan_denominators"][name] = t01
        doc["ratio_vs_sf0.1"][name] = ratio
        doc.setdefault("ratio_vs_sf0.1_calibadj", {})[name] = ratio
        # extra_heavy maps name -> sf1 seconds in the standing artifact
        doc.setdefault("extra_heavy", {})[name] = t1
    doc["value"] = round(sum(doc["queries"].values()), 3)
    doc.setdefault("merged_cells", {})["r14_newcomers"] = {
        "names": names,
        "calib_sec": c,
        "note": "same-session sf1+sf0.1 pair per cell "
                "(scripts/bench_sf1_newcomers.py); calibadj == raw "
                "because both ends share one session",
    }
    with open(path, "w") as fh:
        json.dump(doc, fh, indent=1, sort_keys=True)
    print(json.dumps({n: cells[n] for n in names}))


if __name__ == "__main__":
    main()
