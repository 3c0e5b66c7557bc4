#!/usr/bin/env python
"""Skewed-scaling bench (VERDICT r6 #3): the heavy graph/join plans on
.benchdata/sf1.0-skew (Zipf customer reuse — hot-customer degree ~9000
vs 102 in the skew-free replication; Σd²/2 pair fan-out 403M vs ~3M)
against the SAME queries on the skew-free sf1.0, same session.

The skew-free sf1.0 replication is skew-free by construction, so it
structurally flatters degree-quadratic plans; this bench exists to
catch exactly what it can't. A plan whose skew/uniform ratio is large
is degree-quadratic (q_graph_jaccard, q_item_cf_recs — the named r6
weak pair); their degree-capped approx siblings must stay ~flat, which
is the measured evidence that the cap is the 100×-survivable plan.

Writes BENCH_SF1_SKEW.json. Usage:
  python scripts/make_sf1.py && python scripts/make_sf1.py --skew
  python scripts/bench_skew.py
"""
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

UNIFORM = os.path.join(REPO, ".benchdata", "sf1.0")
SKEWED = os.path.join(REPO, ".benchdata", "sf1.0-skew")

# the 8 heavy plans VERDICT r6 #3 names, the degree-capped approx
# siblings that must stay flat, the fixed-round certified graph twins,
# and one scan-shaped control
QUERIES_TO_RUN = [
    "q_pivot_count",  # control: scan+broadcast+pivot, no per-key quadratic
    "q_graph_jaccard",
    "q_graph_jaccard_approx",
    "q_item_cf_recs",
    "q_item_cf_recs_approx",
    "q_cc_labels",
    "q_sssp",
    "q_pagerank_exact",
    "q_star_join",
    "q_closeness",
    "q_bfs_hops",
    "q_frequent_triples",
    "q_kcore_exact",
    "q_label_prop_exact",
    # phase-44..49 newcomers with graph/degree-sensitive shapes
    # (VERDICT r8 stretch): the weighted-Jaccard self-join is the
    # degree-quadratic one to watch; the rest are fixed-round or
    # count-frame plans that must stay ~flat under the Zipf hot key
    "q_weighted_jaccard",
    "q_weighted_jaccard_approx",  # r10: the 5.83× cell's escape hatch
    "q_harmonic_centrality",
    "q_clustering_coeff",
    "q_random_walk",
    "q_hits_scores",
    "q_kruskal_wallis",
    "q_permutation_test",
    # r12 heavy newcomers (VERDICT r12 #8): the Borůvka loop runs on
    # the co-purchase graph the Zipf hot key distorts hardest (hot
    # component diameter + per-round selection skew), and the
    # pair-grain composite-IND sweep is the other new degree-shaped
    # aggregate; both must stay ~flat or earn an ESCAPES.md row
    "q_boruvka_mst",
    "q_approx_ind",
]


def main() -> None:
    from pyspark.sql import functions as F

    from legislative_bills_database_spark.session import materialize_fully

    from legislative_bills_database_spark.plans import QUERIES
    from legislative_bills_database_spark.session import clear_memos, get_spark

    spark = get_spark(
        app_name="lbd-bench-skew", cpus=os.environ.get("SPARK_GRAFT_CPUS", "32")
    )
    spark.sparkContext.setLogLevel("ERROR")
    for d in (UNIFORM, SKEWED):
        for t in ("orders", "lineitem", "customer"):
            spark.read.parquet(f"{d}/{t}.parquet").count()

    def one_run(name: str, d: str) -> float:
        # clear the session memos so every timed run pays its own plan
        # — this bench measures PLAN degradation under skew, and a
        # memoized 100-row checkpoint hit (0.1 s) would silently replace
        # the d²/2 cost the bench exists to see. Each run now also pays
        # the co-purchase, purchase-sym and centroid builds.
        clear_memos()
        t0 = time.perf_counter()
        df = QUERIES[name](spark, d)
        materialize_fully(df)
        return time.perf_counter() - t0

    result: dict[str, dict] = {}
    for name in QUERIES_TO_RUN:
        row: dict[str, float] = {}
        for label, d in (("uniform", UNIFORM), ("skew", SKEWED)):
            # min-of-2 for sub-60s cells: single-run ratios on the small
            # plans swung ±0.3× run-to-run (codegen compilation / page-
            # cache luck), which is the size of the effects this bench
            # exists to detect. The >60s quadratic cells are stable to a
            # few % and a repeat would double the bench wall for nothing.
            dt = one_run(name, d)
            if dt < 60.0:
                dt = min(dt, one_run(name, d))
            row[label] = round(dt, 3)
        row["ratio"] = round(row["skew"] / row["uniform"], 2)
        result[name] = row
        print(f"  {name}: uniform {row['uniform']}s  skew {row['skew']}s  "
              f"ratio {row['ratio']}", file=sys.stderr)

    out = {
        "metric": "skewed_scaling",
        "sf": 1.0,
        "skew": "zipf customer reuse (make_sf1.py --skew); "
                "hot degree ~9000 vs 102 uniform",
        "queries": result,
        "unit": "sec",
    }
    path = os.path.join(REPO, "BENCH_SF1_SKEW.json")
    with open(path, "w") as fh:
        json.dump(out, fh, indent=1)
    print(json.dumps({k: v["ratio"] for k, v in result.items()}))


if __name__ == "__main__":
    main()
