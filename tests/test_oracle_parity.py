"""Oracle-differential test for every declared query (SURVEY.md §5 item 1).

Replicates the driver's check locally at sf0.001 (fast). Queries without
an oracle get a rows-run smoke (runs, has a schema, row count >= 0).
"""

from __future__ import annotations

import pytest

from tests.conftest import SF_DIR
from tests.oracle_util import compare


def _registry():
    from legislative_bills_database_spark.plans import ORACLE, QUERIES

    return QUERIES, ORACLE


QUERIES, ORACLE = _registry()

# r15 fast-lane (VERDICT r14 #1): parity params measured >= 3 s call
# time in the committed full --durations=0 profile — mostly the stream
# censuses (a real availableNow run each), the iterative graph loops,
# and the exact+approx certificate chains. They stay in the FULL lane
# (-m "slow or not slow", the end-of-round gate); the default lane
# keeps the other ~425 parity checks.
_SLOW_PARITY = {
    "q_ann_recall", "q_betweenness_sample", "q_boruvka_mst",
    "q_bradley_terry", "q_cluster_scatter", "q_clustering_coeff",
    "q_containment_join", "q_critical_path", "q_dbscan",
    "q_dbscan_capped", "q_dbscan_labels", "q_dbscan_recall",
    "q_dp_counts", "q_embedding_neardup", "q_greedy_coverage",
    "q_greedy_matching", "q_hard_negatives", "q_harmonic_centrality",
    "q_hits_scores", "q_inclusion_deps", "q_ivf_sweep",
    "q_kmeans_clusters", "q_label_prop", "q_label_prop_exact",
    "q_luby_mis", "q_markov_stationary", "q_matrix_profile",
    "q_mmr_select", "q_neardup_precision", "q_pagerank",
    "q_pagerank_exact", "q_parquet_bloom_census", "q_pca_power",
    "q_ppr", "q_pq_recall", "q_pq_topk", "q_prefix_jaccard_join",
    "q_rowgroup_skip_census", "q_silhouette", "q_simhash_pairs",
    "q_smd_balance", "q_somers_d", "q_sssp", "q_stream_dedup",
    "q_stream_join", "q_stream_late", "q_stream_outer_join",
    "q_stream_parity", "q_stream_rate_limit", "q_stream_state_census",
    "q_stream_state_scale", "q_stream_totals", "q_stream_tws_totals",
    "q_triangle_count",
}


@pytest.mark.parametrize(
    "name",
    [
        pytest.param(n, marks=pytest.mark.slow)
        if n in _SLOW_PARITY
        else n
        for n in sorted(QUERIES)
    ],
)
def test_query_parity(spark, name):
    confs = spark.conf.getAll
    df = QUERIES[name](spark, SF_DIR)
    if name in ORACLE:
        problems = compare(df, ORACLE[name], SF_DIR)
        assert not problems, f"{name}: " + "; ".join(problems)
    else:
        # rows-only: runs end-to-end, stable schema, non-negative rows
        n = df.count()
        assert n >= 0
        assert df.columns
    # a query leaves the session's confs as it found them, and no
    # stream running
    assert spark.conf.getAll == confs, name
    assert spark.streams.active == [], name


@pytest.mark.slow  # r15 fast-lane: measured-heavy (see pytest.ini)
def test_no_pandas_lossy_oracle_dtypes():
    """DESCRIBE every oracle; fail on HUGEINT/UHUGEINT output columns.

    The round-3 driver hash-FAIL (q_dq_constraints): DuckDB SUM over int
    columns yields HUGEINT, which the driver's pandas canonicalizer
    coerces to float64 ("15000.0" vs Spark "15000"). This sweep makes the
    defect un-reintroducible: any oracle whose output schema pandas
    cannot hold losslessly fails here in <5 s, before a driver round.
    """
    from tests.oracle_util import lossy_oracle_columns

    bad = {}
    for name, sql in ORACLE.items():
        lossy = lossy_oracle_columns(sql, SF_DIR)
        if lossy:
            bad[name] = lossy
    assert not bad, f"oracles with pandas-lossy output dtypes: {bad}"


def test_lossy_dtype_guard_trips():
    """The guard actually fires: a bare SUM(int) oracle is rejected."""
    from tests.oracle_util import lossy_oracle_columns

    lossy = lossy_oracle_columns(
        "SELECT SUM(o_orderkey) AS s FROM orders", SF_DIR
    )
    assert lossy and lossy[0][0] == "s"


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    assert set(e.oracle_sql()) <= set(e.queries())
