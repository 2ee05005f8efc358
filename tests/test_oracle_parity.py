"""The correctness gate, mirrored locally: every registered query either
hash-matches its DuckDB oracle or (rows-only queries) runs and returns a
stable schema. Mirrors the reference's golden-file strategy
(/root/reference/sql/core/src/test/scala/org/apache/spark/sql/SQLQueryTestSuite.scala)
with DuckDB as the golden-result generator.
"""

from __future__ import annotations

import pytest

from sol_spark.oracle import compare
from sol_spark.registry import all_queries

SPECS = all_queries()


@pytest.mark.parametrize("name", sorted(SPECS))
def test_query_matches_oracle(name: str, spark, sf_dir: str) -> None:
    spec = SPECS[name]
    df = spec.fn(spark, sf_dir)
    if spec.oracle is None:
        # Rows-only contract: runs, has a schema, row count is sane.
        assert df.columns
        assert df.count() >= 0
        return
    ok, msg = compare(df, spec.oracle, sf_dir)
    assert ok, f"{name}: {msg}"


# Every registered query whose builder reaches connected_components or
# graph_mst (found by running every builder with the two functions wrapped).
# The sf0.001 fixtures all fit under the default local-finish gate, so the
# distributed rounds, which serve every graph above it, get their own
# strict check here.
LOCAL_FINISH_QUERIES = (
    "dedup_cc_incremental",
    "dedup_cluster_cohesion",
    "dedup_cluster_size_hist",
    "dedup_clusters",
    "dedup_ensemble_clusters",
    "dedup_keep_best_quality",
    "dedup_keep_list",
    "dedup_rand_index",
    "dedup_rate_by_source",
    "dedup_representatives",
    "dedup_simhash_clusters",
    "er_clusters",
    "er_survivorship",
    "graph_mst",
    "graph_mst_cut_profile",
)


@pytest.mark.parametrize("name", LOCAL_FINISH_QUERIES)
def test_query_matches_oracle_distributed_loop(name: str, spark, sf_dir: str, distributed_loop) -> None:
    ok, msg = compare(SPECS[name].fn(spark, sf_dir), SPECS[name].oracle, sf_dir, exact=True)
    assert ok, f"{name}: {msg}"


# Every registered query whose builder reaches the shared MinHash helpers
# (_minhash_pairs_plan, the per-document aggregate _minhash_doc_agg, or the
# band-join candidates _lsh_candidates), found by running every builder
# with the three functions wrapped. Strict here at the default
# local-finish gate; the members that reach connected components are also
# in LOCAL_FINISH_QUERIES, whose gate-0 twin above runs them strict
# through the distributed rounds (the gate changes nothing for the other
# members).
MINHASH_PAIR_QUERIES = (
    "dedup_cc_incremental",
    "dedup_cluster_size_hist",
    "dedup_clusters",
    "dedup_cross_source_matrix",
    "dedup_cross_split_decontam",
    "dedup_ensemble_clusters",
    "dedup_keep_best_quality",
    "dedup_keep_list",
    "dedup_method_overlap",
    "dedup_minhash_calibration",
    "dedup_minhash_lsh",
    "dedup_pagerank",
    "dedup_rand_index",
    "dedup_rate_by_source",
    "dedup_representatives",
    "dedup_sketch_pr",
    "graph_conductance",
    "graph_degree_stats",
    "graph_label_propagation",
    "graph_modularity",
    "graph_ppr",
)


@pytest.mark.parametrize("name", MINHASH_PAIR_QUERIES)
def test_minhash_pair_query_matches_oracle_strict(name: str, spark, sf_dir: str) -> None:
    ok, msg = compare(SPECS[name].fn(spark, sf_dir), SPECS[name].oracle, sf_dir, exact=True)
    assert ok, f"{name}: {msg}"
