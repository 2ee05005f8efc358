"""Corpus-wide plan-hygiene gate: EVERY registered query's physical plan is
scanned for the two classic 100 TB scale-killers —

  * CartesianProduct: O(n x m) row pairing. Any query that needs a cross
    join must either broadcast (BroadcastNestedLoopJoin over a bounded side)
    or be explicitly registered as a cartesian operator.
  * BatchEvalPython: row-at-a-time Python UDF (pickle per row). The Arrow
    paths (ArrowEvalPython / FlatMapGroupsInPandas / MapInPandas /
    PythonUDTF) are the sanctioned Python escapes.

This is the sweep version of the per-query plan tests in test_plans.py: a
new operator cannot regress into a cartesian or row-Python plan without
failing CI. Plans are built, never executed (except the known-eager
iterative operators, which are skipped: their construction runs jobs).
"""

from __future__ import annotations

import pytest

from sol_spark.plans import explain_formatted as _plan
from sol_spark.registry import all_queries

# Construction executes jobs (localCheckpoint / driver-side iteration):
# covered by their own oracle + runtime tests instead.
EAGER_BUILD = {
    "dedup_clusters",
    "dedup_simhash_clusters",
    "dedup_keep_list",
    "dedup_pagerank",
    "graph_triangles",
    "sim_kmeans_train",
    "sim_topk_ivf",
    "sim_logreg_train",  # GD iterations collect during construction
    # r5 iterative/checkpointing operators — construction runs the full
    # pipeline (localCheckpoint per round); covered by oracle + their own
    # behavioral/storage tests, outputs are scalar columns.
    "graph_kcore",
    "graph_modularity",
    "graph_adamic_adar",
    "graph_clustering_coef",
    "er_clusters",
    # r6 eager operators: the BPE trainer/applier collect a 1-row argmax
    # per merge step; the semdedup pair checkpoints its assignment stage;
    # BFS checkpoints per relaxation round. Oracle + behavioral/storage
    # tests cover them.
    "text_bpe_train",
    "text_bpe_apply",
    "dedup_semdedup",
    "dedup_semdedup_kmeans",
    "graph_bfs_distances",
    "graph_diameter_estimate",  # composes the eager BFS
    "dedup_representatives",  # composes two eager iterative operators
    # late-r6 eager operators: sketch-PR checkpoints each method's pair
    # set before grading; harmonic centrality composes the eager BFS;
    # method_overlap's counts collect; k-center collects a 1-row argmax
    # per pick. Oracle + behavioral tests cover them.
    "dedup_sketch_pr",
    "graph_harmonic_centrality",
    "sample_kcenter",
    "graph_mst",  # Boruvka rounds + embedded CC run during construction
    "graph_mst_cut_profile",  # composes graph_mst
    "text_tokenizer_fertility",  # BPE training loop runs during construction
    "dedup_ensemble_clusters",  # four pair pipelines + CC run during construction
    "dedup_mis_keepset",  # Luby rounds via iterate() run during construction
    "stats_bradley_terry",  # GD iterations collect during construction
    # third-wave r6 eager operators: PPR collects the seed list and
    # checkpoints the edge set; survivorship composes the eager ER
    # clustering; jaccard-links checkpoints the simhash pair set.
    "graph_ppr",
    "er_survivorship",
    "graph_jaccard_links",
    "graph_assortativity",  # checkpoints the simhash pair set during build
    "dedup_keep_best_quality",  # composes the eager CC labeler
    "dedup_cc_incremental",  # two CC passes (base + quotient) during build
    "dedup_rand_index",  # composes both eager clusterings; scalar collects
    "dedup_cluster_size_hist",  # composes the eager CC labeler
    "graph_conductance",  # composes the eager LPA labeler
    "sim_centroid_purity",  # k-means model-sync loop runs during construction
    "dedup_rate_by_source",  # composes the eager CC labeler
    # r7 eager operators: ROUGE-2 checkpoints the candidate-pair and
    # distinct-bigram frames during construction (each feeds multiple
    # consumers); cluster cohesion composes two eager operators. Oracle +
    # recompute tests cover them.
    "dedup_rouge2_pairs",
    "dedup_shared_spans",  # checkpoints the capped pairs + anchor frame during build
    "events_rate_limit_sliding",  # checkpoints the grouped-map replay before the sort
    "dedup_cluster_cohesion",
    # r8 eager operators: the fastText trainer runs its integer-GD
    # model-sync loop during construction; q67a checkpoints the shared
    # 9-level base; MIS now probes convergence through an Observation on
    # the checkpoint job (still eager). Oracle + behavioral tests cover.
    "text_fasttext_quality",
    "tpcds_q67a",
    # beam-search rounds checkpoint the frontier (a lazy unroll doubles
    # the plan per round); the recall gate composes the eager search
    "sim_graph_search",
    "sim_graph_recall",
    "graph_ktruss",  # peeling rounds via iterate() run during construction
    "graph_maximal_matching",  # matching rounds via iterate() run during construction
    "graph_densest_subgraph",  # peeling rounds + scalar collects run during construction
}

# Registered cartesian-by-design operators (bounded or demonstration ops).
CARTESIAN_OK = {"cross_join_dims"}


def _specs():
    return [(n, s) for n, s in sorted(all_queries().items()) if n not in EAGER_BUILD]


@pytest.mark.parametrize("name", [n for n, _ in _specs()])
def test_no_cartesian_no_row_python(spark, sf_dir, name):
    spec = all_queries()[name]
    plan = _plan(spec.fn(spark, sf_dir))
    if name not in CARTESIAN_OK:
        assert "CartesianProduct" not in plan, f"{name}: cartesian product in plan"
    # Row-at-a-time Python. Arrow nodes contain 'ArrowEvalPython' /
    # 'MapInPandas' / 'FlatMapGroupsInPandas' / 'BatchEvalPythonUDTF' —
    # match the exact row-UDF node only.
    for line in plan.splitlines():
        node = line.strip(" +-*")
        assert not node.startswith("BatchEvalPython ") and not node.startswith(
            "BatchEvalPython("
        ), f"{name}: row-at-a-time Python UDF in plan: {node[:80]}"


@pytest.mark.parametrize("name", [n for n, _ in _specs()])
def test_no_complex_types_in_output(spark, sf_dir, name):
    """Corpus-wide output-schema gate: no array/map/struct column may leave
    a registered query. toPandas yields Python lists WITHOUT Arrow but
    numpy arrays WITH it, so the oracle compare's string fallback sees
    '[1, 2]' vs '[1 2]' — a mismatch that appears ONLY under a vanilla
    session (no Arrow config). Emit array_join(...)/to_json(...) strings
    instead. (The EAGER_BUILD iterative operators are excluded here like
    above; their outputs are scalar key/label/weight columns, covered by
    their oracle rows.)"""
    from pyspark.sql.types import ArrayType, DecimalType, MapType, StructType

    spec = all_queries()[name]
    schema = spec.fn(spark, sf_dir).schema
    for f in schema.fields:
        assert not isinstance(f.dataType, (ArrayType, MapType, StructType)), (
            f"{name}: complex-typed output column {f.name}: {f.dataType.simpleString()}"
        )
        # DecimalType is equally hazardous: Spark's SQL parser types literals
        # like 1000000.0 as DECIMAL, and a long/DECIMAL division yields
        # DECIMAL(30,9) whose Arrow decimal->double conversion multiplies the
        # unscaled value by 1e-9 — NOT the double the oracle computes
        # (events_holt_winters 'seasonal', round-7 strict sweep). Divide by
        # cast(... as double) instead.
        assert not isinstance(f.dataType, DecimalType), (
            f"{name}: DECIMAL output column {f.name}: {f.dataType.simpleString()}"
            " — use cast(... as double) divisors (see _r6 in events_analytics)"
        )
