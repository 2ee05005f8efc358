"""Round-11 optimization-round third-pass pins: the unsorted feeder
variants handed to graph consumers (capped pairs, MinHash-LSH pairs) must
stay row-identical to their registered sorted queries, and the
explode-based symmetrization inside _pairs_capped_agg must emit exactly
the unionAll direction set it replaced."""
from __future__ import annotations

from pyspark.sql import functions as F


def test_pairs_capped_agg_matches_registered(spark, sf_dir):
    """_pairs_capped_agg (explode symmetrization, no sort) == the
    registered dedup_pairs_capped modulo row order."""
    from sol_spark.operators.dedup import _pairs_capped_agg, dedup_pairs_capped

    agg = _pairs_capped_agg(spark, sf_dir)
    reg = dedup_pairs_capped(spark, sf_dir)
    assert agg.schema == reg.schema
    # Symmetric difference empty both ways == identical row multisets
    # (both sides are (doc_a, doc_b)-unique by construction).
    cols = agg.columns
    assert agg.exceptAll(reg).count() == 0
    assert reg.exceptAll(agg).count() == 0
    # The registered query is globally sorted; the helper output need not be.
    got = [(r["doc_a"], r["doc_b"]) for r in reg.select(cols[:2]).collect()]
    assert got == sorted(got)


def test_explode_symmetrization_equals_union(spark, sf_dir):
    """The generator form emits exactly the two directed rows per pair the
    old unionAll form produced (same multiset, one feeder evaluation)."""
    from sol_spark.operators.dedup import dedup_simhash, local_checkpoint, release_result

    pairs = local_checkpoint(dedup_simhash(spark, sf_dir))
    exploded = pairs.select(
        F.explode(
            F.array(
                F.struct(F.col("doc_a").alias("src"), F.col("doc_b").alias("nbr")),
                F.struct(F.col("doc_b").alias("src"), F.col("doc_a").alias("nbr")),
            )
        ).alias("e"),
        "hamming",
    ).select("e.src", "e.nbr", "hamming")
    unioned = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("nbr"), "hamming"
    ).unionAll(
        pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("nbr"), "hamming")
    )
    assert exploded.exceptAll(unioned).count() == 0
    assert unioned.exceptAll(exploded).count() == 0
    release_result(pairs)


def test_minhash_unsorted_matches_registered(spark, sf_dir):
    """The unsorted pair plan the graph consumers read == the registered
    dedup_minhash_lsh modulo row order (same plan, output sort added)."""
    from sol_spark.operators.dedup import (
        _minhash_pairs_plan,
        dedup_minhash_lsh,
        release_result,
    )

    uns = _minhash_pairs_plan(spark, sf_dir).select("doc_a", "doc_b", "jaccard_bp")
    reg = dedup_minhash_lsh(spark, sf_dir)
    assert uns.schema == reg.schema
    assert uns.exceptAll(reg).count() == 0
    assert reg.exceptAll(uns).count() == 0
    got = [(r["doc_a"], r["doc_b"]) for r in reg.select("doc_a", "doc_b").collect()]
    assert got == sorted(got)
    release_result(reg)
