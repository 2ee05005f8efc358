"""Edge-input hardening: the dedup/text/similarity pipelines must behave
sanely on the degenerate corpora a real ingest WILL eventually deliver —
an empty partition, a single document, a pile of byte-identical mirrors —
not just on the friendly fixture."""

from __future__ import annotations

import pandas as pd
import pytest


def _write_docs(path, rows):
    df = pd.DataFrame(
        rows, columns=["doc_id", "text", "lang", "source", "n_chars"]
    ).astype({"doc_id": "int64", "n_chars": "int64"})
    df.to_parquet(path / "documents.parquet", index=False)


def _write_embeddings(path, rows):
    df = pd.DataFrame(rows, columns=["vec_id", "embedding", "label"])
    df = df.astype({"vec_id": "int64", "label": "int32"})
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pa.Table.from_pandas(df, preserve_index=False)
    schema = pa.schema(
        [
            pa.field("vec_id", pa.int64()),
            pa.field("embedding", pa.list_(pa.float32())),
            pa.field("label", pa.int32()),
        ]
    )
    pq.write_table(table.cast(schema), path / "embeddings.parquet")


@pytest.fixture()
def fresh_tables(spark):
    """Edge dirs poison the per-session table cache / temp views — restore
    the real fixture views after each test."""
    yield
    from sol_spark.tables import load_tables

    from conftest import SF_DIR

    load_tables(spark, SF_DIR)


def test_dedup_family_on_empty_corpus(spark, tmp_path, fresh_tables):
    from sol_spark.operators.dedup import dedup_exact, dedup_minhash_lsh
    from sol_spark.operators.text import text_stats

    _write_docs(tmp_path, [])
    sf = str(tmp_path)
    assert dedup_exact(spark, sf).count() == 0
    assert dedup_minhash_lsh(spark, sf).count() == 0
    assert text_stats(spark, sf).count() == 0


def test_dedup_family_on_single_document(spark, tmp_path, fresh_tables):
    from sol_spark.operators.dedup import (
        dedup_exact,
        dedup_minhash_lsh,
        dedup_simhash,
    )

    _write_docs(tmp_path, [(1, "the quick brown fox jumps over the lazy dog", "en", "web", 43)])
    sf = str(tmp_path)
    groups = dedup_exact(spark, sf).collect()  # one singleton content group
    assert len(groups) == 1 and groups[0]["n_copies"] == 1
    assert dedup_minhash_lsh(spark, sf).count() == 0
    assert dedup_simhash(spark, sf).count() == 0


def test_dedup_family_on_identical_mirrors(spark, tmp_path, fresh_tables):
    """Ten byte-identical copies: exact dedup reports one group of ten,
    MinHash scores every pair at exactly 10000 bp, and the CC keep-list
    keeps exactly the min id."""
    from sol_spark.operators.dedup import (
        dedup_exact,
        dedup_keep_list,
        dedup_minhash_lsh,
    )

    text = "same mirror page content served from ten hosts " * 4
    _write_docs(tmp_path, [(i, text, "en", f"host{i}", len(text)) for i in range(10)])
    sf = str(tmp_path)

    ex = dedup_exact(spark, sf).collect()
    assert len(ex) == 1 and ex[0]["n_copies"] == 10

    pairs = dedup_minhash_lsh(spark, sf).collect()
    assert len(pairs) == 45  # C(10, 2), transitively closed clique
    assert all(r["jaccard_bp"] == 10000 for r in pairs)

    keep = dedup_keep_list(spark, sf).collect()
    kept = [r for r in keep if r["keep"]]
    assert len(kept) == 1 and kept[0]["doc_id"] == 0


# Two distinct 3-word shingles whose 32-bit base hashes collide
# (substring(md5(s), 1, 8) = '46f22ca4' for both), found by an offline
# birthday search over ~1.3e5 random lowercase 3-word shingles.
_COLLIDING_SHINGLES = ("tepen wsu gcinpa", "nezewi uorht rnmtr")


def test_minhash_exact_under_shingle_hash_collision(spark, tmp_path, fresh_tables, monkeypatch):
    """The oracle keeps a document's colliding 32-bit shingle hashes as a
    multiset: n counts both, and the intersection is sum ca(h) * cb(h).
    Doc 1 holds both colliding shingles, doc 2 is its near-duplicate with
    only one of them, doc 3 an exact copy of doc 1 — so the pair plan's
    per-value product branch (not array_intersect) prices every pair, and
    the pair set and calibration audit must still equal their oracles."""
    import hashlib

    from pyspark.sql import functions as F

    from sol_spark import oracle
    from sol_spark.operators import dedup

    s1, s2 = _COLLIDING_SHINGLES
    assert s1 != s2
    assert hashlib.md5(s1.encode()).hexdigest()[:8] == hashlib.md5(s2.encode()).hexdigest()[:8]
    head = " ".join(f"alpha{i}" for i in range(20))
    mid = " ".join(f"beta{i}" for i in range(10))
    tail = " ".join(f"gamma{i}" for i in range(10))
    both = f"{head} {s1} {mid} {s2} {tail}"
    one = f"{head} {s1} {mid} other three words {tail}"
    _write_docs(
        tmp_path,
        [
            (1, both, "en", "web", len(both)),
            (2, one, "en", "web", len(one)),
            (3, both, "en", "web", len(both)),
            (4, "an unrelated short note about nothing much", "en", "web", 42),
        ],
    )
    sf = str(tmp_path)
    # The fixture dir holds only documents; the oracle needs no other table.
    monkeypatch.setattr(oracle, "TABLE_NAMES", ("documents",))
    agg = dedup._minhash_doc_agg(spark, sf)
    sizes = {
        r["doc_id"]: (r["n"], r["nd"])
        for r in agg.select("doc_id", "n", F.size(F.array_distinct("hs")).alias("nd")).collect()
    }
    assert sizes[1][0] == sizes[1][1] + 1 and sizes[3] == sizes[1]
    assert sizes[2][0] == sizes[2][1]
    for fn, sql in (
        (dedup.dedup_minhash_lsh, dedup.DEDUP_MINHASH_ORACLE),
        (dedup.dedup_minhash_calibration, dedup.MINHASH_CALIBRATION_ORACLE),
    ):
        df = fn(spark, sf)
        pairs = {(r["doc_a"], r["doc_b"]) for r in df.collect()}
        assert {(1, 2), (1, 3), (2, 3)} <= pairs, (fn.__name__, pairs)
        ok, msg = oracle.compare(df, sql, sf, exact=True)
        dedup.release_result(df)
        assert ok, f"{fn.__name__}: {msg}"


def test_similarity_on_empty_embeddings(spark, tmp_path, fresh_tables):
    from sol_spark.operators.similarity import sim_range_search, sim_topk_exact

    _write_embeddings(tmp_path, [])
    sf = str(tmp_path)
    assert sim_topk_exact(spark, sf).count() == 0
    assert sim_range_search(spark, sf).count() == 0
