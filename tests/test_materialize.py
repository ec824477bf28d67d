"""plans/materialize.py: the persist-vs-written-table knob.

Operators materialize a multiply-consumed intermediate via
``cache_intermediate``; with ``SPARK_GRAFT_SPILL_DIR`` set those land
as parquet tables instead of executor-cache blocks (the documented
10^12-row configuration).  Results must be identical either way, and
the spill mode must actually write tables.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def spark():
    from webpeel_spark.session import get_spark

    s = get_spark(app_name="test-materialize", cores=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


def _corpus(spark):
    base = ("the quick brown fox jumps over the lazy dog while the sun "
            "shines bright over the green hills and the river runs south")
    rows = [(i, f"unique document {i} " + base) for i in range(30)]
    rows += [(100 + i, rows[i][1]) for i in range(5)]          # exact dups
    rows += [(200, base.replace("bright", "brightly"))]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _vectors(spark):
    import numpy as np

    rng = np.random.default_rng(3)
    vecs = rng.standard_normal((40, 16)).astype("float32")
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(40)]
    rows += [(100 + i, [float(x) * 0.5 for x in vecs[i]]) for i in range(5)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def _run_all(spark):
    from webpeel_spark.operators.dedup import connected_components, \
        minhash_near_duplicates, simhash_near_duplicates
    from webpeel_spark.operators.similarity import \
        cosine_near_duplicate_pairs

    docs, vecs = _corpus(spark), _vectors(spark)
    mh = {(r["id_a"], r["id_b"])
          for r in minhash_near_duplicates(docs, min_jaccard=0.7).collect()}
    sh = {(r["id_a"], r["id_b"])
          for r in simhash_near_duplicates(docs, max_hamming=6).collect()}
    emb = {(r["id_a"], r["id_b"]): round(r["cosine"], 6)
           for r in cosine_near_duplicate_pairs(
               vecs, threshold=0.99, tables=6).collect()}
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long")
    verts = spark.createDataFrame(
        [(i,) for i in (1, 2, 3, 10, 11, 99)], "id long")
    cc = {(r["id"], r["cluster"])
          for r in connected_components(edges, verts).collect()}
    return mh, sh, emb, cc


def test_spill_mode_matches_persist_mode(spark, tmp_path, monkeypatch):
    cached = _run_all(spark)

    spill = tmp_path / "spill"
    spill.mkdir()
    monkeypatch.setenv("SPARK_GRAFT_SPILL_DIR", str(spill))
    spilled = _run_all(spark)
    monkeypatch.delenv("SPARK_GRAFT_SPILL_DIR")

    assert spilled == cached
    # the intermediates really became tables: one per cache site that
    # executed (srp vectors).  minhash and simhash run as one query
    # each and cache nothing, and the srp bucket table is read once
    written = sorted(p.name for p in spill.iterdir())
    assert any(n.startswith("srp_vectors") for n in written)
    assert not any(n.startswith(("minhash_sigs", "simhash_sigs",
                                 "exact_collapse_groups", "srp_buckets"))
                   for n in written)
    # the iterative path takes the RELIABLE-checkpoint branch
    assert any(n.startswith("cc_labels_init") for n in written)
    assert any(n.startswith("cc_labels_r0") for n in written)
    for n in written:
        assert any(f.endswith(".parquet") or f == "_SUCCESS"
                   for f in os.listdir(spill / n))


def test_counter_paths_never_collide(spark, tmp_path, monkeypatch):
    from webpeel_spark.plans.materialize import cache_intermediate

    monkeypatch.setenv("SPARK_GRAFT_SPILL_DIR", str(tmp_path))
    df = spark.range(10)
    a = cache_intermediate(df, "same_name")
    b = cache_intermediate(df, "same_name")   # second call, same name
    assert a.count() == b.count() == 10
    names = [p.name for p in tmp_path.iterdir()
             if p.name.startswith("same_name")]
    assert len(names) == 2 and len(set(names)) == 2
