"""Plan shape of the LSH pair family (minhash / simhash / embedding
near-dups): the ``capped_bucket_pairs`` contract at its boundaries, the
exact-dup collapse + re-expansion against the uncollapsed plan, the
per-call Spark job budget, and ``fan_out`` deciding its width without
running a job.
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


@pytest.fixture(scope="module")
def spark():
    from webpeel_spark.session import get_spark

    s = get_spark(app_name="test-dedup-plan", cores=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s


def _jobs(spark, group, fn):
    """(fn(), number of Spark jobs fn started), counted by job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setJobGroup("idle", "idle")
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


# ── capped_bucket_pairs boundaries ───────────────────────────────────────

def _keyed(spark, rows, cols="id long, k long"):
    return spark.createDataFrame(rows, cols)


def test_bucket_of_exactly_cap_is_kept_cap_plus_one_dropped(spark):
    from webpeel_spark.operators.dedup import capped_bucket_pairs

    cap = 4
    rows = [(i, 0) for i in range(cap)] + [(10 + i, 1) for i in range(cap + 1)]
    metrics = {}
    got = capped_bucket_pairs(_keyed(spark, rows), ["k"], cap,
                              metrics=metrics).collect()
    assert sorted((r["id_a"], r["id_b"]) for r in got) == [
        (a, b) for a in range(cap) for b in range(a + 1, cap)]
    assert metrics == {"dropped_buckets": 1, "dropped_rows": cap + 1,
                       "max_dropped_bucket": cap + 1}


def test_singleton_bucket_emits_nothing(spark):
    from webpeel_spark.operators.dedup import capped_bucket_pairs

    metrics = {}
    got = capped_bucket_pairs(_keyed(spark, [(1, 0), (2, 1), (3, 2)]),
                              ["k"], 10, metrics=metrics).collect()
    assert got == []
    assert metrics["dropped_buckets"] == 0 and metrics["dropped_rows"] == 0


def test_pair_sharing_several_buckets_is_emitted_once(spark):
    from webpeel_spark.operators.dedup import capped_bucket_pairs

    # ids 1 and 2 collide in three (band, bucket) keys; 3 joins them in one
    rows = [(1, b, 7) for b in range(3)] + [(2, b, 7) for b in range(3)] \
        + [(3, 0, 7), (3, 1, 8)]
    keyed = _keyed(spark, rows, "id long, band int, bucket long")
    got = capped_bucket_pairs(keyed, ["band", "bucket"], 10).collect()
    assert sorted((r["id_a"], r["id_b"]) for r in got) == [
        (1, 2), (1, 3), (2, 3)]


def test_extra_cols_filter_and_project_rows(spark):
    from pyspark.sql import functions as F

    from webpeel_spark.operators.dedup import capped_bucket_pairs

    rows = [(1, 0, 10), (2, 0, 20), (3, 0, 30), (4, 1, 40), (5, 1, 41),
            (6, 2, 5)]
    keyed = _keyed(spark, rows, "id long, k long, v long")

    plain = capped_bucket_pairs(keyed, ["k"], 10, extra_cols=["v"])
    assert plain.columns == ["id_a", "id_b", "v_a", "v_b"]
    assert sorted(tuple(r) for r in plain.collect()) == [
        (1, 2, 10, 20), (1, 3, 10, 30), (2, 3, 20, 30), (4, 5, 40, 41)]

    gap = F.abs(F.col("v_a") - F.col("v_b"))
    filtered = capped_bucket_pairs(keyed, ["k"], 10, extra_cols=["v"],
                                   pair_filter=gap <= 10)
    assert sorted(tuple(r) for r in filtered.collect()) == [
        (1, 2, 10, 20), (2, 3, 20, 30), (4, 5, 40, 41)]

    projected = capped_bucket_pairs(keyed, ["k"], 10, extra_cols=["v"],
                                    pair_filter=gap <= 10,
                                    pair_project=[gap.alias("gap")])
    assert projected.columns == ["id_a", "id_b", "gap"]
    assert sorted(tuple(r) for r in projected.collect()) == [
        (1, 2, 10), (2, 3, 10), (4, 5, 1)]


# ── exact-dup collapse + re-expansion ≡ the uncollapsed plan ─────────────

_WORDS = ("spark window merge table column vector stream value data join "
          "filter hash sort order row key").split()


@st.composite
def _dup_corpus(draw):
    """(doc_id, text) rows: a few random texts, each planted as an
    exact-dup group of 2–5 copies or left single, ids shuffled."""
    texts = draw(st.lists(
        st.lists(st.sampled_from(_WORDS), min_size=3, max_size=14)
        .map(" ".join), min_size=2, max_size=6))
    copies = [draw(st.integers(2, 5))] + [
        draw(st.integers(1, 5)) for _ in texts[1:]]
    docs = [t for t, c in zip(texts, copies) for _ in range(c)]
    ids = draw(st.permutations(range(len(docs))))
    return [(int(i), t) for i, t in zip(ids, docs)]


@settings(max_examples=4, deadline=None,
          suppress_health_check=[HealthCheck.too_slow,
                                 HealthCheck.function_scoped_fixture])
@given(rows=_dup_corpus())
def test_collapse_exact_matches_uncollapsed_plan(spark, rows):
    """Collapsing exact-dup groups to one representative and expanding
    the pairs back must give exactly the pairs (and values) the plan
    without the collapse finds.  The corpora hold at most 30 docs, far
    under either operator's bucket cap."""
    from webpeel_spark.operators.dedup import (minhash_near_duplicates,
                                               simhash_near_duplicates)

    from itertools import combinations

    df = spark.createDataFrame(rows, "doc_id long, text string")
    groups = {}
    for i, t in rows:
        groups.setdefault(t, []).append(i)
    for op, kw, col, same in ((minhash_near_duplicates,
                               {"min_jaccard": 0.3}, "jaccard", 1.0),
                              (simhash_near_duplicates,
                               {"max_hamming": 6}, "hamming", 0)):
        got = {}
        for collapse in (True, False):
            out = op(df, collapse_exact=collapse, **kw).collect()
            got[collapse] = sorted((r["id_a"], r["id_b"], r[col])
                                   for r in out)
        assert got[True] == got[False], op.__name__
        # every planted group's within pairs are present
        within = {(a, b, same) for ids in groups.values()
                  for a, b in combinations(sorted(ids), 2)}
        assert within and within <= set(got[True]), op.__name__


def test_collapse_keeps_every_null_text_doc(spark):
    """NULL texts form one exact-dup group like any other text.  The
    collapse used to give them no group at all, so every NULL-text doc
    but the smallest id vanished from the pairs (here (1, 2) and
    (2, 3)), unlike the uncollapsed plan, which reads NULL as ''."""
    from webpeel_spark.operators.dedup import (minhash_near_duplicates,
                                               simhash_near_duplicates)

    df = spark.createDataFrame(
        [(1, None), (2, None), (3, ""), (4, "a b c d"), (5, "a b c d")],
        "doc_id long, text string")
    for op, kw in ((minhash_near_duplicates, {"min_jaccard": 0.5}),
                   (simhash_near_duplicates, {"max_hamming": 3})):
        got = {c: sorted((r["id_a"], r["id_b"])
                         for r in op(df, collapse_exact=c, **kw).collect())
               for c in (True, False)}
        assert got[True] == got[False] == [(1, 2), (1, 3), (2, 3), (4, 5)], \
            op.__name__


# ── Spark job budget per call ────────────────────────────────────────────

# Jobs one call starts on _budget_corpus (exact-dup groups included):
# the plan measured 6 for either operator — the md5 exchange of the
# texts, the member map's narrow md5 exchange, the band window
# exchange, the pair-dedupe exchange, the member-map broadcast, then
# the checkpoint's own job — plus the caller's collect (7 in all).
# The previous plan ran 40+.  The margin of 2 leaves room for an AQE
# decision to differ across Spark patch releases, not for a new stage.
_JOB_BUDGET = 7 + 2


def _budget_corpus(spark):
    base = ("the quick brown fox jumps over the lazy dog while the sun "
            "shines bright over the green hills and the river runs south")
    rows = [(i, f"unique document {i} " + base) for i in range(30)]
    rows += [(100 + i, rows[i][1]) for i in range(5)]          # exact dups
    rows += [(105 + i, rows[0][1]) for i in range(3)]          # a group of 5
    rows += [(200, base.replace("bright", "brightly"))]
    return spark.createDataFrame(rows, "doc_id long, text string")


@pytest.mark.parametrize("op,kw", [
    ("minhash_near_duplicates", {"min_jaccard": 0.7}),
    ("simhash_near_duplicates", {"max_hamming": 6}),
])
def test_lsh_call_job_budget(spark, op, kw):
    import webpeel_spark.operators.dedup as dedup

    df = _budget_corpus(spark)
    fn = getattr(dedup, op)
    fn(df, **kw).collect()  # warm: first-call planning is not the point
    rows, jobs = _jobs(spark, f"budget:{op}",
                       lambda: fn(df, **kw).collect())
    assert rows, "the fixture must produce pairs"
    assert jobs <= _JOB_BUDGET, f"{op} ran {jobs} Spark jobs"


# ── fan_out decides its width without a job ──────────────────────────────

def test_fan_out_starts_no_job(spark, tmp_path):
    from pyspark.sql import functions as F

    from webpeel_spark.plans.partitioning import fan_out

    want = spark.sparkContext.defaultParallelism * 2
    path = str(tmp_path / "one_split")
    spark.range(50).select("id", F.col("id").cast("string").alias("t")) \
        .coalesce(1).write.parquet(path)
    scan = spark.read.parquet(path)
    shuffled = scan.groupBy((F.col("id") % 7).alias("k")).count()
    cached = scan.select("id").persist()
    try:
        for name, df in (("scan", scan), ("shuffled", shuffled),
                         ("cached", cached)):
            out, jobs = _jobs(spark, f"fan_out:{name}", lambda: fan_out(df))
            assert jobs == 0, f"fan_out on a {name} input ran {jobs} jobs"
            assert out.rdd.getNumPartitions() >= want, name
        # a scan that is already wide enough is left as it is
        wide = scan.repartition(want).localCheckpoint()
        out, jobs = _jobs(spark, "fan_out:wide", lambda: fan_out(wide))
        assert jobs == 0 and out is wide
    finally:
        cached.unpersist()
