"""Bloom filter: no false negatives, bounded false positives, exact
merge, and the join-pruning contract (pruned join == full join)."""

from pyspark.sql import functions as F

from osm_search_spark.functions import bloom


def _vals(spark, lo, hi, tag="m"):
    return spark.range(lo, hi).select(
        F.concat(F.lit(f"{tag}-"), F.col("id")).alias("v")
    )


def test_bloom_no_false_negatives_and_low_fp(spark):
    members = _vals(spark, 0, 2000)
    words = bloom.bloom_words(bloom.bloom_build(members, "v"))
    kept = members.filter(bloom.might_contain(words, "v")).count()
    assert kept == 2000  # every member passes, always
    others = _vals(spark, 0, 10_000, tag="x")
    fp = others.filter(bloom.might_contain(words, "v")).count()
    # expected fpr ~ 1.7e-4 at n=2000, m=2^16, k=4; allow generous slack
    assert fp < 100, fp


def test_bloom_merge_equals_union_exactly(spark):
    a, b = _vals(spark, 0, 1500), _vals(spark, 1000, 2500)
    merged = bloom.bloom_merge(
        bloom.bloom_build(a, "v"), bloom.bloom_build(b, "v")
    )
    union = bloom.bloom_build(a.unionAll(b), "v")
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, union.collect())
    )


def test_bloom_join_pruning_preserves_join(spark):
    # big side pruned by the small side's bloom must give the SAME join
    # result, while scanning far fewer rows into the join
    small = _vals(spark, 500, 600)
    big = _vals(spark, 0, 50_000).select(
        F.col("v"), (F.length("v") + 0).alias("payload")
    )
    words = bloom.bloom_words(bloom.bloom_build(small, "v"))
    full = sorted(map(tuple, big.join(small, "v").collect()))
    pruned_side = big.filter(bloom.might_contain(words, "v"))
    pruned_n = pruned_side.count()
    pruned = sorted(map(tuple, pruned_side.join(small, "v").collect()))
    assert pruned == full and len(full) == 100
    assert pruned_n < 500  # ~100 matches + a handful of false positives


def test_bloom_prune_engine_parity(spark, monkeypatch):
    # the arrow kernel (broadcast word array) must keep EXACTLY the rows
    # the literal Column kernel keeps — same hashes, same words
    members = _vals(spark, 0, 1000)
    words = bloom.bloom_words(bloom.bloom_build(members, "v"))
    probe = _vals(spark, 0, 5000, tag="x").unionAll(_vals(spark, 0, 300))
    col_rows = sorted(
        r["v"] for r in bloom.bloom_prune(probe, words, "v").collect()
    )
    monkeypatch.setattr(bloom, "_ARROW_WORD_THRESHOLD", 0)
    arrow_rows = sorted(
        r["v"] for r in bloom.bloom_prune(probe, words, "v").collect()
    )
    assert col_rows == arrow_rows and len(col_rows) >= 300


def test_bloom_prune_auto_picks_arrow_past_threshold(spark):
    from tests.test_plans import plan_str

    probe = _vals(spark, 0, 10)
    n = bloom._ARROW_WORD_THRESHOLD
    at = plan_str(bloom.bloom_prune(probe, [0] * n, "v", m_bits=30 * n))
    past = plan_str(
        bloom.bloom_prune(probe, [0] * (n + 1), "v", m_bits=30 * (n + 1))
    )
    assert "MapInPandas" not in at
    assert "MapInPandas" in past


def test_bloom_prune_large_m_arrow(spark):
    # m = 2^24 (559k words): impossible as plan literals, fine broadcast.
    # No false negatives; FP rate should be tiny at n=2000, m=2^24, k=4.
    m = 1 << 24
    members = _vals(spark, 0, 2000)
    words = bloom.bloom_words(bloom.bloom_build(members, "v", m_bits=m), m)
    kept = bloom.bloom_prune(members, words, "v", m_bits=m).count()
    assert kept == 2000
    others = _vals(spark, 0, 20_000, tag="x")
    fp = bloom.bloom_prune(others, words, "v", m_bits=m).count()
    assert fp <= 2, fp
