"""Benchmark decontamination: planted-contamination detection, prune
answer invariance (Bloom literal + arrow kernels vs the unpruned join),
doc-level flags, and the winnowing-variant guarantee."""

import pytest
from pyspark.sql import functions as F

from osm_search_spark.operators.decontaminate import (
    decontaminate,
    decontaminate_flags,
    decontaminate_winnow,
)

RUN = "alpha bravo charlie delta echo foxtrot golf hotel india juliett kilo lima mike"  # 13 tokens


@pytest.fixture()
def corpus_bench(spark):
    docs = spark.createDataFrame(
        [
            (1, f"intro words here {RUN} trailing words after"),
            (2, "totally unrelated text with none of those tokens at all "
                "padded out to a reasonable benchmark-free length"),
            (3, f"prefix {RUN} also copied but by another doc"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [
            (100, f"benchmark question one {RUN} benchmark answer"),
            (101, "a clean benchmark item sharing nothing with the corpus"),
        ],
        "bench_id long, text string",
    )
    return docs, bench


def test_planted_contamination_flagged(spark, corpus_bench):
    docs, bench = corpus_bench
    got = {
        (r["doc_id"], r["bench_id"]): r["n_collisions"]
        for r in decontaminate(docs, bench, n=13).collect()
    }
    # the copied 13-token run is exactly one 13-gram
    assert got == {(1, 100): 1, (3, 100): 1}


def test_prune_modes_answer_invariant(spark, corpus_bench, monkeypatch):
    from osm_search_spark.functions import bloom

    docs, bench = corpus_bench

    def run():
        return sorted(map(tuple, decontaminate(docs, bench, n=13).collect()))

    literal = run()  # auto m is small: the literal kernel
    monkeypatch.setattr(bloom, "_ARROW_WORD_THRESHOLD", 0)
    arrow = run()
    # reference: the collision join with no prune at all
    monkeypatch.setattr(bloom, "bloom_prune", lambda df, *a, **kw: df)
    base = run()
    assert literal == base
    assert arrow == base


def test_collision_count_is_distinct_shared_grams(spark):
    # a 15-token copied run shares 15-13+1 = 3 distinct 13-grams
    run15 = RUN + " nov osc"
    docs = spark.createDataFrame(
        [(1, f"x y {run15} z")], "doc_id long, text string"
    )
    bench = spark.createDataFrame(
        [(9, f"q {run15} a b")], "bench_id long, text string"
    )
    [row] = decontaminate(docs, bench, n=13).collect()
    assert (row["doc_id"], row["bench_id"], row["n_collisions"]) == (1, 9, 3)


def test_flags_cover_every_doc(spark, corpus_bench):
    docs, bench = corpus_bench
    got = {
        r["doc_id"]: (r["contaminated"], r["n_bench_matches"])
        for r in decontaminate_flags(docs, bench, n=13).collect()
    }
    assert got == {1: (True, 1), 2: (False, 0), 3: (True, 1)}


def test_heavy_gram_cap_drops_boilerplate(spark):
    # a gram in EVERY benchmark doc is boilerplate: with the cap at 2 it
    # stops matching; the unique gram still does
    boiler = "common license header words repeated across the entire set x"
    docs = spark.createDataFrame(
        [(1, f"pad {boiler} pad2"), (2, f"pad {RUN} pad2")],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100 + i, f"q{i} {boiler} a{i}") for i in range(3)]
        + [(200, f"q {RUN} a")],
        "bench_id long, text string",
    )
    n = 10
    capped = decontaminate(docs, bench, n=n, max_gram_bench_docs=2).collect()
    assert {r["doc_id"] for r in capped} == {2}
    uncapped = decontaminate(docs, bench, n=n, max_gram_bench_docs=None).collect()
    assert {r["doc_id"] for r in uncapped} == {1, 2}


def test_winnow_variant_guarantee(spark):
    # shared run of >= w + k - 1 = 8 tokens guarantees a shared fingerprint
    run8 = "w1 w2 w3 w4 w5 w6 w7 w8"
    docs = spark.createDataFrame(
        [(1, f"aa bb cc {run8} dd ee"), (2, "no overlap at all here zz yy")],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(5, f"qq {run8} rr ss")], "bench_id long, text string"
    )
    got = decontaminate_winnow(docs, bench, k=5, w=4).collect()
    assert {(r["doc_id"], r["bench_id"]) for r in got} == {(1, 5)}
    assert all(r["n_shared_fps"] >= 1 for r in got)


def test_excision_removes_planted_span_only(spark):
    from osm_search_spark.operators.decontaminate import decontaminate_excise

    pre, post = "intro words here and", "trailing words after that"
    docs = spark.createDataFrame(
        [(1, f"{pre} {RUN} {post}"),
         (2, "completely clean document with no overlap at all")],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, f"benchmark question {RUN} answer")],
        "bench_id long, text string",
    )
    out = {
        r["doc_id"]: (r["text_clean"], r["n_tokens_removed"])
        for r in decontaminate_excise(docs, bench, n=13).collect()
    }
    # exactly the 13 planted tokens vanish; surrounding text survives in order
    assert out[1] == (f"{pre} {post}", 13)
    assert out[2] == ("completely clean document with no overlap at all", 0)


def test_excision_overlapping_matches_cover_union(spark):
    from osm_search_spark.operators.decontaminate import decontaminate_excise

    run15 = RUN + " nov osc"  # 15 tokens -> three overlapping 13-grams
    docs = spark.createDataFrame(
        [(1, f"aa bb {run15} cc dd")], "doc_id long, text string"
    )
    bench = spark.createDataFrame(
        [(9, f"q {run15} r")], "bench_id long, text string"
    )
    [(clean, removed)] = [
        (r["text_clean"], r["n_tokens_removed"])
        for r in decontaminate_excise(docs, bench, n=13).collect()
    ]
    # the union of the three overlapping grams is the whole 15-token run
    assert clean == "aa bb cc dd" and removed == 15


class TestDedupSpans:
    """Exact substring self-dedup (Lee et al. 2022 span protocol)."""

    def _run(self, spark, rows, n):
        from osm_search_spark.operators.dedup import dedup_spans

        df = spark.createDataFrame(rows, "doc_id long, text string")
        return {
            r["doc_id"]: (r["text_clean"], r["n_tokens_removed"])
            for r in dedup_spans(df, n=n).collect()
        }

    def test_cross_doc_copy_excised_first_kept(self, spark):
        run = "a b c d e"
        rows = [
            (1, f"intro {run} outro"),
            (2, f"other words then {run} tail bit"),
            (3, "totally unrelated text here"),
        ]
        got = self._run(spark, rows, n=5)
        # doc 1 owns the first occurrence: untouched (normalized)
        assert got[1] == (f"intro {run} outro", 0)
        # doc 2's copy excised: exactly the 5 covered tokens removed
        assert got[2] == ("other words then tail bit", 5)
        assert got[3] == ("totally unrelated text here", 0)

    def test_within_doc_repeat_excised(self, spark):
        run = "p q r s"
        rows = [(7, f"{run} filler words {run}")]
        got = self._run(spark, rows, n=4)
        assert got[7] == (f"{run} filler words", 4)

    def test_overlapping_duplicate_grams_union_cover(self, spark):
        # doc 2 copies a 6-token run; with n=5 the two overlapping dup
        # 5-grams cover the union (6 tokens), not 10
        run = "u v w x y z"
        rows = [(1, f"{run} first"), (2, f"copy of {run} here")]
        got = self._run(spark, rows, n=5)
        assert got[2] == ("copy of here", 6)
        assert got[1] == (f"{run} first", 0)

    def test_short_doc_passes_through(self, spark):
        rows = [(1, "Too short"), (2, "too short")]
        got = self._run(spark, rows, n=5)
        # below n tokens: no grams, normalized identity
        assert got[1] == ("too short", 0)
        assert got[2] == ("too short", 0)

    def test_fully_duplicated_doc_emptied(self, spark):
        t = "m n o p q"
        got = self._run(spark, [(1, t), (2, t)], n=5)
        assert got[1] == (t, 0)
        assert got[2] == ("", 5)
