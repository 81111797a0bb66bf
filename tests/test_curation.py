"""Deterministic splits + PII redaction (operators/curation.py)."""

import pytest
from pyspark.sql import functions as F

from osm_search_spark.operators import curation


def test_split_deterministic_and_growth_stable(spark):
    """A document's split never changes with corpus size, ordering, or
    partitioning — the property hash-splits exist for."""
    small = spark.range(0, 1000).withColumnRenamed("id", "doc_id")
    big = spark.range(0, 5000, 1, 7).withColumnRenamed("id", "doc_id")
    s1 = {r["doc_id"]: r["split"] for r in curation.assign_split(small).collect()}
    s2 = {r["doc_id"]: r["split"] for r in curation.assign_split(big).collect()}
    assert all(s2[k] == v for k, v in s1.items())


def test_split_proportions(spark):
    df = curation.assign_split(
        spark.range(0, 20000).withColumnRenamed("id", "doc_id")
    )
    frac = {
        r["split"]: r["n"] / 20000
        for r in df.groupBy("split").agg(F.count("*").alias("n")).collect()
    }
    assert abs(frac["train"] - 0.8) < 0.02
    assert abs(frac["val"] - 0.1) < 0.01
    assert abs(frac["test"] - 0.1) < 0.01


def test_split_weights_validated(spark):
    df = spark.range(3).withColumnRenamed("id", "doc_id")
    with pytest.raises(ValueError):
        curation.assign_split(df, weights={"train": 0.5, "test": 0.4})
    with pytest.raises(ValueError, match="empty bucket range"):
        curation.assign_split(
            df, weights={"train": 0.99995, "test": 0.00005}
        )


def test_redact_pii_cases(spark):
    rows = [
        (1, "mail me at jane.doe+x@sub.example.co.uk today"),
        (2, "acct 1234567890123 and short 12345 stay"),
        (3, "two: a@b.io c.d@e-f.org"),
        (4, "clean text"),
    ]
    df = spark.createDataFrame(rows, "id long, t string")
    got = {
        r["id"]: r["c"]
        for r in df.select("id", curation.redact_pii("t").alias("c")).collect()
    }
    assert got[1] == "mail me at <EMAIL> today"
    assert got[2] == "acct <NUM> and short 12345 stay"
    assert got[3] == "two: <EMAIL> <EMAIL>"
    assert got[4] == "clean text"


def test_gopher_quality_battery(spark):
    from pyspark.sql import functions as F

    from osm_search_spark.functions.text import (
        gopher_keep,
        gopher_quality_features,
    )

    good = " ".join(
        ["the quick brown fox jumps over all of those lazy dogs and cats"]
        * 5
    ) + " we have fun with that"
    dup_lines = "\n".join(["same line here"] * 8 + ["unique one now"] * 2)
    bullets = "\n".join(f"- item {i}" for i in range(10))
    symbols = " ".join(["###"] * 30 + ["word"] * 30)
    short = "too short"
    docs = spark.createDataFrame(
        [(0, good), (1, dup_lines), (2, bullets), (3, symbols), (4, short)],
        "doc_id long, text string",
    )
    feats = gopher_quality_features(F.col("text"))
    out = {
        r["doc_id"]: r
        for r in docs.select(
            "doc_id",
            feats["n_words"].alias("n_words"),
            feats["dup_line_frac"].alias("dlf"),
            feats["dup_line_char_frac"].alias("dlcf"),
            feats["bullet_line_frac"].alias("blf"),
            feats["symbol_word_ratio"].alias("swr"),
            feats["n_req_stopwords"].alias("req"),
            gopher_keep(feats).alias("keep"),
        ).collect()
    }
    assert out[0]["keep"] is True
    assert out[0]["req"] >= 4
    # 8 copies of one line -> 7 duplicated of 10 occurrences
    assert abs(out[1]["dlf"] - 8 / 10) < 1e-9  # (10 - 2 distinct)/10
    # duplicated chars: 7 * len("same line here") + 1 * len("unique one now")
    tot = 8 * 14 + 2 * 14
    assert abs(out[1]["dlcf"] - (7 * 14 + 1 * 14) / tot) < 1e-9
    assert out[1]["keep"] is False  # dup lines + too few words
    assert out[2]["blf"] == 1.0 and out[2]["keep"] is False
    assert out[3]["swr"] >= 1.0 and out[3]["keep"] is False
    assert out[4]["n_words"] == 2 and out[4]["keep"] is False


def test_gopher_repetition_features_and_keep(spark):
    from pyspark.sql import functions as F

    from osm_search_spark.operators.curation import (
        gopher_repetition_features,
        gopher_repetition_keep,
    )

    rep = " ".join(["spam ham"] * 20)  # one bigram dominating everything
    # 60 distinct words: the published thresholds assume the >=50-word
    # filter already passed (a short doc's single top trigram alone can
    # exceed 18% of its characters)
    clean = " ".join(f"word{i:02d}" for i in range(60))
    docs = spark.createDataFrame(
        [(0, rep), (1, clean)], "doc_id long, text string"
    )
    feats = gopher_repetition_features(docs)
    rows = {(r["doc_id"], r["n"]): r for r in feats.collect()}
    # doc 0: "spam ham" bigram occurs 20x; "ham spam" 19x. top bigram
    # covers 20 * 8 = 160 of 179 chars
    assert abs(rows[(0, 2)]["top_char_frac"] - round(160 / 179, 6)) < 1e-9
    # dup chars at n=2: (20-1)*8 + (19-1)*8 = 296 of 179 chars (>1: the
    # occurrences-beyond-first convention counts overlapping grams)
    assert abs(rows[(0, 2)]["dup_char_frac"] - round(296 / 179, 6)) < 1e-9
    # clean doc: every bigram unique -> dup 0, top tiny
    assert rows[(1, 2)]["dup_char_frac"] == 0.0
    assert rows[(1, 2)]["top_char_frac"] < 0.2
    keep = {
        r["doc_id"]: r["keep_repetition"]
        for r in gopher_repetition_keep(feats).collect()
    }
    assert keep == {0: False, 1: True}


def test_c4_clean_line_rules(spark):
    from pyspark.sql import functions as F

    from osm_search_spark.functions.text import c4_clean

    page = "\n".join(
        [
            "This is a proper sentence with enough words.",  # kept
            "Short one.",                                    # < 3 words
            "no terminal punctuation here at all",           # no punct
            "Enable javascript to view this content.",       # javascript
            'He said "stop right there."',                   # kept
            "Another good sentence ends here!",              # kept
            "Is this a question with many words?",           # kept
            "And one more sentence to pass the bar.",        # kept
        ]
    )
    docs = spark.createDataFrame(
        [(0, page),
         (1, page + "\nlorem ipsum dolor sit amet."),
         (2, page.replace("stop", "{stop}")),
         (3, "one good sentence only right here.")],
        "doc_id long, text string",
    )
    c = c4_clean(F.col("text"))
    out = {
        r["doc_id"]: r
        for r in docs.select(
            "doc_id", *(c[k].alias(k) for k in c)
        ).collect()
    }
    assert out[0]["n_lines_total"] == 8 and out[0]["n_lines_kept"] == 5
    kept_lines = out[0]["cleaned_text"].split("\n")
    assert len(kept_lines) == 5
    assert all("javascript" not in line.lower() for line in kept_lines)
    assert out[0]["n_sentences"] >= 5 and out[0]["keep_page"] is True
    assert out[1]["keep_page"] is False  # lorem ipsum
    assert out[2]["keep_page"] is False  # curly brace
    assert out[3]["keep_page"] is False  # < 5 sentences


def test_deterministic_sample_stability(spark):
    from osm_search_spark.operators.curation import deterministic_sample

    docs = spark.range(1000).withColumnRenamed("id", "doc_id")
    kept = {r["doc_id"] for r in deterministic_sample(docs, 0.3).collect()}
    # roughly the requested rate
    assert 0.25 < len(kept) / 1000 < 0.35
    # growing the corpus never changes old membership
    grown = spark.range(2000).withColumnRenamed("id", "doc_id")
    kept2 = {r["doc_id"] for r in deterministic_sample(grown, 0.3).collect()}
    assert {k for k in kept2 if k < 1000} == kept
    # rate bounds validated
    import pytest as _pytest

    with _pytest.raises(ValueError):
        deterministic_sample(docs, 1.5)


def test_pack_sequences_offsets_and_chunks(spark, set_conf):
    from osm_search_spark.operators.curation import pack_sequences

    docs = spark.createDataFrame(
        [(i, " ".join(["w"] * (3 + i % 5))) for i in range(200)],
        "doc_id long, text string",
    )
    # offsets must not depend on the range layout: 7 vs 64 range
    # partitions, and those 64 after AQE coalesces adjacent ones (a
    # 256-byte target merges them into 22 uneven groups)
    set_conf("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
    set_conf("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1b")
    set_conf("spark.sql.adaptive.advisoryPartitionSizeInBytes", "256b")
    layouts = []
    for n, coalesce in ((7, "false"), (64, "false"), (64, "true")):
        set_conf("spark.sql.shuffle.partitions", n)
        set_conf("spark.sql.adaptive.coalescePartitions.enabled", coalesce)
        layouts.append(sorted(
            (r["doc_id"], r["n_tokens"], r["tok_offset"], r["chunk_first"], r["chunk_last"])
            for r in pack_sequences(docs, budget=16).collect()
        ))
    out = layouts[0]
    assert layouts[1] == layouts[2] == out
    # offsets are the exact prefix sums in doc_id order (range partition +
    # local window must reproduce the single-stream cumsum)
    acc = 0
    for doc_id, n, off, cf, cl in out:
        assert off == acc, (doc_id, off, acc)
        assert cf == off // 16
        assert cl == max((off + n - 1) // 16, cf)
        acc += n
    # a doc straddling a budget boundary spans two chunks
    assert any(cl > cf for _, _, _, cf, cl in out)


def test_dedup_lines_first_occurrence_order(spark):
    from pyspark.sql import functions as F

    from osm_search_spark.functions.text import dedup_lines

    page = "\n".join(["nav bar", "real content one", "nav bar",
                      "real content two", "footer", "footer", "nav bar"])
    docs = spark.createDataFrame([(0, page)], "doc_id long, text string")
    [row] = docs.select(dedup_lines(F.col("text")).alias("c")).collect()
    assert row["c"] == "nav bar\nreal content one\nreal content two\nfooter"


def test_perplexity_filter_flags_gibberish(spark):
    """Planted gibberish (unique unseen token soup) must land in the low
    avg_log_prob tail relative to formulaic corpus text, and the
    keep_quantile flag must drop exactly the below-cutoff docs."""
    normal = [
        (i, "the quick brown fox jumps over the lazy dog every day")
        for i in range(40)
    ]
    gibberish = [
        (100 + i, f"zxq{i}v wplk{i}j qmfr{i}x ggth{i}b nnvc{i}d")
        for i in range(4)
    ]
    docs = spark.createDataFrame(normal + gibberish, "doc_id long, text string")
    scored = curation.perplexity_filter(docs).collect()
    by_id = {r["doc_id"]: r["avg_log_prob"] for r in scored}
    assert len(by_id) == 44
    worst_normal = min(v for k, v in by_id.items() if k < 100)
    best_gibberish = max(v for k, v in by_id.items() if k >= 100)
    assert best_gibberish < worst_normal
    kept = curation.perplexity_filter(docs, keep_quantile=0.09).collect()
    flags = {r["doc_id"]: r["keep"] for r in kept}
    assert all(not flags[100 + i] for i in range(4))
    assert sum(flags.values()) >= 38


def test_perplexity_filter_empty_and_single_token_docs(spark):
    """Degenerate docs still score: an empty doc has exactly one scored
    position (</s>); no position explodes a descending sequence."""
    docs = spark.createDataFrame(
        [(1, ""), (2, "word"), (3, "a b")], "doc_id long, text string"
    )
    rows = {r["doc_id"]: r for r in curation.perplexity_filter(docs).collect()}
    assert rows[1]["n_scored"] == 1
    assert rows[2]["n_scored"] == 2
    assert rows[3]["n_scored"] == 3
    for r in rows.values():
        assert r["log_prob"] is not None


class TestMixSources:
    def _df(self, spark, n=400):
        rows = [
            (i, f"src{i % 4}", f"text {i}") for i in range(n)
        ]
        return spark.createDataFrame(rows, "doc_id long, source string, text string")

    def test_integer_weight_exact_copies(self, spark):
        from osm_search_spark.operators.curation import mix_sources

        out = mix_sources(self._df(spark), {"src0": 3.0}, default_weight=1.0)
        per = {
            r["source"]: r["n"]
            for r in out.groupBy("source").agg(F.count("*").alias("n")).collect()
        }
        assert per["src0"] == 300  # 100 docs x 3 copies
        assert per["src1"] == per["src2"] == per["src3"] == 100
        idx = out.filter(F.col("source") == "src0").groupBy("doc_id").agg(
            F.sort_array(F.collect_list("copy_idx")).alias("c")
        )
        assert all(r["c"] == [1, 2, 3] for r in idx.collect())

    def test_zero_weight_drops_source(self, spark):
        from osm_search_spark.operators.curation import mix_sources

        out = mix_sources(self._df(spark), {"src2": 0.0})
        assert out.filter(F.col("source") == "src2").count() == 0
        assert out.filter(F.col("source") == "src1").count() == 100

    def test_fractional_weight_rate_and_stability(self, spark):
        from osm_search_spark.operators.curation import mix_sources

        df = self._df(spark, 2000)
        out = mix_sources(df, {"src0": 0.4}).filter(F.col("source") == "src0")
        n = out.count()
        assert 150 <= n <= 250  # ~0.4 of 500, md5-uniform
        # reprocessing stability: the grown corpus keeps the same picks
        grown = mix_sources(self._df(spark, 4000), {"src0": 0.4}).filter(
            (F.col("source") == "src0") & (F.col("doc_id") < 2000)
        )
        assert sorted(r["doc_id"] for r in out.collect()) == sorted(
            r["doc_id"] for r in grown.collect()
        )

    def test_mixed_weight_fraction_plus_full(self, spark):
        from osm_search_spark.operators.curation import mix_sources

        out = mix_sources(self._df(spark, 2000), {"src0": 2.5}).filter(
            F.col("source") == "src0"
        )
        per_doc = {r["doc_id"]: r["n"] for r in out.groupBy("doc_id")
                   .agg(F.count("*").alias("n")).collect()}
        assert set(per_doc.values()) <= {2, 3}
        assert len(per_doc) == 500  # every doc keeps >= 2 copies
        n3 = sum(1 for v in per_doc.values() if v == 3)
        assert 180 <= n3 <= 320  # ~half get the fractional third copy

    def test_negative_weight_rejected(self, spark):
        import pytest

        from osm_search_spark.operators.curation import mix_sources

        with pytest.raises(ValueError):
            mix_sources(self._df(spark), {"src0": -1.0})


class TestCapPerGroup:
    def test_exact_quota_and_determinism(self, spark):
        from osm_search_spark.operators.curation import cap_per_group

        df = spark.createDataFrame(
            [(i, f"src{i % 4}", "t") for i in range(200)],
            "doc_id long, source string, text string",
        )
        out = cap_per_group(df, "source", 7)
        per = {r["source"]: r["n"] for r in
               out.groupBy("source").agg(F.count("*").alias("n")).collect()}
        assert per == {f"src{i}": 7 for i in range(4)}
        # order/partitioning independence
        again = cap_per_group(df.repartition(13), "source", 7)
        assert sorted(r["doc_id"] for r in out.collect()) == sorted(
            r["doc_id"] for r in again.collect()
        )
        # groups under the cap keep everything
        small = cap_per_group(df.filter("doc_id < 10"), "source", 7)
        assert small.count() == 10

    def test_window_group_limit_in_plan(self, spark):
        from osm_search_spark.operators.curation import cap_per_group

        df = spark.createDataFrame(
            [(i, f"s{i % 2}", "t") for i in range(50)],
            "doc_id long, source string, text string",
        )
        plan = cap_per_group(df, "source", 3)._jdf.queryExecution(
        ).executedPlan().toString()
        assert "WindowGroupLimit" in plan, plan
