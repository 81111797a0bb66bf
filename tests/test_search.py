"""Text stack goldens mirroring pkg/index/indexer_test.go and the search
pipeline behavior of pkg/searcher/searcher_test.go."""

from pyspark.sql import functions as F

from osm_search_spark.operators import search

DOCS = [
    (1, "Jalan Sentosa Harapan"),
    (2, "Jalan Dunia Baru"),
    (3, "Jalan Mulwo Apel"),
    (4, "Jalan Kebun Jeruk Apel"),
    (5, "Jalan Pantai Ancol"),
]
# indexer_test.go:97-115 expected (term_id, doc_id) pairs with first-seen ids
EXPECTED_PAIRS = [
    (0, 1), (1, 1), (2, 1),
    (0, 2), (3, 2), (4, 2),
    (0, 3), (5, 3), (6, 3),
    (0, 4), (7, 4), (8, 4), (6, 4),
    (0, 5), (9, 5), (10, 5),
]


def _docs_df(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_term_dict_first_seen_order(spark):
    toks = search.doc_tokens(_docs_df(spark))
    td = {r["term"]: r["term_id"] for r in search.term_dict(toks).collect()}
    # reproduce the reference's first-seen ids (pkg/util.go:30-42)
    expected = {
        "jalan": 0, "sentosa": 1, "harapan": 2, "dunia": 3, "baru": 4,
        "mulwo": 5, "apel": 6, "kebun": 7, "jeruk": 8, "pantai": 9, "ancol": 10,
    }
    assert td == expected


def test_posting_pairs_golden(spark):
    toks = search.doc_tokens(_docs_df(spark))
    td = search.term_dict(toks)
    postings = search.build_postings(toks).join(td, "term")
    got = {
        (r["term_id"], r["doc_id"], r["tf"])
        for r in postings.collect()
    }
    exp = {}
    for tid, did in EXPECTED_PAIRS:
        exp[(tid, did)] = exp.get((tid, did), 0) + 1
    assert got == {(t, d, c) for (t, d), c in exp.items()}


def test_field_lengths_golden(spark):
    # indexer_test.go:128-132: lengths 3,3,3,4,3
    toks = search.doc_tokens(_docs_df(spark))
    got = {r["doc_id"]: r["dl"] for r in search.doc_stats(toks).collect()}
    assert got == {1: 3, 2: 3, 3: 3, 4: 4, 5: 3}


def test_bm25_top1(spark):
    docs = spark.createDataFrame(
        [
            (1, "dunia fantasi ancol jakarta"),
            (2, "kebun binatang ragunan"),
            (3, "taman mini indonesia indah"),
            (4, "monumen nasional jakarta"),
            (5, "dunia baru"),
        ],
        "doc_id long, text string",
    )
    top = search.bm25_search(docs, "dunia fantasi", k=1).collect()
    assert top[0]["doc_id"] == 1


def test_bm25_and_intersection(spark):
    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "a b"), (3, "a x")], "doc_id long, text string"
    )
    res = search.bm25_scores(docs, ["a", "b"], require_all=True)
    assert {r["doc_id"] for r in res.collect()} == {1, 2}


def test_prefix_match(spark):
    # spell_corrector.go:160-188 semantics: all vocab terms with prefix
    toks = search.doc_tokens(_docs_df(spark))
    td = search.term_dict(toks)
    got = {r["term"] for r in td.filter(F.col("term").startswith("ja")).collect()}
    assert got == {"jalan"}


def test_batch_bm25_matches_single(spark):
    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "a b"), (3, "c d"), (4, "b d a")],
        "doc_id long, text string",
    )
    queries = spark.createDataFrame(
        [(0, ["a", "b"]), (1, ["c"])], "query_id long, terms array<string>"
    )
    batch = {
        (r["query_id"], r["doc_id"]): round(r["score"], 10)
        for r in search.batch_bm25_search(docs, queries, k=10).collect()
    }
    for qid, terms in [(0, ["a", "b"]), (1, ["c"])]:
        single = {
            r["doc_id"]: round(r["score"], 10)
            for r in search.bm25_scores(docs, terms).collect()
        }
        got = {d: s for (q, d), s in batch.items() if q == qid}
        assert got == single


def test_bpe_pieces_splitting(spark):
    from pyspark.sql import functions as F

    from osm_search_spark.functions.text import bpe_pieces

    rows = spark.createDataFrame(
        [("It's 2026: state-of-the-art, v2.0!",)], "text string"
    ).select(bpe_pieces("text").alias("p")).collect()
    pieces = rows[0]["p"]
    # contractions split, digit runs split from letters, punctuation runs
    assert "'s" in pieces
    assert " 2026" in pieces
    assert pieces[0] == "it"
    assert "".join(pieces) == "it's 2026: state-of-the-art, v2.0!"
