"""End-to-end search pipeline goldens mirroring pkg/searcher/searcher_test.go:
- search("dunia fantasi") top-1 contains "Dunia Fantasi" (:59-67)
- 2-edit misspelling "duniu fsntaso" -> "Dunia Fantasi" (:69-78)
- "kebun bibatqng raginan" -> "Kebun Binatang Ragunan" (:87-93)
- autocomplete("monumen nasi") -> "Monumen Nasional" (:130-135)
- autocomplete("kebun binatang ra") -> "Kebun Binatang Ragunan" (:144-151)
- empty query -> error (:95-100)
"""

import pytest

from osm_search_spark.operators import ngram_lm, search, spell

PLACES = [
    (0, "Dunia Fantasi", -6.125, 106.833, "Jalan Lodan Timur, Ancol", "theme_park"),
    (1, "Kebun Binatang Ragunan", -6.302, 106.820, "Jalan Harsono, Ragunan", "zoo"),
    (2, "Monumen Nasional", -6.175, 106.827, "Jalan Silang Monas", "monument"),
    (3, "Taman Mini Indonesia Indah", -6.302, 106.895, "Jalan Taman Mini", "park"),
    (4, "Universitas Indonesia", -6.361, 106.827, "Jalan Margonda Depok", "university"),
    (5, "Taman Anggrek Mall", -6.178, 106.792, "Jalan Letjen S Parman", "mall"),
    (6, "Stasiun Gambir", -6.176, 106.830, "Jalan Medan Merdeka Timur", "station"),
    (7, "Dunia Air Tawar", -6.303, 106.894, "Jalan Taman Mini", "aquarium"),
    (8, "Kebun Raya Bogor", -6.597, 106.799, "Jalan Ir Juanda Bogor", "garden"),
]


@pytest.fixture(scope="module")
def corpus(spark):
    places = spark.createDataFrame(
        PLACES, "id long, name string, lat double, lon double, address string, type string"
    ).cache()
    name_toks = search.doc_tokens(places, doc_id="id", text="name")
    addr_toks = search.doc_tokens(places, doc_id="id", text="address")
    all_toks = name_toks.unionByName(addr_toks)
    term_dict = search.term_dict(all_toks).cache()
    counts = ngram_lm.ngram_counts(all_toks, max_n=4, oov_threshold=1).cache()
    return places, term_dict, counts


def test_search_exact_top1(spark, corpus):
    places, td, counts = corpus
    res = spell.freeform_search(spark, places, td, counts, "dunia fantasi", k=3)
    assert res.collect()[0]["name"] == "Dunia Fantasi"


def test_search_misspelled_two_edits(spark, corpus):
    places, td, counts = corpus
    res = spell.freeform_search(spark, places, td, counts, "duniu fsntaso", k=3)
    assert res.collect()[0]["name"] == "Dunia Fantasi"


def test_search_misspelled_ragunan(spark, corpus):
    places, td, counts = corpus
    res = spell.freeform_search(spark, places, td, counts, "kebun bibatqng raginan", k=3)
    assert res.collect()[0]["name"] == "Kebun Binatang Ragunan"


def test_empty_query_errors(spark, corpus):
    places, td, counts = corpus
    with pytest.raises(ValueError):
        spell.freeform_search(spark, places, td, counts, "", k=3)


def test_autocomplete_monumen_nasi(spark, corpus):
    places, td, counts = corpus
    res = spell.autocomplete(spark, places, td, counts, "monumen nasi", k=5)
    assert res.collect()[0]["name"] == "Monumen Nasional"


def test_autocomplete_kebun_binatang_ra(spark, corpus):
    places, td, counts = corpus
    res = spell.autocomplete(spark, places, td, counts, "kebun binatang ra", k=5)
    assert res.collect()[0]["name"] == "Kebun Binatang Ragunan"


def test_batch_correct_matches_per_query(spark, corpus):
    # the batched path must agree with correct_query per query
    places, td, counts = corpus
    queries = [
        "dunia fantasi",          # all in-vocab, single candidate
        "duniu fsntaso",          # two 2-edit misspellings
        "kebun bibatqng raginan", # three tokens, one clean
        "monumen nasional",
        "zzzyx qwqwq",            # no candidates at all -> passthrough
    ]
    batch = spell.batch_correct_queries(spark, queries, td, counts)
    loop = [spell.correct_query(spark, q, td, counts) for q in queries]
    assert batch == loop
    assert batch[1] == ["dunia", "fantasi"]
    assert batch[4] == ["zzzyx", "qwqwq"]


# --- batch serving spine: parity with the per-query pipelines ---------------

def test_batch_autocomplete_matches_per_query(spark, corpus):
    # a batch of N ranks each query exactly as N batches of one, and
    # autocomplete() (a batch of one with a take-ordered top-k) agrees
    places, td, counts = corpus
    queries = ["monumen nasi", "kebun binatang ra", "dunia f"]
    idx = spell.BM25FIndex(places)

    def key(rows):
        return [
            (r["rank"], r["interp"], r["id"], round(r["score"], 9))
            for r in rows
        ]

    batch = spell.batch_autocomplete(
        spark, places, td, counts, queries, k=5, index=idx
    ).collect()
    for qid, q in enumerate(queries):
        got = key(r for r in batch if r["query_id"] == qid)
        one = key(spell.batch_autocomplete(
            spark, places, td, counts, [q], k=5, index=idx
        ).collect())
        per = key(spell.autocomplete(
            spark, places, td, counts, q, k=5, index=idx
        ).collect())
        assert got and got == one == per, (q, got, one, per)


def test_batch_autocomplete_job_count_constant(spark, corpus):
    # the batched path must run a CONSTANT number of Spark jobs no matter
    # how many queries/interpretations are in the batch (the round-2
    # verdict's done-criterion: job count constant in interpretations).
    # Both batches include a multi-candidate prefix ("taman m") so the LM
    # job runs in both; each batch is measured twice and the WARM run
    # compared (the first execution pays one-time broadcast/cache warm-up
    # jobs that aren't part of the steady-state serving cost).
    places, td, counts = corpus
    idx = spell.BM25FIndex(places)
    sc = spark.sparkContext

    def jobs_for(queries, group):
        sc.setJobGroup(group, group)
        spell.batch_autocomplete(
            spark, places, td, counts, queries, k=3, index=idx
        ).collect()
        sc.setJobGroup("other", "other")
        return len(sc.statusTracker().getJobIdsForGroup(group))

    small_q = ["taman m"]
    big_q = ["taman m", "kebun binatang ra", "dunia f", "monumen nasi",
             "stasiun g", "universitas i"]
    jobs_for(small_q, "ac_warm_s")
    jobs_for(big_q, "ac_warm_b")
    small = jobs_for(small_q, "ac_small")
    big = jobs_for(big_q, "ac_big")
    assert big == small, (small, big)
