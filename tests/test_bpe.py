"""Merge-based BPE: trainer vs hand-derived merges, Column/Arrow kernel
parity, scalar-vs-distributed apply equality, corpus training sanity."""

from pyspark.sql import functions as F

from osm_search_spark.functions import bpe


def test_learn_bpe_matches_hand_derivation():
    # classic fixture: pair counts -> es(9) first, then est, then lo
    merges = bpe.learn_bpe(
        [("low", 5), ("lower", 2), ("newest", 6), ("widest", 3)], 3
    )
    assert merges == [("e", "s"), ("es", "t"), ("l", "o")]
    assert bpe.encode_piece("lowest", merges) == ["lo", "w", "est"]
    assert bpe.encode_piece("newest", merges) == ["n", "e", "w", "est"]
    assert bpe.encode_piece("low", merges) == ["lo", "w"]
    # unseen symbols stay single codepoints
    assert bpe.encode_piece("xyz", merges) == ["x", "y", "z"]


def test_reference_merges_pinned_tokenizations():
    rm = bpe.reference_merges()
    assert len(rm) == bpe.N_REFERENCE_MERGES
    assert rm[0] == ("t", "h") and rm[1] == ("th", "e")
    assert bpe.encode_piece("the", rm) == ["the"]
    # "lowest" is in the reference dim and fully merges
    assert bpe.encode_piece("lowest", rm) == ["lowest"]
    # multi-level merge chains survive the fold on an UNSEEN word
    assert bpe.encode_piece("interesting", rm) == ["in", "t", "erest", "ing"]


def test_bpe_engines_and_scalar_agree(spark, monkeypatch):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    merges = bpe.bpe_train(docs, n_merges=80)
    assert len(merges) == 80
    # 80 merges > _COLUMN_MERGE_LIMIT: the size rule picks mapInPandas
    arrow = {
        (r["doc_id"], r["n_tokens"])
        for r in bpe.bpe_token_counts(docs, merges).collect()
    }
    monkeypatch.setattr(bpe, "_COLUMN_MERGE_LIMIT", len(merges))
    col = {
        (r["doc_id"], r["n_tokens"])
        for r in bpe.bpe_token_counts(docs, merges).collect()
    }
    assert col == arrow and len(col) > 0
    # independent scalar recomputation for a few docs
    from osm_search_spark.functions.text import bpe_pieces

    rows = (
        docs.select("doc_id", bpe_pieces("text").alias("pieces"))
        .orderBy("doc_id")
        .limit(5)
        .collect()
    )
    got = dict(col)
    for r in rows:
        want = sum(len(bpe.encode_piece(p, merges)) for p in r["pieces"])
        if want:
            assert got[r["doc_id"]] == want


def test_bpe_training_compresses_token_count(spark):
    # more merges => fewer tokens, floored at piece count
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    m100 = bpe.bpe_train(docs, n_merges=100)
    n0 = (
        bpe.bpe_token_counts(docs, [])
        .agg(F.sum("n_tokens")).collect()[0][0]
    )
    n100 = (
        bpe.bpe_token_counts(docs, m100)
        .agg(F.sum("n_tokens")).collect()[0][0]
    )
    assert n100 < n0  # merges learned from the corpus actually bind
    # size rule: 100 merges routes to mapInPandas (bounded plan)
    from tests.test_plans import plan_str

    df = bpe.bpe_token_counts(docs, m100)
    assert "mapinpandas" in plan_str(df).lower().replace("_", "")
