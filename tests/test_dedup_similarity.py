"""Dedup + similarity operators vs small brute-force oracles."""

import numpy as np
from pyspark.sql import functions as F

from osm_search_spark.operators import dedup, similarity


def test_exact_dedup(spark):
    docs = spark.createDataFrame(
        [(1, "same text"), (2, "same text"), (3, "other")],
        "doc_id long, text string",
    )
    groups = {r["keep_doc"]: r["n_docs"] for r in dedup.exact_dedup_groups(docs).collect()}
    assert groups == {1: 2, 3: 1}


def test_minhash_identical_docs_same_signature(spark):
    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps"), (2, "the quick brown fox jumps"), (3, "zzz totally different yak")],
        "doc_id long, text string",
    )
    sig = dedup.minhash_signatures(docs).collect()
    by_id = {r["doc_id"]: (r["h0"], r["h1"], r["h2"], r["h3"]) for r in sig}
    assert by_id[1] == by_id[2]
    assert by_id[1] != by_id[3]


def test_minhash_regex_shingles_match_char_shingles(spark):
    """Round-9: minhash_signatures generates shingles via an overlapping
    regexp lookahead instead of the char_shingles HOF. The shingle arrays
    must stay bit-identical — including newline-bearing, short (< k),
    empty, and non-ASCII texts (regex '.' and substring both count code
    points; '(?s)' covers newlines)."""
    from osm_search_spark.functions.text import char_shingles

    texts = [
        (1, "the quick brown fox"),
        (2, "line one\nline two\nline three"),
        (3, "abcd"),          # shorter than k=5 -> empty
        (4, ""),
        (5, "ab\ncd"),        # exactly k with a newline inside
        (6, "café brûlé ümläut"),
        (7, "tab\tand  spaces   here"),
    ]
    docs = spark.createDataFrame(texts, "doc_id long, text string")
    mism = (
        docs.select(
            (
                char_shingles("text", 5)
                == F.regexp_extract_all("text", F.lit("(?s)(?=(.{5}))"), 1)
            ).alias("eq")
        )
        .filter(~F.col("eq"))
        .count()
    )
    assert mism == 0
    # and the signatures themselves agree with a python brute force
    sig = {r["doc_id"]: r for r in dedup.minhash_signatures(docs).collect()}
    import hashlib

    for doc_id, text in texts:
        sh = [text[i : i + 5] for i in range(len(text) - 4)] if len(text) >= 5 else []
        if not sh:
            assert doc_id not in sig
            continue
        digests = [hashlib.md5(s.encode()).hexdigest() for s in sh]
        for i in range(4):
            assert sig[doc_id][f"h{i}"] == min(d[8 * i : 8 * i + 8] for d in digests)


def test_lsh_pairs_finds_near_dups(spark):
    near_a = "the quick brown fox jumps over the lazy dog near the river bank today"
    near_b = "the quick brown fox jumps over the lazy dog near the river bank2 today"
    docs = spark.createDataFrame(
        [(1, near_a), (2, near_b), (3, "completely unrelated content about spark shuffles")],
        "doc_id long, text string",
    )
    sigs = dedup.minhash_signatures(docs)
    pairs = {(r["doc_a"], r["doc_b"]) for r in dedup.lsh_candidate_pairs(sigs).collect()}
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_ngram_jaccard(spark):
    docs = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d x"), (3, "p q r s t")],
        "doc_id long, text string",
    )
    # trigrams doc1: {abc,bcd,cde}, doc2: {abc,bcd,cdx} -> jaccard 2/4 = 0.5
    pairs = dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.4).collect()
    assert len(pairs) == 1
    r = pairs[0]
    assert (r["doc_a"], r["doc_b"]) == (1, 2)
    assert abs(r["jaccard"] - 0.5) < 1e-12


def test_simhash_near_dup_small_hamming(spark):
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog again and again today"),
            (2, "the quick brown fox jumps over the lazy dog again and again tonight"),
            (3, "completely different words about distributed query engines and shuffles"),
        ],
        "doc_id long, text string",
    )
    sims = {
        r["doc_id"]: r["simhash"]
        for r in dedup.simhash_portable(docs).collect()
    }

    def hamming(a, b):
        return bin((a ^ b) & 0xFFFFFFFFFFFFFFFF).count("1")

    assert hamming(sims[1], sims[2]) < hamming(sims[1], sims[3])
    assert hamming(sims[1], sims[2]) <= 12


def test_brute_force_topk_vs_numpy(spark):
    rng = np.random.default_rng(42)
    vecs = rng.standard_normal((50, 8)).astype(np.float32)
    corpus = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(50)],
        "vec_id long, embedding array<float>",
    )
    probes = corpus.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("pvec")
    )
    got = similarity.brute_force_topk(probes, corpus, k=5).collect()
    v = vecs.astype(np.float64)
    norms = np.linalg.norm(v, axis=1)
    for pid in (0, 1):
        cos = (v @ v[pid]) / (norms * norms[pid])
        cos[pid] = -np.inf
        order = np.lexsort((np.arange(50), -cos))
        exp = order[:5].tolist()
        mine = [r["neighbor_id"] for r in sorted(got, key=lambda r: r["rank"]) if r["probe_id"] == pid]
        assert mine == exp


def test_lsh_topk_subset_of_bruteforce(spark):
    rng = np.random.default_rng(1)
    vecs = rng.standard_normal((200, 16)).astype(np.float32)
    corpus = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(200)],
        "vec_id long, embedding array<float>",
    )
    probes = corpus.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("pvec")
    )
    res = similarity.lsh_topk(probes, corpus, k=5, dim=16, n_planes=4)
    rows = res.collect()
    assert rows  # buckets non-empty with 4 planes over 200 vecs
    # every returned neighbor must share the probe's bucket => cos sane
    for r in rows:
        assert -1.0001 <= r["cos"] <= 1.0001


def test_embedding_near_dup_pairs(spark):
    rng = np.random.default_rng(5)
    base = rng.standard_normal((20, 8)).astype(np.float32)
    vecs = list(base) + [base[0] + rng.standard_normal(8).astype(np.float32) * 0.01]
    corpus = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )
    # DEFAULT path = LSH-restricted candidates (the web-corpus posture):
    # the planted near-dup shares its original's bucket and is found
    pairs = similarity.embedding_near_dup_pairs(corpus, threshold=0.99).collect()
    assert {(r["id_a"], r["id_b"]) for r in pairs} == {(0, 20)}
    # exact mode is explicit opt-in and agrees here
    exact = similarity.embedding_near_dup_pairs(
        corpus, threshold=0.99, n_planes=None
    ).collect()
    assert {(r["id_a"], r["id_b"]) for r in exact} == {(0, 20)}


def test_ivf_topk_recall_vs_bruteforce(spark):
    rng = np.random.default_rng(9)
    vecs = rng.standard_normal((300, 16)).astype(np.float32)
    corpus = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(300)],
        "vec_id long, embedding array<float>",
    )
    probes = corpus.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("pvec")
    )
    exact = similarity.brute_force_topk(probes, corpus, k=10)
    approx = similarity.ivf_topk(probes, corpus, k=10, n_centroids=8, n_probe=4)
    ex = {(r["probe_id"], r["neighbor_id"]) for r in exact.collect()}
    ap = {(r["probe_id"], r["neighbor_id"]) for r in approx.collect()}
    recall = len(ex & ap) / len(ex)
    assert recall >= 0.6, f"IVF recall too low: {recall}"


def test_lsh_bucket_size_cap(spark):
    # docs 0..9 identical (mega-bucket), 10/11 a small near-dup pair
    rows = [(i, "the same boilerplate text everywhere") for i in range(10)]
    rows += [(10, "unique sentence alpha beta"), (11, "unique sentence alpha betz")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sigs = dedup.minhash_signatures(docs)
    uncapped = dedup.lsh_candidate_pairs(sigs).count()
    capped = dedup.lsh_candidate_pairs(sigs, max_bucket_size=5)
    got = {(r["doc_a"], r["doc_b"]) for r in capped.collect()}
    assert uncapped >= 45  # the 10-doc bucket alone is 45 pairs
    assert all(a >= 10 for a, _ in got)  # mega-bucket excluded


def test_ivf_distributed_training_recall(spark):
    import numpy as np

    from osm_search_spark.operators import similarity as S

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    probes = emb.filter("vec_id < 3").select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("pvec")
    )
    exact = {
        (r["probe_id"], r["neighbor_id"])
        for r in S.brute_force_topk(probes, emb, k=10).collect()
    }
    approx = {
        (r["probe_id"], r["neighbor_id"])
        for r in S.ivf_topk(
            probes, emb, k=10, n_centroids=8, n_probe=4, train="distributed"
        ).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.6, recall


def test_pq_adc_with_refine_recall(spark):
    # product quantization: 16x-compressed codes + ADC scan + exact
    # re-rank of the shortlist (FAISS-style refine) — recall@10 vs exact L2
    import numpy as np

    from osm_search_spark.operators import similarity as S

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    books = S.pq_train(emb, m=16, k=32)
    assert books.shape == (16, 32, 4)
    codes = S.pq_encode(emb, books).persist()
    assert codes.filter(F.size("codes") != 16).count() == 0

    rows = [(r["vec_id"], r["embedding"]) for r in emb.collect()]
    ids = np.array([a for a, _ in rows])
    V = np.array([b for _, b in rows], dtype=np.float64)
    exact = set()
    for p in range(5):
        pv = V[ids == p][0]
        d = ((V - pv) ** 2).sum(axis=1)
        order = np.lexsort((ids, d))
        got = [int(ids[i]) for i in order if ids[i] != p][:10]
        exact |= {(p, n) for n in got}

    probes = emb.filter("vec_id < 5").select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("pvec")
    )
    res = S.pq_topk(probes, codes, books, k=10, refine_factor=5)
    approx = {(r["probe_id"], r["neighbor_id"]) for r in res.collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.8, recall
    codes.unpersist()


def test_pq_distributed_training_recall_and_flat_plan(spark):
    # full-corpus per-subspace trainer (no driver sample) must reach the
    # same recall bar; and pq_topk must be ONE corpus scan regardless of
    # probe count (round-2 verdict item 3: no per-probe union)
    import numpy as np

    from osm_search_spark.operators import similarity as S

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    books = S.pq_train_distributed(emb, m=16, k=32, iters=2)
    assert books.shape == (16, 32, 4)
    codes = S.pq_encode(emb, books).persist()

    rows = [(r["vec_id"], r["embedding"]) for r in emb.collect()]
    ids = np.array([a for a, _ in rows])
    V = np.array([b for _, b in rows], dtype=np.float64)
    exact = set()
    for p in range(5):
        pv = V[ids == p][0]
        d = ((V - pv) ** 2).sum(axis=1)
        order = np.lexsort((ids, d))
        got = [int(ids[i]) for i in order if ids[i] != p][:10]
        exact |= {(p, n) for n in got}

    probes = emb.filter("vec_id < 5").select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("pvec")
    )
    res = S.pq_topk(probes, codes, books, k=10, refine_factor=5)
    plan = res._sc._jvm.PythonSQLUtils.explainString(
        res._jdf.queryExecution(), "simple"
    )
    assert "Union" not in plan, plan
    approx = {(r["probe_id"], r["neighbor_id"]) for r in res.collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.8, recall
    codes.unpersist()


def test_ivfpq_topk_recall(spark):
    # composed scale path: coarse inverted lists + residual PQ codes + exact
    # refine — the 10^12-row ANN shape (probe touches n_probe/n_centroids of
    # the corpus, scans 16x-compressed codes, refines a tiny shortlist)
    import numpy as np

    from osm_search_spark.operators import similarity as S

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    indexed, cent, books = S.ivfpq_build(emb, n_centroids=8, m=16, kc=32)
    indexed = indexed.persist()
    assert indexed.filter(F.size("codes") != 16).count() == 0
    assert set(indexed.columns) >= {"vec_id", "embedding", "cluster_id", "codes"}

    rows = [(r["vec_id"], r["embedding"]) for r in emb.collect()]
    ids = np.array([a for a, _ in rows])
    V = np.array([b for _, b in rows], dtype=np.float64)
    exact = set()
    for p in range(5):
        pv = V[ids == p][0]
        d = ((V - pv) ** 2).sum(axis=1)
        order = np.lexsort((ids, d))
        got = [int(ids[i]) for i in order if ids[i] != p][:10]
        exact |= {(p, n) for n in got}

    probes = emb.filter("vec_id < 5").select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("pvec")
    )
    res = S.ivfpq_topk(probes, indexed, cent, books, k=10, n_probe=4)
    approx = {(r["probe_id"], r["neighbor_id"]) for r in res.collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.6, recall
    # full-probe sanity: visiting every list must beat the restricted run
    res_all = S.ivfpq_topk(probes, indexed, cent, books, k=10, n_probe=8)
    approx_all = {(r["probe_id"], r["neighbor_id"]) for r in res_all.collect()}
    recall_all = len(exact & approx_all) / len(exact)
    assert recall_all >= recall
    assert recall_all >= 0.8, recall_all
    indexed.unpersist()


def test_connected_components_vs_union_find(spark):
    """Distributed CC (min-label + pointer jumping) vs a driver union-find
    on a graph with a long path (diameter 20 — exercises the jump), a star,
    a triangle with a bridge, and isolated pairs."""
    from osm_search_spark.operators.dedup import connected_components, dedup_clusters

    edges = []
    edges += [(i, i + 1) for i in range(100, 120)]          # path, diam 20
    edges += [(200, x) for x in range(201, 209)]            # star
    edges += [(300, 301), (301, 302), (302, 300), (302, 303)]  # tri + bridge
    edges += [(400, 401), (500, 501)]                       # isolated pairs
    edges += [(120, 100)]                                   # close the path
    pairs = spark.createDataFrame(
        [(a, b) for a, b in edges], "doc_a long, doc_b long"
    )
    got = {
        r["node"]: r["component_id"]
        for r in connected_components(pairs).collect()
    }

    parent = {}
    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {n: find(n) for n in parent}
    assert got == want

    clusters = dedup_clusters(pairs).collect()
    canon = {r["component_id"] for r in clusters if r["is_canonical"]}
    assert canon == set(want.values())  # exactly one keeper per cluster
    assert all((r["node"] == r["component_id"]) == r["is_canonical"] for r in clusters)


def test_winnow_guarantee_and_edges(spark):
    """MOSS guarantee: docs sharing a run of >= w+k-1 tokens (k=5, w=4 ->
    8 tokens) share at least one fingerprint; unrelated docs don't collide;
    short docs follow the documented edge rules."""
    from osm_search_spark.operators.dedup import winnow_fingerprints

    shared = "alpha bravo charlie delta echo foxtrot golf hotel"  # 8 tokens
    rows = [
        (1, "xx yy " + shared + " zz"),
        (2, shared + " aa bb cc dd"),
        (3, "one two three four five six seven eight nine ten"),
        (4, "tiny doc"),                    # < k tokens -> no output
        (5, "exactly five token doc here"),  # 1 shingle -> single min
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fps = winnow_fingerprints(df).collect()
    by_doc = {}
    for r in fps:
        by_doc.setdefault(r["doc_id"], set()).add(r["fp"])
    assert by_doc[1] & by_doc[2]            # shared run -> shared fingerprint
    assert not (by_doc[3] & by_doc[1])      # unrelated -> disjoint
    assert 4 not in by_doc
    assert len(by_doc[5]) == 1


def test_coarse_quantizer_engine_parity(spark, monkeypatch):
    # arrow (broadcast-numpy mapInPandas) and column (literal expression)
    # coarse quantizers must agree exactly: assignment (ties -> lowest id),
    # probed lists (ties -> highest id), and residuals
    from osm_search_spark.operators import similarity as S

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cent = S.kmeans_train_sample(emb, 16)
    threshold = {"column": 10**9, "arrow": 0}
    got = {}
    for eng in ("column", "arrow"):
        monkeypatch.setattr(S, "_ARROW_CENTROID_THRESHOLD", threshold[eng])
        rows = S.assign_clusters(
            emb, cent, "embedding", residual_col="r"
        ).collect()
        got[eng] = {
            r["vec_id"]: (r["cluster_id"], tuple(r["r"])) for r in rows
        }
    assert got["column"].keys() == got["arrow"].keys()
    for k in got["column"]:
        ca, ra = got["column"][k]
        cb, rb = got["arrow"][k]
        assert ca == cb
        assert max(abs(x - y) for x, y in zip(ra, rb)) < 1e-9

    probes = emb.limit(25).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("pvec")
    )
    lists = {}
    for eng in ("column", "arrow"):
        monkeypatch.setattr(S, "_ARROW_CENTROID_THRESHOLD", threshold[eng])
        rows = S.probe_clusters(probes, cent, "pvec", 4).collect()
        d = {}
        for r in rows:
            d.setdefault(r["probe_id"], set()).add(r["cluster_id"])
        lists[eng] = d
    assert lists["column"] == lists["arrow"]


def _replicated_corpus(spark, sf_dir="/root/testdata/sf0.1", reps=16):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return emb.select(
        F.explode(F.array(*[F.lit(i) for i in range(reps)])).alias("rep"),
        "vec_id",
        "embedding",
    ).select(
        (F.col("vec_id") * reps + F.col("rep")).alias("vec_id"), "embedding"
    )


def test_ivf_and_ivfpq_at_1024_lists(spark):
    # the arrow coarse kernel unlocks real list counts: 1024 inverted lists
    # over a 32k-row corpus, n_probe=32 — a literal-expression quantizer
    # would be an O(n_centroids * dim) plan; the arrow plan stays bounded
    from osm_search_spark.operators import similarity as S
    from tests.test_plans import plan_str

    reps = 16
    corpus = _replicated_corpus(spark, reps=reps).persist()
    n = corpus.count()
    assert n == 2000 * reps

    rows = spark.read.parquet(
        "/root/testdata/sf0.1/embeddings.parquet"
    ).limit(400).collect()
    import numpy as np

    ids0 = np.array([r["vec_id"] for r in rows])
    V0 = np.array([r["embedding"] for r in rows], dtype=np.float64)
    probe_orig = ids0[:5]
    probes = spark.createDataFrame(
        [
            (int(p) * reps, [float(x) for x in V0[i]])
            for i, p in enumerate(probe_orig)
        ],
        "probe_id long, pvec array<float>",
    )

    # exact L2 oracle over the replicated corpus, ties by id
    all_rows = corpus.collect()
    ids = np.array([r["vec_id"] for r in all_rows])
    V = np.array([r["embedding"] for r in all_rows], dtype=np.float64)
    exact_l2 = set()
    exact_cos = set()
    for i, p in enumerate(probe_orig):
        pid = int(p) * reps
        pv = V0[i]
        d = ((V - pv) ** 2).sum(axis=1)
        order = np.lexsort((ids, d))
        exact_l2 |= {
            (pid, int(ids[j])) for j in order[ids[order] != pid][:10]
        }
        cos = (V @ pv) / (
            np.linalg.norm(V, axis=1) * np.linalg.norm(pv) + 1e-300
        )
        order = np.lexsort((ids, -cos))
        exact_cos |= {
            (pid, int(ids[j])) for j in order[ids[order] != pid][:10]
        }

    cent = S.kmeans_train_sample(corpus, 1024, sample=2048)
    assert len(cent) == 1024
    # plan stays bounded at 1024 lists (the point of the arrow kernel):
    # the size rule picks arrow, and the explain string is constant-size, not
    # O(n_centroids * dim) literal arrays
    assigned = S.assign_clusters(corpus, cent, "embedding")
    p = plan_str(assigned)
    assert "mapinpandas" in p.lower().replace("_", "")
    assert len(p) < 20_000

    ivf = {
        (r["probe_id"], r["neighbor_id"])
        for r in S.ivf_topk(
            probes, corpus, k=10, n_centroids=1024, n_probe=32
        ).collect()
    }
    recall_ivf = len(exact_cos & ivf) / len(exact_cos)
    assert recall_ivf >= 0.8, recall_ivf

    indexed, cent2, books = S.ivfpq_build(
        corpus, n_centroids=1024, m=16, kc=32
    )
    indexed = indexed.persist()
    assert indexed.filter(F.size("codes") != 16).count() == 0
    res = S.ivfpq_topk(
        probes, indexed, cent2, books, k=10, n_probe=32
    )
    approx = {(r["probe_id"], r["neighbor_id"]) for r in res.collect()}
    recall = len(exact_l2 & approx) / len(exact_l2)
    assert recall >= 0.8, recall
    indexed.unpersist()
    corpus.unpersist()


def test_adc_broadcast_guard_paths_identical(spark, monkeypatch):
    # past the LUT-broadcast budget, pq_topk chunks the probe batch and
    # ivfpq_topk switches to a SHUFFLE_HASH join — both must return
    # row-for-row the same results as the broadcast plan
    from osm_search_spark.operators import similarity as S
    from tests.test_plans import plan_str

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    probes = emb.filter("vec_id < 12").select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("pvec")
    )

    books = S.pq_train(emb, m=16, k=32)
    codes = S.pq_encode(emb, books).persist()
    base = sorted(
        map(tuple, S.pq_topk(probes, codes, books, k=5).collect())
    )
    with monkeypatch.context() as mp:
        mp.setattr(S, "DEFAULT_ADC_BROADCAST_MB", 0.0005)
        chunked_df = S.pq_topk(probes, codes, books, k=5)
    assert "Union" in plan_str(chunked_df)
    assert sorted(map(tuple, chunked_df.collect())) == base
    codes.unpersist()

    indexed, cent, rbooks = S.ivfpq_build(emb, n_centroids=8, m=16, kc=32)
    indexed = indexed.persist()
    base2 = sorted(
        map(
            tuple,
            S.ivfpq_topk(probes, indexed, cent, rbooks, k=5, n_probe=4).collect(),
        )
    )
    monkeypatch.setattr(S, "DEFAULT_ADC_BROADCAST_MB", 0.0005)
    shuffled_df = S.ivfpq_topk(
        probes, indexed, cent, rbooks, k=5, n_probe=4,
    )
    plan = plan_str(shuffled_df)
    assert "ShuffledHashJoin" in plan, plan
    assert sorted(map(tuple, shuffled_df.collect())) == base2
    indexed.unpersist()


def test_jaccard_candidates_pushed_below_gram_join(spark):
    # the candidate prefilter must restrict the gram self-join's INPUTS,
    # not just the aggregated result — both join children carry a doc-id
    # semi-join in the optimized plan (plus the pair-level semi-join above)
    from tests.test_plans import plan_str

    rows = [(i, f"common filler words here unique{i} tail{i} extra{i}")
            for i in range(30)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    cand = spark.createDataFrame([(1, 2), (3, 4)], "doc_a long, doc_b long")
    df = dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.0, candidates=cand)
    plan = plan_str(df)
    assert plan.count("LeftSemi") >= 3, plan
    got = {(r["doc_a"], r["doc_b"]) for r in df.collect()}
    # every doc shares the 'common filler words' trigram, but only the
    # candidate pairs may appear
    assert got <= {(1, 2), (3, 4)} and got
    # and the values match the unrestricted run on those pairs
    full = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.0).collect()
    }
    for r in df.collect():
        assert abs(full[(r["doc_a"], r["doc_b"])] - r["jaccard"]) < 1e-12


def test_jaccard_gram_frequency_cap(spark):
    # a gram shared by every doc is dropped by the cap: the join emits no
    # row for pairs whose ONLY overlap is the boilerplate gram
    rows = [(i, f"boiler plate line unique{i} words{i} only{i}") for i in range(10)]
    rows += [(100, "near dup pair alpha beta gamma"),
             (101, "near dup pair alpha beta gammz")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    capped = dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.1, max_gram_freq=5)
    got = {(r["doc_a"], r["doc_b"]) for r in capped.collect()}
    assert got == {(100, 101)}
    # uncapped, the 10-doc boilerplate gram creates 45 extra pairs
    uncapped = dedup.ngram_jaccard_pairs(
        docs, n=3, threshold=0.1, max_gram_freq=None
    ).count()
    assert uncapped > 1


def test_ivfpq_extend_equals_full_encode(spark):
    # incremental ANN maintenance: appending a batch under the existing
    # models must equal encoding the whole corpus in one shot, bit for
    # bit, and searches over the extended index match the full index
    from osm_search_spark.operators import similarity as S

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    indexed, cent, books = S.ivfpq_build(emb, n_centroids=8, m=16, kc=32)
    half1 = emb.filter("vec_id % 2 = 0")
    half2 = emb.filter("vec_id % 2 = 1")
    ext = S.ivfpq_extend(
        S.ivfpq_encode(half1, cent, books), half2, cent, books
    )

    def key(df):
        return sorted(
            (r["vec_id"], r["cluster_id"], tuple(r["codes"]))
            for r in df.collect()
        )

    assert key(ext) == key(indexed)

    probes = emb.filter("vec_id < 5").select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("pvec")
    )
    full_res = sorted(
        map(tuple, S.ivfpq_topk(probes, indexed, cent, books, k=5, n_probe=4).collect())
    )
    ext_res = sorted(
        map(tuple, S.ivfpq_topk(probes, ext, cent, books, k=5, n_probe=4).collect())
    )
    assert ext_res == full_res


def test_ivfpq_hot_list_salting_identical(spark, monkeypatch):
    # a planted hot inverted list (~60% of the corpus in one cluster) on
    # the SHUFFLE_HASH path: the salting guard must spread that list over
    # sub-keys yet return row-for-row the same results as the unsalted
    # shuffle plan
    import numpy as np

    from osm_search_spark.operators import similarity as S
    from tests.test_plans import plan_str

    rng = np.random.default_rng(11)
    rows = []
    for i in range(400):
        if i % 5 < 3:  # 60% hot: tight blob around one centroid
            v = np.array([10.0] + [0.0] * 31) + rng.normal(0, 0.01, 32)
        else:
            v = rng.normal(0, 1.0, 32)
        rows.append((i, [float(x) for x in v]))
    corpus = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )
    probes = corpus.filter("vec_id < 10").select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("pvec")
    )
    indexed, cent, books = S.ivfpq_build(corpus, n_centroids=4, m=8, kc=16)
    indexed = indexed.persist()
    sizes = [r["count"] for r in indexed.groupBy("cluster_id").count().collect()]
    assert max(sizes) > 1.5 * (sum(sizes) / len(sizes))  # skew is planted
    monkeypatch.setattr(S, "DEFAULT_ADC_BROADCAST_MB", 0.0005)
    kw = dict(k=5, n_probe=2)
    base = sorted(
        map(
            tuple,
            S.ivfpq_topk(
                probes, indexed, cent, books, hot_list_salt=False, **kw
            ).collect(),
        )
    )
    salted_df = S.ivfpq_topk(
        probes, indexed, cent, books, hot_list_salt=True,
        hot_list_factor=1.5, **kw
    )
    plan = plan_str(salted_df)
    assert "_ck" in plan and "ShuffledHashJoin" in plan, plan
    assert sorted(map(tuple, salted_df.collect())) == base
    indexed.unpersist()


def _semdedup_fixture(spark, n_per_cluster=25, dim=16, seed=7):
    """Well-separated clusters around axis directions with planted
    paraphrase clones (small jitter of an original -> cos ~ 0.999)."""
    rng = np.random.default_rng(seed)
    rows = []
    for c in range(4):
        base = np.zeros(dim)
        base[c * 4] = 1.0
        for i in range(n_per_cluster):
            # jitter wide enough that two cluster-mates stay clearly
            # below the 0.99 near-dup threshold (cos ~ 0.75), while the
            # planted clones (0.001 jitter) sit at cos ~ 0.9999
            v = base + rng.normal(0, 0.15, dim)
            rows.append((c * 1000 + i, [float(x) for x in v]))
    # clones of the first 3 vectors of each cluster
    clones = []
    for c in range(4):
        for i in range(3):
            vid, v = rows[c * n_per_cluster + i]
            jit = np.asarray(v) * 1.01 + rng.normal(0, 0.001, dim)
            clones.append((10000 + vid, [float(x) for x in jit]))
    return spark.createDataFrame(
        rows + clones, "vec_id long, embedding array<double>"
    )


def test_semantic_dedup_planted_paraphrases(spark):
    emb = _semdedup_fixture(spark)
    out = similarity.semantic_dedup(
        emb, n_clusters=4, threshold=0.99, n_planes=None, seed=3
    ).collect()
    by_id = {r["vec_id"]: r for r in out}
    assert len(by_id) == 112  # 100 originals + 12 clones
    for c in range(4):
        for i in range(3):
            orig, clone = c * 1000 + i, 10000 + c * 1000 + i
            # clone joins its original's component; the original (min id)
            # is canonical, the clone is not
            assert by_id[clone]["component_id"] == by_id[orig]["component_id"]
            assert by_id[orig]["is_canonical"]
            assert not by_id[clone]["is_canonical"]
            assert by_id[clone]["cluster_id"] == by_id[orig]["cluster_id"]
    # every non-clone doc with no near-dup is its own canonical component
    lonely = [r for r in out if r["vec_id"] < 10000 and r["vec_id"] % 1000 >= 3]
    assert all(r["is_canonical"] and r["component_id"] == r["vec_id"] for r in lonely)


def test_semantic_dedup_lsh_default_matches_exact_on_planted(spark):
    """The LSH-restricted default must find the same components as the
    exact path on the planted fixture: jittered clones are near-parallel
    to their originals, so every hyperplane sign agrees w.h.p. — and any
    missed ORIGINAL-pair collision would change components, so run both
    and compare the full output."""
    emb = _semdedup_fixture(spark)
    kw = dict(n_clusters=4, threshold=0.99, seed=3)
    exact = sorted(
        map(tuple, similarity.semantic_dedup(emb, n_planes=None, **kw).collect())
    )
    lsh = sorted(
        map(tuple, similarity.semantic_dedup(emb, n_planes=8, **kw).collect())
    )
    assert exact == lsh
