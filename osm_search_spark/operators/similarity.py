"""Similarity search over embedding columns (array<float>).

- brute_force_topk: exact cosine top-k — the correctness baseline. Dot
  products via `aggregate(zip_with(...))` (JVM-side, no Python).
- hyperplanes/lsh_signature: random-hyperplane LSH buckets for the
  near-dup pair joins — candidates share a signs-signature bucket; exact
  re-rank inside buckets. Hyperplanes are deterministic (seeded numpy)
  and shipped as literal arrays, so the plan is still pure Catalyst.
- kmeans_train_sample/kmeans_train_distributed + assign_clusters/
  probe_clusters: the coarse quantizer (inverted lists + n_probe
  restriction); assignment is a literal-centroid Column argmin up to
  _ARROW_CENTROID_THRESHOLD lists, one broadcast-numpy mapInPandas
  (_map_vectors) above.
- pq_train/pq_train_distributed/pq_encode/pq_luts/pq_topk: product
  quantization — 8x-32x compressed codes, ADC lookup-table scan as ONE
  broadcast join (no dot products, flat plan in probe count), exact
  re-rank of the shortlist (FAISS-style refine); training either from a
  bounded sample or full-corpus per-subspace Lloyd.
- ivfpq_build/ivfpq_topk: the coarse quantizer's lists over residual PQ
  codes (FAISS IVFPQ).

At 10^12-row scale brute force is O(P*N) arithmetic; LSH/IVF cut the
candidate set, PQ cuts per-candidate cost and memory. All share the exact
re-rank window.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def cosine(a, b):
    return _dot(a, b) / (_norm(a) * _norm(b))


def brute_force_topk(
    probes: DataFrame,
    corpus: DataFrame,
    k: int,
    probe_id: str = "probe_id",
    probe_vec: str = "pvec",
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    exclude_self: bool = True,
) -> DataFrame:
    """(probe_id, rank, neighbor_id, cos) exact cosine top-k per probe.
    Probe side broadcasts (small); corpus side never shuffles."""
    j = corpus.crossJoin(F.broadcast(probes))
    if exclude_self:
        j = j.filter(F.col(probe_id) != F.col(corpus_id))
    scored = j.withColumn("cos", cosine(F.col(probe_vec), F.col(corpus_vec)))
    w = Window.partitionBy(probe_id).orderBy(F.desc("cos"), F.col(corpus_id))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select(probe_id, "rank", F.col(corpus_id).alias("neighbor_id"), "cos")
    )


def hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim)).tolist()


def lsh_signature(vec, planes: list[list[float]]):
    """Sign-bit signature string for a vector column given literal planes."""
    bits = [
        F.when(_dot(vec, F.array(*[F.lit(x) for x in p])) >= 0, "1").otherwise("0")
        for p in planes
    ]
    return F.concat(*bits)


def embedding_near_dup_pairs(
    corpus: DataFrame,
    threshold: float = 0.95,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    n_planes: int | None = 8,
    seed: int = 42,
) -> DataFrame:
    """(id_a, id_b, cos) pairs with cosine >= threshold — embedding-based
    near-duplicate detection. The DEFAULT restricts candidates to
    hyperplane-LSH bucket collisions (the posture that survives a web
    corpus: no full cross join; near-dups land in the same bucket with
    high probability at cos >= 0.95). Pass n_planes=None for exact
    all-pairs — small corpora and oracle checking ONLY, it is O(N^2)."""
    left = corpus.select(
        F.col(corpus_id).alias("id_a"), F.col(corpus_vec).alias("va")
    )
    right = corpus.select(
        F.col(corpus_id).alias("id_b"), F.col(corpus_vec).alias("vb")
    )
    if n_planes:
        dim = len(corpus.select(corpus_vec).first()[0])
        planes = hyperplanes(dim, n_planes, seed)
        left = left.withColumn("sig", lsh_signature(F.col("va"), planes))
        right = right.withColumn("sig", lsh_signature(F.col("vb"), planes))
        pairs = left.join(right, "sig").drop("sig")
    else:
        pairs = left.crossJoin(right)
    return (
        pairs.filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cos", cosine(F.col("va"), F.col("vb")))
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", "cos")
    )


def within_cluster_near_dup_pairs(
    assigned: DataFrame,
    threshold: float = 0.95,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    cluster_col: str = "cluster_id",
    n_planes: int | None = 8,
    seed: int = 42,
) -> DataFrame:
    """(id_a, id_b, cos) with cosine >= threshold, candidates restricted
    to pairs sharing `cluster_col` (and, by default, an LSH bucket inside
    the cluster). The SemDeDup candidate generator: pair work is bounded
    by the largest (cluster [, bucket]) group, never the corpus."""
    left = assigned.select(
        F.col(cluster_col).alias("_c"),
        F.col(corpus_id).alias("id_a"),
        F.col(corpus_vec).alias("va"),
    )
    right = assigned.select(
        F.col(cluster_col).alias("_c"),
        F.col(corpus_id).alias("id_b"),
        F.col(corpus_vec).alias("vb"),
    )
    keys = ["_c"]
    if n_planes:
        dim = len(assigned.select(corpus_vec).first()[0])
        planes = hyperplanes(dim, n_planes, seed)
        left = left.withColumn("sig", lsh_signature(F.col("va"), planes))
        right = right.withColumn("sig", lsh_signature(F.col("vb"), planes))
        keys.append("sig")
    return (
        left.join(right, keys)
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cos", cosine(F.col("va"), F.col("vb")))
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", "cos")
    )


def semantic_dedup(
    embeddings: DataFrame,
    n_clusters: int = 16,
    threshold: float = 0.95,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    n_planes: int | None = 8,
    seed: int = 42,
    cent=None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023):
    (vec_id, cluster_id, component_id, is_canonical) for EVERY vector —
    k-means cluster the corpus, find near-duplicate pairs WITHIN each
    cluster (cosine >= threshold), connect them into duplicate
    components, and keep the min-id member of each component as
    canonical. Singletons are their own canonical component.

    100 TB posture: the trainer collects only the k x dim centroid
    matrix; assignment is one narrow map pass; candidate pairs are
    bounded per (cluster [, LSH bucket]) group — no all-pairs path
    anywhere; components run in O(log d) checkpointed rounds
    (dedup.connected_components). The documented trade (same as the
    paper's): near-dups straddling a cluster boundary are missed —
    raise n_clusters' coverage with n_planes=None only on bounded
    within-cluster sizes.

    Pass `cent` to pin precomputed/deterministic centroids (the oracle
    does); otherwise `kmeans_train_distributed` trains on the corpus.
    """
    from .dedup import dedup_clusters

    if cent is None:
        cent = kmeans_train_distributed(
            embeddings, n_clusters, corpus_vec, corpus_id, seed=seed,
        )
    # ONE materialization: the assigned frame feeds the pair join twice
    # and the final join-back — a lazy frame would recompute the arrow
    # assignment per subtree (round-4 hard rule)
    assigned = assign_clusters(
        embeddings.select(corpus_id, corpus_vec), cent, corpus_vec,
    ).localCheckpoint(eager=True)
    pairs = within_cluster_near_dup_pairs(
        assigned, threshold, corpus_id, corpus_vec, "cluster_id",
        n_planes, seed,
    )
    comp = dedup_clusters(
        pairs.select(
            F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b")
        )
    ).select(
        F.col("node").alias(corpus_id), "component_id", "is_canonical"
    )
    return assigned.select(corpus_id, "cluster_id").join(
        comp, corpus_id, "left"
    ).select(
        corpus_id,
        "cluster_id",
        F.coalesce("component_id", F.col(corpus_id)).alias("component_id"),
        F.coalesce("is_canonical", F.lit(True)).alias("is_canonical"),
    )


def _centroid_sims(vec, cent):
    """[(cluster_idx, cosine-to-centroid Column)] with centroids as
    broadcast literal arrays — pure Column arithmetic, no UDF."""
    return [
        (ci, _dot(vec, F.array(*[F.lit(float(v)) for v in c]))
         / (_norm(vec) + F.lit(1e-12)))
        for ci, c in enumerate(cent)
    ]


def _argmax_cluster(vec, cent):
    sims = _centroid_sims(vec, cent)
    expr = F.lit(0)
    best = sims[0][1]
    for ci, s in sims[1:]:
        expr = F.when(s > best, ci).otherwise(expr)
        best = F.greatest(best, s)
    return expr


def _top_clusters(vec, cent, n_probe: int):
    sims = _centroid_sims(vec, cent)
    arr = F.array(*[F.struct(s.alias("s"), F.lit(ci).alias("c")) for ci, s in sims])
    return F.slice(F.reverse(F.array_sort(arr)), 1, n_probe).getField("c")


# --- coarse-quantizer kernels -------------------------------------------------
#
# The Column kernels above embed every centroid as an F.lit array: expression
# size is O(n_centroids * dim) and _argmax_cluster nests n_centroids when()
# chains — past ~32 lists this blows the JIT method-size limit / plan size
# long before data does. Above _ARROW_CENTROID_THRESHOLD lists the centroid
# matrix ships as ONE broadcast numpy array into mapInPandas (_map_vectors):
# plan size is constant in n_centroids, the per-batch work is a BLAS matmul,
# and a billion-row corpus can use the 4k-65k inverted lists it actually
# needs. At or below it the codegen Column kernel runs. The constant is read
# at call time (tests monkeypatch it to force either kernel).

_ARROW_CENTROID_THRESHOLD = 32


def _map_vectors(df: DataFrame, mat, vec_col: str, fields, fn) -> DataFrame:
    """df + `fields` (StructFields) computed per Arrow batch: `mat` ships
    ONCE as a broadcast float64 ndarray M, each non-empty batch stacks
    `vec_col` into an (n, dim) float64 X, and fn(pdf, X, M) returns one
    value sequence per field. The single broadcast-numpy kernel shape of
    this module (coarse assign/probe, residuals, PQ codes, ADC LUTs)."""
    import pandas as pd

    from pyspark.sql.types import StructType

    bc = df.sparkSession.sparkContext.broadcast(
        np.asarray(mat, dtype=np.float64)
    )
    # StructType.add mutates in place — build a fresh schema
    schema = StructType(list(df.schema.fields) + list(fields))
    names = [f.name for f in fields]

    def run(batches):
        M = bc.value
        for pdf in batches:
            if pdf.empty:
                for name in names:
                    pdf[name] = pd.Series([], dtype=object)
                yield pdf
                continue
            X = np.array(list(pdf[vec_col]), dtype=np.float64)
            pdf = pdf.copy()
            for name, values in zip(names, fn(pdf, X, M)):
                pdf[name] = values
            yield pdf

    return df.mapInPandas(run, schema=schema)


def _probe_sims(X: np.ndarray, C: np.ndarray) -> np.ndarray:
    """(n, k) cosine-to-centroid matrix matching _centroid_sims: dot with
    the (unit-norm) centroid, divided by ||x||+1e-12 — the same expression
    the Column kernel evaluates. EXACT ties (bit-equal sims) resolve
    identically (lowest id, see the argmax below); but numpy's BLAS matmul
    sums in a different order than Spark's sequential aggregate fold, so a
    NEAR-tie (sims differing only in the last ULP) can assign differently
    across kernels — assignments may change at the
    _ARROW_CENTROID_THRESHOLD boundary for vectors nearly equidistant to
    two centroids. Strict cross-kernel determinism is not claimed."""
    norms = np.sqrt((X * X).sum(axis=1, keepdims=True)) + 1e-12
    return (X @ C.T) / norms


def assign_clusters(
    df: DataFrame,
    cent,
    vec_col: str,
    out_col: str = "cluster_id",
    residual_col: str | None = None,
) -> DataFrame:
    """Add `out_col` = argmax cosine(vec, centroid) (ties -> lowest id,
    matching _argmax_cluster). With residual_col set, also add
    vec - centroids[cluster] (array<double>) in the same pass.

    Up to _ARROW_CENTROID_THRESHOLD centroids this is the pure-Column
    literal kernel; above it the centroid matrix is broadcast into
    mapInPandas — constant plan size, scales to thousands of lists."""
    cent = np.asarray(cent, dtype=np.float64)
    if len(cent) <= _ARROW_CENTROID_THRESHOLD:
        out = df.withColumn(out_col, _argmax_cluster(F.col(vec_col), cent))
        if residual_col:
            out = out.withColumn(
                residual_col, _residual(F.col(vec_col), cent, F.col(out_col))
            )
        return out

    from pyspark.sql.types import ArrayType, DoubleType, IntegerType, StructField

    fields = [StructField(out_col, IntegerType())]
    if residual_col:
        fields.append(StructField(residual_col, ArrayType(DoubleType())))

    def assign(pdf, X, C):
        ids = _probe_sims(X, C).argmax(axis=1)  # first max = lowest id
        return [ids.astype("int32")] + (
            [list(X - C[ids])] if residual_col else []
        )

    return _map_vectors(df, cent, vec_col, fields, assign)


def probe_clusters(
    df: DataFrame,
    cent,
    vec_col: str,
    n_probe: int,
    out_col: str = "cluster_id",
    residual_col: str | None = None,
) -> DataFrame:
    """Explode each probe row into its n_probe nearest-centroid rows
    (ordering: descending cosine, ties -> highest id, matching
    _top_clusters' reversed array_sort). With residual_col set, also add
    the probe's residual against EACH probed centroid (IVF-PQ semantics).
    Kernel chosen by centroid count as in assign_clusters."""
    cent = np.asarray(cent, dtype=np.float64)
    if len(cent) <= _ARROW_CENTROID_THRESHOLD:
        out = df.withColumn(
            out_col, F.explode(_top_clusters(F.col(vec_col), cent, n_probe))
        )
        if residual_col:
            out = out.withColumn(
                residual_col, _residual(F.col(vec_col), cent, F.col(out_col))
            )
        return out

    from pyspark.sql.types import ArrayType, DoubleType, IntegerType, StructField

    def top(pdf, X, C):
        S = _probe_sims(X, C)
        # stable argsort over REVERSED columns: descending sim with ties
        # broken toward the higher original cluster id — exactly
        # reverse(array_sort(struct(s, c)))
        idx_rev = np.argsort(-S[:, ::-1], axis=1, kind="stable")
        return (list((len(C) - 1 - idx_rev[:, :n_probe]).astype("int32")),)

    exploded = _map_vectors(
        df, cent, vec_col,
        [StructField("_clusters", ArrayType(IntegerType()))], top,
    ).select(*df.columns, F.explode("_clusters").alias(out_col))
    if not residual_col:
        return exploded
    # residual against the PROBED centroid: one more arrow pass over the
    # exploded (bounded: |probes| * n_probe) frame
    return _map_vectors(
        exploded, cent, vec_col,
        [StructField(residual_col, ArrayType(DoubleType()))],
        lambda pdf, X, C: (
            list(X - C[np.asarray(pdf[out_col], dtype=np.int64)]),
        ),
    )


def kmeans_train_sample(
    corpus: DataFrame, n_centroids: int, corpus_vec: str = "embedding",
    seed: int = 42, sample: int = 2048, iters: int = 8,
):
    """Mini-kmeans over a bounded seeded sample (driver-side, O(sample)).
    Fine when cluster structure is visible in a sample; see
    kmeans_train_distributed for the full-corpus trainer."""
    rows = corpus.select(corpus_vec).limit(sample).collect()
    x = np.array([r[0] for r in rows], dtype=np.float64)
    x /= np.linalg.norm(x, axis=1, keepdims=True) + 1e-12
    rng = np.random.default_rng(seed)
    cent = x[rng.choice(len(x), size=min(n_centroids, len(x)), replace=False)]
    for _ in range(iters):
        assign = np.argmax(x @ cent.T, axis=1)
        for c in range(len(cent)):
            m = x[assign == c]
            if len(m):
                v = m.mean(axis=0)
                cent[c] = v / (np.linalg.norm(v) + 1e-12)
    return cent


def kmeans_train_distributed(
    corpus: DataFrame, n_centroids: int, corpus_vec: str = "embedding",
    corpus_id: str = "vec_id", iters: int = 3, seed: int = 42,
):
    """Spherical Lloyd iterations over the FULL corpus — no fixed-size
    driver sample (the round-1 honest caveat). Each iteration:

      assign: distributed argmax (assign_clusters — the same kernel the
        query path uses);
      update: vectors L2-normalize FIRST (spherical k-means — the same
        objective the sample trainer optimizes; without it large-norm
        vectors dominate the centroid sums), then posexplode(vec) ->
        groupBy(cluster, dim).sum — one shuffle of k x dim partial sums;
        only the k x dim centroid matrix is ever collected (tiny,
        independent of corpus size).

    Init is kmeans-sample over a bounded seed set for stable starting
    points; every subsequent pass is corpus-wide.
    """
    cent = kmeans_train_sample(
        corpus, n_centroids, corpus_vec, seed=seed,
        sample=max(8 * n_centroids, 256), iters=2,
    )
    for _ in range(iters):
        inv_norm = F.lit(1.0) / (_norm(F.col(corpus_vec)) + F.lit(1e-12))
        assigned = assign_clusters(
            corpus.select(corpus_vec), cent, corpus_vec
        ).select(
            "cluster_id",
            F.transform(
                corpus_vec, lambda x: x.cast("double") * inv_norm
            ).alias("nvec"),
        )
        sums = (
            assigned.select(
                "cluster_id", F.posexplode("nvec").alias("pos", "v")
            )
            .groupBy("cluster_id", "pos")
            .agg(F.sum(F.col("v").cast("double")).alias("s"))
            .collect()
        )
        new = np.array(cent, dtype=np.float64)
        acc = np.zeros_like(new)
        seen = np.zeros(len(cent), dtype=bool)
        for r in sums:
            acc[r["cluster_id"], r["pos"]] = r["s"]
            seen[r["cluster_id"]] = True
        norms = np.linalg.norm(acc, axis=1, keepdims=True) + 1e-12
        new[seen] = (acc / norms)[seen]
        cent = new
    return cent


# --- product quantization (PQ) ------------------------------------------------

# A probe batch's flattened LUTs are m*kc doubles per (probe, list) row; the
# ADC join broadcasts them. Past this budget a broadcast would OOM the
# driver/executors, so pq_topk chunks the probe batch (its join key is a
# constant — a shuffle join would collapse to one partition) and ivfpq_topk
# switches to a SHUFFLE_HASH join on cluster_id (a real key, so the join
# stays parallel). Results are identical either side of the threshold
# (tested); thresholds documented in PLANS.md.
DEFAULT_ADC_BROADCAST_MB = 64.0


def _lut_mb(n_rows: int, m: int, kc: int) -> float:
    return n_rows * m * kc * 8 / 1e6

def pq_train(
    corpus: DataFrame, m: int = 16, k: int = 32,
    corpus_vec: str = "embedding", seed: int = 42, sample: int = 4096,
    iters: int = 10,
):
    """Train m sub-codebooks of k centroids each (L2 k-means per vector
    subspace) — the classic PQ codebook. Codebooks are tiny (m*k*dsub
    floats); training is a bounded driver sample (swap in
    kmeans_train_distributed per subspace for full-corpus training)."""
    rows = corpus.select(corpus_vec).limit(sample).collect()
    x = np.array([r[0] for r in rows], dtype=np.float64)
    dim = x.shape[1]
    assert dim % m == 0, f"dim {dim} not divisible by m={m}"
    dsub = dim // m
    rng = np.random.default_rng(seed)
    books = []
    for j in range(m):
        xs = x[:, j * dsub : (j + 1) * dsub]
        cent = xs[rng.choice(len(xs), size=min(k, len(xs)), replace=False)].copy()
        for _ in range(iters):
            d2 = ((xs[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for c in range(len(cent)):
                mcl = xs[assign == c]
                if len(mcl):
                    cent[c] = mcl.mean(axis=0)
        books.append(cent)
    return np.array(books)  # (m, k, dsub)


def pq_train_distributed(
    corpus: DataFrame, m: int = 16, k: int = 32,
    corpus_vec: str = "embedding", seed: int = 42, iters: int = 4,
):
    """Per-subspace Lloyd k-means over the FULL corpus — no fixed-size
    driver sample on the PQ path (mirrors kmeans_train_distributed for
    IVF). Each iteration:

      assign: pq_encode — broadcast codebooks, vectorized numpy argmin
        per subspace inside mapInPandas;
      update: posexplode(codes) -> slice the assigned subvector ->
        posexplode dims -> groupBy(subspace, code, dim).sum — ONE shuffle
        of m*k*dsub partial sums; only that tiny matrix is collected.

    Init is the bounded-sample trainer for stable starting points; every
    subsequent pass is corpus-wide. Objective matches pq_train (plain
    per-subspace mean — PQ quantizes raw subvectors, not unit vectors)."""
    dim = len(corpus.select(corpus_vec).first()[0])
    assert dim % m == 0, f"dim {dim} not divisible by m={m}"
    dsub = dim // m
    books = pq_train(
        corpus, m, k, corpus_vec, seed=seed,
        sample=max(8 * k, 512), iters=4,
    )
    for _ in range(iters):
        coded = pq_encode(corpus, books, corpus_vec)
        # generators can't nest: one per select
        sub = coded.select(
            F.posexplode("codes").alias("j", "c"),
            F.col(corpus_vec).alias("v"),
        )
        per_dim = sub.select(
            "j", "c",
            F.posexplode(
                F.slice("v", F.col("j") * dsub + 1, F.lit(dsub))
            ).alias("p", "x"),
        )
        sums = (
            per_dim.groupBy("j", "c", "p")
            .agg(
                F.sum(F.col("x").cast("double")).alias("s"),
                F.count("*").alias("n"),
            )
            .collect()
        )
        new = np.array(books, dtype=np.float64)
        for r in sums:
            new[r["j"], r["c"], r["p"]] = r["s"] / r["n"]
        books = new
    return books


def _subspace_d2(xs: np.ndarray, book: np.ndarray) -> np.ndarray:
    """(n, k) squared L2 from each subvector to every codeword of one
    sub-codebook, via ||x||^2 - 2 x.c + ||c||^2."""
    return (
        (xs * xs).sum(axis=1, keepdims=True)
        - 2.0 * xs @ book.T
        + (book * book).sum(axis=1)[None, :]
    )


def pq_encode(
    corpus: DataFrame, codebooks, corpus_vec: str = "embedding",
) -> DataFrame:
    """Add `codes` (array<int>, length m): per-subspace argmin over the
    codebook — 8x-32x memory compression of the embedding column at 100 TB.

    Broadcast codebooks + vectorized numpy argmin inside mapInPandas —
    scales to k=256 codewords (a Column expression tree with m*k when()
    terms grows past the JVM JIT method-size limit and falls back to
    interpreted evaluation)."""
    from pyspark.sql.types import ArrayType, IntegerType, StructField

    m, k, dsub = codebooks.shape

    def enc(pdf, X, books):
        codes = np.empty((len(X), m), dtype=np.int32)
        for j in range(m):
            xs = X[:, j * dsub : (j + 1) * dsub]
            codes[:, j] = _subspace_d2(xs, books[j]).argmin(axis=1)
        return (list(codes),)

    return _map_vectors(
        corpus, codebooks, corpus_vec,
        [StructField("codes", ArrayType(IntegerType()))], enc,
    )


def pq_luts(
    probes: DataFrame, codebooks, probe_vec: str = "pvec",
) -> DataFrame:
    """Add `lut` (array<double>, length m*k): the flattened per-probe ADC
    lookup table — exact squared L2 from the probe's j-th subvector to
    every codeword of sub-codebook j at position j*k + c. Vectorized numpy
    inside mapInPandas (codebooks broadcast); never a driver collect, so
    the probe batch can itself be a big DataFrame."""
    from pyspark.sql.types import ArrayType, DoubleType, StructField

    m, kc, dsub = codebooks.shape

    def build(pdf, X, books):
        luts = np.empty((len(X), m * kc), dtype=np.float64)
        for j in range(m):
            xs = X[:, j * dsub : (j + 1) * dsub]
            luts[:, j * kc : (j + 1) * kc] = _subspace_d2(xs, books[j])
        return (list(luts),)

    return _map_vectors(
        probes, codebooks, probe_vec,
        [StructField("lut", ArrayType(DoubleType()))], build,
    )


def _adc_dist(m: int, kc: int):
    """ADC distance as m codegen-able element_at terms over `lut`/`codes`
    (a fixed 16-term sum stays in whole-stage codegen; a zip_with/aggregate
    HOF over the same data runs interpreted at ~10x the cost on the
    10^12-pair scan)."""
    adc = None
    for j in range(m):
        term = F.element_at(
            "lut", F.element_at("codes", j + 1) + F.lit(j * kc) + 1
        )
        adc = term if adc is None else adc + term
    return adc


def _exact_rerank(
    corpus: DataFrame,
    short: DataFrame,
    probes: DataFrame,
    k: int,
    probe_id: str,
    probe_vec: str,
    corpus_id: str,
    corpus_vec: str,
) -> DataFrame:
    """Exact-L2 top-k over a (probe_id, corpus_id) shortlist: the vectors
    come back through broadcasts of the shortlist and the probes — one
    bounded corpus probe, no wide shuffle (the FAISS-style refine)."""
    fetched = (
        corpus.select(corpus_id, corpus_vec)
        .join(F.broadcast(short), corpus_id)
        .join(F.broadcast(probes.select(probe_id, probe_vec)), probe_id)
    )
    exact = F.aggregate(
        F.zip_with(
            F.col(corpus_vec), F.col(probe_vec),
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0), lambda acc, x: acc + x,
    )
    w = Window.partitionBy(probe_id).orderBy("exact_dist", F.col(corpus_id))
    return (
        fetched.withColumn("exact_dist", exact)
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select(
            probe_id, "rank", F.col(corpus_id).alias("neighbor_id"),
            F.col("exact_dist").alias("dist"),
        )
    )


def pq_topk(
    probes: DataFrame,
    corpus_codes: DataFrame,
    codebooks,
    k: int,
    probe_id: str = "probe_id",
    probe_vec: str = "pvec",
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    refine_factor: int = 5,
) -> DataFrame:
    """Approximate L2 top-k by Asymmetric Distance Computation as ONE join:
    probes carry their flattened m*k lookup table (pq_luts, computed
    distributed), broadcast onto a SINGLE corpus_codes scan; a corpus row's
    distance is a zip_with fold of m `element_at` lookups — no dot product,
    dimension-independent scan cost, flat plan size no matter how many
    probes are in the batch (the round-2 per-probe union of N corpus scans
    is gone).

    refine_factor: when > 1 and `corpus_codes` still carries the original
    vector column, the ADC shortlist of k*refine_factor candidates is
    re-ranked by EXACT L2 against the joined probe vector (the FAISS-style
    refine stage) — the shortlist is tiny, so the exact math never touches
    the full corpus.

    LUT broadcast guard (m*kc doubles per probe): a probe batch whose LUTs
    exceed DEFAULT_ADC_BROADCAST_MB (read at call time) is split into
    hash-chunks, each running the same broadcast plan (the join key is
    constant, so a shuffle join would serialize into one partition —
    chunking keeps every chunk's scan parallel); results are the union,
    identical to the one-shot plan."""
    m, kc, _ = codebooks.shape
    mb = _lut_mb(probes.count(), m, kc)  # bounded job on the small side
    n_chunks = int(np.ceil(mb / DEFAULT_ADC_BROADCAST_MB))
    args = (
        corpus_codes, codebooks, k, probe_id, probe_vec, corpus_id,
        corpus_vec, refine_factor,
    )
    if n_chunks <= 1:
        return _pq_topk_batch(probes, *args)
    out = None
    for i in range(n_chunks):
        chunk = probes.filter(
            F.pmod(F.hash(F.col(probe_id)), F.lit(n_chunks)) == i
        )
        part = _pq_topk_batch(chunk, *args)
        out = part if out is None else out.unionByName(part)
    return out


def _pq_topk_batch(
    probes: DataFrame,
    corpus_codes: DataFrame,
    codebooks,
    k: int,
    probe_id: str,
    probe_vec: str,
    corpus_id: str,
    corpus_vec: str,
    refine_factor: int,
) -> DataFrame:
    """pq_topk for one probe batch whose LUTs fit one broadcast."""
    m, kc, _ = codebooks.shape
    shortlist = k * refine_factor
    plut = pq_luts(
        probes.select(probe_id, probe_vec), codebooks, probe_vec
    )
    adc = _adc_dist(m, kc)
    # narrow BEFORE the top-k shuffle: only (probe_id, corpus_id, adc_dist)
    # ever moves — never the LUT / code / vector payloads. The probe fan-out
    # is a constant-key BroadcastHASHJoin, not a crossJoin: BNLJ is excluded
    # from whole-stage codegen, BHJ multi-match stays inside it (~5x on the
    # ADC scan).
    # NON-FOLDABLE constant key: a literal F.lit(1) key is constant-folded
    # by Catalyst (1 = 1 -> true), which DEGRADES the join to a
    # BroadcastNestedLoopJoin (codegen-excluded) — col*0+1 evaluates to 1
    # per row but survives as an equi-key, keeping the BroadcastHashJoin
    # (caught by tests/test_plans.py::test_pq_topk_constant_key_is_bhj)
    scored = (
        corpus_codes.select(
            corpus_id, "codes",
            (F.col(corpus_id) * 0 + 1).alias("_k"),
        )
        .join(
            F.broadcast(
                plut.select(
                    probe_id, "lut", (F.col(probe_id) * 0 + 1).alias("_k")
                )
            ),
            "_k",
        )
        .filter(F.col(corpus_id) != F.col(probe_id))
        .select(probe_id, corpus_id, adc.alias("adc_dist"))
    )
    w = Window.partitionBy(probe_id).orderBy("adc_dist", F.col(corpus_id))
    ranked = scored.withColumn("rank", F.row_number().over(w).cast("long"))
    if refine_factor > 1:
        short = ranked.filter(F.col("rank") <= shortlist).select(
            probe_id, corpus_id
        )
        return _exact_rerank(
            corpus_codes, short, probes, k, probe_id, probe_vec, corpus_id,
            corpus_vec,
        )
    return ranked.filter(F.col("rank") <= k).select(
        probe_id, "rank", F.col(corpus_id).alias("neighbor_id"),
        F.col("adc_dist").alias("dist"),
    )


# --- IVF-PQ: coarse inverted lists + residual product quantization ------------

def _centroid_lit(cent):
    """Centroid matrix as a literal nested array Column (k x dim — tiny)."""
    return F.array(
        *[F.array(*[F.lit(float(v)) for v in c]) for c in cent]
    )


def _residual(vec, cent, cluster_col):
    """vec - centroids[cluster] as a Column (zip_with subtract against the
    literal centroid row selected by cluster id)."""
    row = F.element_at(_centroid_lit(cent), cluster_col + 1)
    return F.zip_with(
        vec, row, lambda x, c: x.cast("double") - c
    )


def ivfpq_build(
    corpus: DataFrame,
    n_centroids: int = 16,
    m: int = 16,
    kc: int = 32,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    seed: int = 42,
    train: str = "sample",
):
    """Build the IVF-PQ index: (indexed DataFrame, coarse centroids, PQ
    codebooks). The classic composition (FAISS IVFPQ): a coarse spherical
    k-means quantizer splits the corpus into inverted lists; each vector's
    RESIDUAL from its coarse centroid is product-quantized (residuals are
    much smaller than raw vectors, so the same code budget quantizes finer).

    indexed = corpus + cluster_id (int) + codes (array<int>, m bytes of
    information per vector) — at 10^12 rows this is the only thing the
    query path scans, 16x+ smaller than the embedding column, partitionable
    by cluster_id so a probe touches only its n_probe lists.

    train="distributed" uses the full-corpus trainers for BOTH stages
    (kmeans_train_distributed + pq_train_distributed); "sample" uses the
    bounded-sample trainers. Coarse assignment and residual run in one
    fused pass (assign_clusters: literal Column arithmetic up to
    _ARROW_CENTROID_THRESHOLD lists, broadcast-numpy mapInPandas above)."""
    if train == "distributed":
        cent = kmeans_train_distributed(
            corpus, n_centroids, corpus_vec, corpus_id, seed=seed,
        )
    else:
        cent = kmeans_train_sample(
            corpus, n_centroids, corpus_vec, seed=seed,
            sample=max(2048, 8 * n_centroids),
        )

    assigned = assign_clusters(corpus, cent, corpus_vec, residual_col="_rvec")
    res_frame = assigned.select(F.col("_rvec").alias("rvec"))
    if train == "distributed":
        books = pq_train_distributed(res_frame, m, kc, corpus_vec="rvec", seed=seed)
    else:
        books = pq_train(res_frame, m, kc, corpus_vec="rvec", seed=seed)
    indexed = pq_encode(assigned, books, corpus_vec="_rvec").drop("_rvec")
    return indexed, cent, books


_HOT_LIST_MAX_SALT = 64


def _shuffle_adc_join(
    corpus_sel: DataFrame,
    plut: DataFrame,
    corpus_id: str,
    hot_list_salt: bool,
    hot_list_factor: float,
) -> DataFrame:
    """SHUFFLE_HASH ADC join on cluster_id with optional hot-list salting
    (see ivfpq_topk docstring). Output == the plain join row-for-row."""
    if not hot_list_salt:
        return corpus_sel.join(plut.hint("SHUFFLE_HASH"), "cluster_id")
    # list-size probe: one map-side-combined count, bounded by the number
    # of inverted lists (n_centroids) — never a corpus-sized collect
    sizes = corpus_sel.groupBy("cluster_id").count().collect()
    if not sizes:
        return corpus_sel.join(plut.hint("SHUFFLE_HASH"), "cluster_id")
    mean = sum(r["count"] for r in sizes) / len(sizes)
    cut = hot_list_factor * mean
    hot = {
        int(r["cluster_id"]): min(
            _HOT_LIST_MAX_SALT, int(-(-r["count"] // cut))
        )
        for r in sizes
        if r["count"] > cut
    }
    if not hot:
        return corpus_sel.join(plut.hint("SHUFFLE_HASH"), "cluster_id")
    flat = []
    for c, s in hot.items():
        flat += [F.lit(c), F.lit(s)]
    s_col = F.coalesce(
        F.element_at(F.create_map(*flat), F.col("cluster_id")), F.lit(1)
    )
    # sub-key: deterministic spread of a hot list's codes; cluster_id is
    # recoverable (the pair key stays equivalent to cluster_id alone for
    # cold lists where s == 1 -> salt 0)
    ck = F.col("cluster_id") * _HOT_LIST_MAX_SALT
    salted_corpus = corpus_sel.withColumn(
        "_ck", ck + F.pmod(F.xxhash64(F.col(corpus_id)), s_col)
    )
    salted_lut = plut.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), s_col - 1))
    ).withColumn("_ck", ck + F.col("_salt")).drop("_salt")
    return (
        salted_corpus.join(salted_lut.hint("SHUFFLE_HASH"), ["cluster_id", "_ck"])
        .drop("_ck")
    )


def ivfpq_topk(
    probes: DataFrame,
    indexed: DataFrame,
    cent,
    books,
    k: int,
    n_probe: int = 4,
    probe_id: str = "probe_id",
    probe_vec: str = "pvec",
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    refine_factor: int = 5,
    hot_list_salt: bool = True,
    hot_list_factor: float = 4.0,
) -> DataFrame:
    """Approximate L2 top-k over the IVF-PQ index: each probe visits only
    its n_probe nearest inverted lists; within a list, distance is the ADC
    scan over RESIDUAL codes (per-(probe, cluster) LUT built from the
    probe's residual against that cluster's centroid — exact IVFPQ
    semantics); the k*refine_factor shortlist re-ranks by exact L2.

    Scale shape: the probe side explodes to n_probe (probe, cluster) rows,
    gets its LUTs distributed (pq_luts), and BROADCASTS; the join is a
    hash join ON cluster_id, so a corpus row is only ever matched against
    probes that chose its list — candidate work is corpus_fraction *
    n_probe/n_centroids, and the big side never shuffles.

    LUT broadcast guard: |probes| * n_probe rows of m*kc doubles. Past
    DEFAULT_ADC_BROADCAST_MB (read at call time), the ADC join switches to a SHUFFLE_HASH
    join on cluster_id — a real key, so the join stays parallel (unlike
    pq_topk's constant key, which must chunk instead); identical results
    (tested).

    hot_list_salt (shuffle path only): a PATHOLOGICAL inverted list — one
    cluster holding a large corpus fraction — concentrates its whole ADC
    scan in the single task owning that cluster_id. The guard probes list
    sizes (one bounded map-side-combined count: <= n_centroids rows),
    salts codes of lists larger than hot_list_factor x the mean across
    ceil(size / (factor x mean)) sub-keys (<= _HOT_LIST_MAX_SALT), and
    replicates ONLY those lists' LUT rows across the sub-keys — the LSH
    mega-bucket posture. Every (code row, LUT row) pair still meets
    exactly once, so results are identical (tested)."""
    m, kc, dsub = books.shape
    shortlist = k * refine_factor
    p_assigned = probe_clusters(
        probes.select(probe_id, probe_vec), cent, probe_vec, n_probe,
        residual_col="rpvec",
    )
    plut = pq_luts(
        p_assigned.select(probe_id, "cluster_id", "rpvec"), books, "rpvec"
    ).drop("rpvec")
    use_shuffle = (
        _lut_mb(probes.count() * n_probe, m, kc) > DEFAULT_ADC_BROADCAST_MB
    )

    adc = _adc_dist(m, kc)
    corpus_sel = indexed.select(corpus_id, "cluster_id", "codes")
    if not use_shuffle:
        joined = corpus_sel.join(F.broadcast(plut), "cluster_id")
    else:
        joined = _shuffle_adc_join(
            corpus_sel, plut, corpus_id, hot_list_salt, hot_list_factor
        )
    scored = joined.filter(F.col(corpus_id) != F.col(probe_id)).select(
        probe_id, corpus_id, adc.alias("adc_dist")
    )
    w = Window.partitionBy(probe_id).orderBy("adc_dist", F.col(corpus_id))
    short = (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= shortlist)
        .select(probe_id, corpus_id)
    )
    return _exact_rerank(
        indexed, short, probes, k, probe_id, probe_vec, corpus_id, corpus_vec
    )
