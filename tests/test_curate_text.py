"""End-to-end text-corpus curation: per-stage planted-victim assertions
over the deterministic curation fixture (sources/synth.py layout table),
the composed pipeline's output invariants, and the job's lineage resume.

The composed output itself is hash-gated against a full DuckDB re-derivation
(oracle `curate_text` in __spark_entry__.py); these tests pin WHICH stage
drops WHICH planted victim — the stage-boundary evidence the oracle's
end-to-end hash can't localize.
"""

import os
import sys

from pyspark.sql import functions as F

from osm_search_spark.plans import curate_text as ct
from osm_search_spark.sources import synth
from osm_search_spark.streaming.commit import read_pointer, read_table

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "jobs"))


def _ids(df):
    return sorted(r["doc_id"] for r in df.select("doc_id").collect())


def test_stage_by_stage_planted_victims(spark):
    docs = synth.curation_corpus(spark)
    bench = synth.curation_bench(spark)
    all_ids = set(_ids(docs))

    clean = ct.clean_stage(docs).localCheckpoint(eager=True)
    # c4 victims (no terminal punctuation -> keep_page false) and nothing else
    assert all_ids - set(_ids(clean)) == set(range(60, 70))

    q = ct.quality_stage(clean).localCheckpoint(eager=True)
    dropped_q = set(_ids(clean)) - set(_ids(q))
    # gopher symbol spam (70-75), repetition (76-79), classifier gibberish
    # (80-85); doc 45 is the one good doc the trained classifier also
    # rejects (margin -0.209 — deterministic collateral, pinned here)
    assert dropped_q == set(range(70, 86)) | {45}
    # margins carried and safely away from the rounding boundary
    m = {r["doc_id"]: r["margin"] for r in q.select("doc_id", "margin").collect()}
    assert all(v > 1e-3 for v in m.values())

    d = ct.dedup_stage(q).localCheckpoint(eager=True)
    dropped_d = set(_ids(q)) - set(_ids(d))
    # exact-dup pairs keep the even (min) id; near-dup pairs keep canonical
    assert dropped_d == {91, 93, 95, 97, 101, 103, 105, 107}

    sp = ct.spans_stage(d).localCheckpoint(eager=True)
    assert _ids(sp) == _ids(d)  # span dedup rewrites text, drops nothing
    changed = sp.join(
        d.select("doc_id", F.col("text").alias("orig")), "doc_id"
    ).filter(
        F.lower(F.regexp_replace("orig", " +", " ")) != F.col("text")
    )
    # the shared 16-token line is excised from every occurrence AFTER the
    # first (110 keeps it; 111-115 lose the covered tokens)
    assert set(_ids(changed)) == set(range(111, 116))

    ds = ct.decontaminate_stage(sp, bench).localCheckpoint(eager=True)
    assert set(_ids(sp)) - set(_ids(ds)) == set(range(120, 126))

    out = ct.mix_pack_stage(ct.split_stage(ds))
    rows = out.collect()
    assert set(r["doc_id"] for r in rows) <= set(_ids(ds))
    # mixing: src0 docs (w=1.5) get 1-2 copies, src2 (w=0.5) 0-1, others 1
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for doc_id, copies in by_doc.items():
        src = copies[0]["source"]
        n = len(copies)
        assert sorted(c["copy_idx"] for c in copies) == list(range(1, n + 1))
        assert n in {"src0": (1, 2)}.get(src, (1,))
    # packing: offsets are a prefix sum in (doc_id, copy_idx) order
    ordered = sorted(rows, key=lambda r: (r["doc_id"], r["copy_idx"]))
    acc = 0
    for r in ordered:
        assert r["tok_offset"] == acc
        acc += r["n_tokens"]
        assert r["chunk_first"] == r["tok_offset"] // ct.DEFAULT_PACK_BUDGET
        assert r["shard"] == r["chunk_first"] // ct.SHARD_CHUNKS


def test_mix_weight_guard():
    import pytest

    with pytest.raises(ValueError, match="MIX_ID_STRIDE"):
        ct.mix_pack_stage(None, weights={"src0": 3.5})


def test_curate_text_job_resume(spark, tmp_path):
    import curate_text as job

    base = str(tmp_path / "text")
    *_, corpus = job.run(spark, base, use_synth=True)
    rows1 = sorted(
        corpus.collect(), key=lambda r: (r["doc_id"], r["copy_idx"])
    )
    assert len(rows1) > 0

    # second run: every stage is committed -> read-back, identical output
    *_, corpus2 = job.run(spark, base, use_synth=True)
    rows2 = sorted(
        corpus2.collect(), key=lambda r: (r["doc_id"], r["copy_idx"])
    )
    assert [tuple(r) for r in rows1] == [tuple(r) for r in rows2]

    # sharded write is hive-partitioned by shard (prunable reads)
    out = read_table(spark, f"{base}/corpus")
    plan = (
        out.filter(F.col("shard") == 0)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PartitionFilters: [isnotnull(shard" in plan

    # parameter change re-gates the downstream stage: a different pack
    # budget rebuilds corpus with different chunk spans
    *_, corpus3 = job.run(spark, base, use_synth=True, budget=64)
    c3 = {
        (r["doc_id"], r["copy_idx"]): r["chunk_first"]
        for r in corpus3.collect()
    }
    c1 = {
        (r["doc_id"], r["copy_idx"]): r["chunk_first"] for r in rows1
    }
    assert set(c3) == set(c1)
    assert any(c3[k] != c1[k] for k in c3)


def test_curate_text_job_span_n_rebuilds_downstream(spark, tmp_path):
    # a changed span_n rebuilds spans AND every stage downstream of it
    # (decon, corpus); the stages upstream of it resume
    import curate_text as job

    base = str(tmp_path / "text")
    stages = ("clean", "quality", "dedup", "spans", "decon", "corpus")

    def seqs():
        return {s: read_pointer(f"{base}/{s}")["seq"] for s in stages}

    job.run(spark, base, use_synth=True)
    before = seqs()
    *_, spans, decon, _ = job.run(
        spark, base, use_synth=True, span_n=ct.DEFAULT_SPAN_N - 3
    )
    after = seqs()
    assert {s for s in stages if after[s] != before[s]} == {
        "spans", "decon", "corpus"
    }
    assert _ids(decon) == _ids(
        ct.decontaminate_stage(spans, synth.curation_bench(spark))
    )
