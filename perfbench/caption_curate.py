"""Workload `caption_curate`: the text-curation job over image captions.

A seeded caption corpus (long-form captions in the planted-curation
style: 90% unique good docs, 5% exact duplicates, 4% near duplicates, 1%
contaminated with a benchmark line) goes through
`plans.curate_text.curate_text`, committed through `plans.lineage.run_stage`
(output + lineage, the way the batch jobs sink it); then the same stage is
resumed from the committed base.

One cycle = fresh curate pass + resume. The survivors are checked against
the planted composition (within the stated MinHash LSH error tolerance).
"""

from __future__ import annotations

import hashlib
import shutil

import numpy as np
import pyarrow as pa

from . import common

N_DOCS = 400
EXACT_DUP_SHARE = 0.05
NEAR_DUP_SHARE = 0.04
CONTAMINATED_SHARE = 0.01
N_SOURCES = 4
# MinHash LSH here uses 4 hashes in 2 bands with no similarity check, so it
# merges a few unrelated docs (false positives) and misses a few planted
# pairs (false negatives, ~2.5% a pair at this caption length) by design.
# Tolerated shares: good docs merged away, planted near dups kept.
MAX_GOOD_LOST = 0.03
MAX_NEAR_KEPT = 0.25

# Words of a good caption: the content words of the quality classifier's
# own labelled-good training corpus, each carrying a three-letter tag drawn
# per document, so distinct documents share few character shingles and the
# near-duplicate graph holds only the planted pairs.
_STOPS = ("the", "be", "to", "of", "and", "that", "have", "with")
# at this share every good caption clears the classifier with margin >= ~1
STOPWORD_SHARE = 0.55
_LETTERS = "abcdefghijklmnopqrstuvwxyz"


def _content_words() -> list[str]:
    from osm_search_spark.functions.text import GOPHER_REQUIRED_STOPWORDS
    from osm_search_spark.sources.synth import quality_corpus_py

    words = {
        w.rstrip(".")
        for _, text, label in quality_corpus_py(200)
        if label == 1
        for w in text.split()
    }
    return sorted(words - set(GOPHER_REQUIRED_STOPWORDS))


def _good_caption(rng: np.random.Generator, content: list[str], n_lines: int = 7) -> str:
    tag = "".join(_LETTERS[i] for i in rng.integers(26, size=3))
    lines = []
    for _ in range(n_lines):
        toks = []
        for _ in range(int(rng.integers(8, 13))):
            if rng.random() < STOPWORD_SHARE:
                toks.append(_STOPS[rng.integers(len(_STOPS))])
            else:
                toks.append(content[rng.integers(len(content))] + tag)
        lines.append(" ".join(toks) + ".")
    return "\n".join(lines)


def _mix_copies(source: str, doc_id: int) -> int:
    """Copies `curate_text`'s default source mixing gives one document:
    floor(weight), plus one when the document's salted-md5 bucket falls
    under the weight's fractional cut (re-derived here with hashlib)."""
    from osm_search_spark.operators.curation import SPLIT_BUCKETS
    from osm_search_spark.plans.curate_text import DEFAULT_MIX_WEIGHTS

    w = DEFAULT_MIX_WEIGHTS.get(source, 1.0)
    bucket = int(hashlib.md5(f"mix:{source}:{doc_id}".encode()).hexdigest()[:8], 16)
    return int(w) + (bucket % SPLIT_BUCKETS < round((w - int(w)) * SPLIT_BUCKETS))


class CaptionCurate:
    name = "caption_curate"

    def __init__(self, spark, work: str, seed: int, tracer):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.tracer = tracer
        self.n_pass = 0

    def generate(self, out: str) -> None:
        from osm_search_spark.sources.synth import curation_bench_py

        rng = np.random.default_rng(self.seed)
        bench = curation_bench_py()
        content = _content_words()
        n_exact = int(N_DOCS * EXACT_DUP_SHARE)
        n_near = int(N_DOCS * NEAR_DUP_SHARE)
        n_cont = int(N_DOCS * CONTAMINATED_SHARE)
        # planted doc kinds in seeded positions: good and contaminated docs
        # in seeded order, then each duplicate placed right after its own
        # good doc (a dup copies the doc before it)
        n_good = N_DOCS - n_exact - n_near - n_cont
        base = rng.permutation(["good"] * n_good + ["cont"] * n_cont)
        hosts = rng.choice(np.flatnonzero(base == "good"), n_exact + n_near, replace=False)
        dup_of = dict(zip(hosts.tolist(), rng.permutation(["exact"] * n_exact + ["near"] * n_near)))
        kinds = []
        for i, kind in enumerate(base):
            kinds.append(kind)
            if i in dup_of:
                kinds.append(dup_of[i])
        # each contaminated doc embeds a different benchmark line (a line two
        # docs shared would be span-deduplicated before decontamination)
        bench_lines = iter(rng.permutation(len(bench)))
        texts, keep, near = [], [], []
        for i, kind in enumerate(kinds):
            if kind == "exact":
                text = texts[i - 1]
            elif kind == "near":
                lines = texts[i - 1].split("\n")
                words = lines[0].split(" ")
                words[-1] = "variant."
                lines[0] = " ".join(words)
                text = "\n".join(lines)
                near.append(i)
            else:
                text = _good_caption(rng, content)
                if kind == "cont":
                    lines = text.split("\n")
                    lines.insert(2, bench[int(next(bench_lines))][1].split("\n")[0])
                    text = "\n".join(lines)
                else:
                    keep.append(i)
            texts.append(text)
        sources = [f"src{i % N_SOURCES}" for i in range(N_DOCS)]
        common.write_parquet(
            pa.table(
                {
                    "doc_id": pa.array(np.arange(N_DOCS), pa.int64()),
                    "source": sources,
                    "lang": ["en"] * N_DOCS,
                    "text": texts,
                }
            ),
            f"{out}/docs",
        )
        common.write_parquet(
            pa.table(
                {
                    "bench_id": pa.array([b for b, _ in bench], pa.int64()),
                    "text": [t for _, t in bench],
                }
            ),
            f"{out}/bench",
            files=1,
        )
        self.inputs = out
        self.expected_copies = {
            i: c for i in keep if (c := _mix_copies(sources[i], i)) > 0
        }
        self.near_copies = {i: _mix_copies(sources[i], i) for i in near}
        self.sizes = {
            "docs": N_DOCS,
            "docs_bytes": common.dir_bytes(f"{out}/docs"),
            "exact_dup_share": n_exact / N_DOCS,
            "near_dup_share": n_near / N_DOCS,
            "contaminated_share": n_cont / N_DOCS,
            "benchmark_docs": len(bench),
            "good_docs": len(keep),
            "expected_rows": sum(self.expected_copies.values()),
        }

    def prepare(self) -> None:
        """Open the staged inputs with their known schemas (no warm-up: a
        batch job runs once per JVM, so its users pay JIT and codegen on
        every run)."""
        rd = self.spark.read
        self.docs = rd.schema(
            "doc_id bigint, source string, lang string, text string"
        ).parquet(f"{self.inputs}/docs")
        self.bench = rd.schema("bench_id bigint, text string").parquet(
            f"{self.inputs}/bench"
        )
        self.lsh_errors: list[dict] = []

    # ---- operations ----------------------------------------------------
    def _stage(self, base: str):
        from osm_search_spark.plans import lineage
        from osm_search_spark.plans.curate_text import curate_text

        return lineage.run_stage(
            self.spark, base, "curated",
            lambda: curate_text(self.docs, self.bench),
            input_snapshot=f"{self.inputs}/docs",
        )

    def diagnostics(self, ratios: dict) -> None:
        """Traced runs only, after the measured cycle: every curate_text
        stage on its own, each pinned with its own sink, so the trace
        splits the pass by stage."""
        from osm_search_spark.plans import curate_text as ct

        tr = self.tracer
        n_in = self.docs.count()
        steps = (
            ("curate_text.clean", ct.clean_stage),
            ("curate_text.quality", ct.quality_stage),
            ("curate_text.dedup", ct.dedup_stage),
            ("curate_text.spans", ct.spans_stage),
            ("curate_text.decontaminate", lambda d: ct.decontaminate_stage(d, self.bench)),
            ("curate_text.mix_pack", lambda d: ct.mix_pack_stage(ct.split_stage(d))),
        )
        cur = self.docs
        for name, step in steps:
            with tr.span(name):
                cur = step(cur).localCheckpoint(eager=True)
                n_out = cur.count()
            ratios.setdefault(f"{name}.keep_ratio", []).append(n_out / max(n_in, 1))
            n_in = n_out

    def cycle(self, rng) -> dict:
        tr = self.tracer
        base = f"{self.work}/curated/pass{self.n_pass}"
        self.n_pass += 1
        ops = {"curate": {}, "resume": {}}
        failed = 0
        with tr.span("curate_text.curate_text", ops["curate"]):
            out = self._stage(base)
        failed += 0 if self._check(out) else 1
        with tr.span("lineage.resume", ops["resume"]):
            again = self._stage(base)
        failed += 0 if again.inputFiles() == out.inputFiles() else 1
        shutil.rmtree(base, ignore_errors=True)
        return {"ops": ops, "attempted": 2, "failed": failed}

    def _check(self, out) -> bool:
        """The planted composition: every exact duplicate and contaminated
        doc is gone; every survivor is a good doc (or a planted near dup
        LSH missed) with the copies its source's mixing weight gives it;
        LSH errors stay within MAX_GOOD_LOST / MAX_NEAR_KEPT."""
        got = {r[0]: r[1] for r in out.groupBy("doc_id").count().collect()}
        want = {**self.near_copies, **self.expected_copies}
        lost = len(set(self.expected_copies) - set(got))
        kept_near = len(set(self.near_copies) & set(got))
        self.lsh_errors.append({"good_lost": lost, "near_kept": kept_near})
        return (
            all(want.get(d) == n for d, n in got.items())
            and lost <= MAX_GOOD_LOST * len(self.expected_copies)
            and kept_near <= MAX_NEAR_KEPT * len(self.near_copies)
        )

    # ---- reporting -----------------------------------------------------
    def named_metrics(self, cycles: list[dict]) -> dict:
        cur = [c["curate"]["wall"] for c in cycles]
        return {
            "curate_docs_per_s": N_DOCS / common.median(cur) if cur else 0.0,
            "curate_pass_s": cur,
            "lineage_resume_s": [c["resume"]["wall"] for c in cycles],
            "lsh_errors": self.lsh_errors,
        }

    def ratios(self, per_span: dict, ratios: dict) -> dict:
        return {k: common.median(v) for k, v in ratios.items()}
