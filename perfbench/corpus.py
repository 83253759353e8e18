"""corpus_curation: the LLM training-data path.

One round: the quality filter and PII scrub over the whole corpus, a
one-shot MinHash-LSH dedup of the base corpus, a persisted MinHash index
built on the deduplicated base plus the held-out eval set, then the
admission epochs (probe, anti-join, tagged extend) with index maintenance
firing during the run. The check compares every stage's surviving ids
with the planted structure: the quality filter keeps exactly the
well-formed docs, the scrub redacts every planted address, the base dedup
keeps exactly the base originals, and admission admits exactly the
stream's planted unique docs.
"""

from __future__ import annotations

import contextlib
import os
import shutil

from probes import materialize, tree_bytes

BANDS, ROWS_PER_BAND = 16, 2   # near dups here have 3-gram Jaccard >= ~0.88
KEY_BUCKETS = 8  # index layout partitions, sized for a ~1000-doc index
THRESHOLD = 0.5
MAINTAIN_EVERY = 2  # maintenance fires in the second epoch
MAINTAIN_ARGS = {"max_segments": 2, "retention_s": 0.0}


class CorpusCuration:
    """One round = the whole curation run; a step = one admission epoch."""

    MIN_ROUNDS = 1  # ~30 s cold; a second round would not fit a run

    def __init__(self, ctx, inputs: str, work: str, manifest: dict):
        from pyspark.sql import functions as F

        from configurable_etl_python_repo_spark.llm import (
            _store, dedup, dedup_index, scrub, text,
        )
        from configurable_etl_python_repo_spark.streaming.admission import (
            admission_batch,
        )

        self.F, self.text, self.scrub, self.dedup = F, text, scrub, dedup
        self.dedup_index, self.store = dedup_index, _store
        self.admission_batch = admission_batch
        self.ctx, self.m = ctx, manifest
        self.corpus_path = os.path.join(inputs, "corpus.parquet")
        self.corpus_bytes = os.path.getsize(self.corpus_path)
        self.n_docs = manifest["n_docs"]
        self.input_bytes = 0
        self.round_dir = os.path.join(work, "corpus")

    def storage_dirs(self) -> list[str]:
        return [self.round_dir]

    def space(self) -> tuple[int, int]:
        """(corpus plus everything the last round stored, corpus bytes)."""
        return self.corpus_bytes + tree_bytes(self.round_dir), \
            self.corpus_bytes

    def _path(self, name: str) -> str:
        return os.path.join(self.round_dir, name)

    def run_round(self, rnd: int) -> None:
        ctx, tr, spark, F = self.ctx, self.ctx.tracer, self.ctx.spark, self.F
        shutil.rmtree(self.round_dir, ignore_errors=True)
        os.makedirs(self.round_dir)
        self.input_bytes += self.corpus_bytes
        ctx.add_rows(self.n_docs)

        with ctx.stage("text.quality"):
            q = self.text.quality_filter(spark.read.parquet(self.corpus_path))
            kept = self.scrub.pii_scrub(q.where("keep").select("doc_id", "text"))
            (kept.select("doc_id", F.col("text_scrubbed").alias("text"))
             .write.parquet(self._path("curated")))
        curated = spark.read.parquet(self._path("curated"))

        def part(lo_hi):
            lo, hi = lo_hi
            return curated.where((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))

        base = part(self.m["base"])
        with ctx.stage("dedup.lsh"):
            pairs = self.dedup.minhash_lsh_pairs(
                base, bands=BANDS, rows_per_band=ROWS_PER_BAND,
                threshold=THRESHOLD)
            later = pairs.select(F.greatest("id_a", "id_b").alias("doc_id"))
            base.join(later, "doc_id", "left_anti").write.parquet(
                self._path("base_dedup"))
        if tr.enabled:
            with ctx.isolated("dedup.candidates"):
                cand, _ = materialize(self.dedup.minhash_lsh_pairs(
                    base, bands=BANDS, rows_per_band=ROWS_PER_BAND,
                    threshold=THRESHOLD, verify=False))
            with ctx.isolated("dedup.verified"):
                true, counts = materialize(pairs)
            ctx.record_plan(counts)
            tr.count("dedup.candidate_pairs", cand)
            tr.count("dedup.true_pairs_per_candidate", true / max(cand, 1))

        indexed = spark.read.parquet(self._path("base_dedup")).unionByName(
            part(self.m["eval"]))
        with ctx.stage("index.build"):
            self.dedup_index.minhash_build_index(
                indexed, self._path("index"), bands=BANDS,
                rows_per_band=ROWS_PER_BAND, key_buckets=KEY_BUCKETS)

        with self._traced_index_calls():
            for epoch, lo_hi in enumerate(self.m["epochs"], start=1):
                ctx.run_step(f"admission:{epoch}",
                             lambda e=epoch, r=lo_hi: self._epoch(e, r, part))
        if tr.enabled:
            _, man = self.store.read_manifest(self._path("index"))
            tr.count("index.segments", len(man["segments"]))
            tr.count("index.bytes", tree_bytes(self._path("index")))

    def _epoch(self, epoch: int, lo_hi, part) -> int:
        batch = part(lo_hi)
        admitted = self.admission_batch(
            batch, epoch, self._path("index"), self._path("admitted"),
            threshold=THRESHOLD, maintain_every_n_epochs=MAINTAIN_EVERY,
            maintain_args=MAINTAIN_ARGS)
        if self.ctx.tracer.enabled:
            n_in, n_adm = batch.count(), admitted.count()
            self.ctx.tracer.count("admission.admitted_share",
                                  n_adm / max(n_in, 1))
        return 0

    @contextlib.contextmanager
    def _traced_index_calls(self):
        """Traced rounds only: wrap the index functions admission_batch
        calls, so probe, extend and maintain get spans. The probe is lazy,
        so its wrapper also materializes the pairs on their own."""
        ctx, tr = self.ctx, self.ctx.tracer
        if not tr.enabled:
            yield
            return
        di, st = self.dedup_index, self.store
        probe, extend, maintain = (di.dedup_against_index,
                                   di.minhash_extend_index, st.maintain_index)

        def traced_probe(*a, **kw):
            pairs = probe(*a, **kw)
            with ctx.isolated("index.probe"):
                _, counts = materialize(pairs)
            ctx.record_plan(counts)
            return pairs

        def traced_extend(*a, **kw):
            with tr.span("index.extend"):
                return extend(*a, **kw)

        def traced_maintain(*a, **kw):
            with tr.span("index.maintain"):
                return maintain(*a, **kw)

        di.dedup_against_index = traced_probe
        di.minhash_extend_index = traced_extend
        st.maintain_index = traced_maintain
        try:
            yield
        finally:
            di.dedup_against_index = probe
            di.minhash_extend_index = extend
            st.maintain_index = maintain

    def check(self) -> list[str]:
        F, spark, m = self.F, self.ctx.spark, self.m
        curated = spark.read.parquet(self._path("curated"))
        problems = []

        def ids(df):
            return {r[0] for r in df.select("doc_id").collect()}

        def expect(name, got, want):
            if got != want:
                problems.append(
                    f"{name}: {len(got)} ids vs planted {len(want)}; "
                    f"unexpected {sorted(got - want)[:3]}; "
                    f"missing {sorted(want - got)[:3]}")

        all_ids = set(range(self.n_docs))
        expect("quality_filter", ids(curated),
               all_ids - set(m["low_quality"]))
        leaked = curated.where(F.col("doc_id").isin(m["pii"]) &
                               F.col("text").contains("@")).count()
        if leaked:
            problems.append(f"pii_scrub: {leaked} planted addresses left")
        expect("minhash_lsh_pairs dedup",
               ids(spark.read.parquet(self._path("base_dedup"))),
               set(m["base_unique"]))
        expect("admission", ids(spark.read.parquet(self._path("admitted"))),
               set(m["stream_unique"]))
        return problems
