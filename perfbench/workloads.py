"""The benchmark's workloads, each driven through the library's public API.

A workload prepares its seeded inputs once (no Spark), opens per session,
runs one timed iteration at a time and checks each iteration's outputs
outside the timed region. For the traced run it also names a ladder of
growing plan prefixes and times its layers from outside.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import time
from contextlib import nullcontext
from statistics import median

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from perfbench import inputs, probes

KEYS = ["repo", "path", "commit"]
F1_MIN = 0.99


def noop(df) -> None:
    """Run ``df`` to completion without writing anything."""
    df.write.format("noop").mode("overwrite").save()


def _sha256(text: str) -> str:
    return hashlib.sha256(text.encode("utf-8")).hexdigest()


class Workload:
    """One seeded workload. Subclasses set ``rows`` (input rows one
    iteration processes) and implement the hooks below."""

    name = ""
    rows = 0
    #: other workloads whose layers this one's traced run also measures, as
    #: legs sharing its session (for a benchmark that lists only this one)
    legs: tuple[str, ...] = ()

    def __init__(self, work: str, seed: int, run_dir: str):
        self.work, self.seed, self.run_dir = work, seed, run_dir
        self.spark = self.model = None
        self.count = 0  # iterations started in this run

    def prepare(self) -> None:
        """Generate or load the cached seeded inputs (no Spark)."""

    def open(self, spark, model) -> None:
        """Bind a fresh session; may build cached Spark-made inputs."""
        self.spark, self.model = spark, model

    def reset(self) -> None:
        """Untimed: start an iteration (its outputs get fresh directories)."""
        self.count += 1

    def iterate(self, tracer=None):
        """The timed unit of work; returns what :meth:`check` inspects."""
        raise NotImplementedError

    def check(self, out) -> list[str]:
        """Untimed: problems found in one iteration's outputs."""
        raise NotImplementedError

    def latencies(self, out, wall: float) -> list[float]:
        """Seconds until each committed batch of the iteration landed; a
        batch workload commits once, when the iteration ends."""
        return [wall]

    def ladder(self) -> list[tuple[str, object]]:
        """Growing plan prefixes ``[(layer metric, build_df)]`` for the
        traced run; the first is the input scan, named ``scan.s``."""
        return []

    def layer_detail(self, tracer, outs) -> dict:
        """Workload-specific per-layer metrics from the traced iterations."""
        return {}

    def _dir(self, name: str) -> str:
        return os.path.join(self.run_dir, f"{name}-{self.count}")


# ---------------------------------------------------------------- code files

class _CodeFiles(Workload):
    """Input, prefix ladder and scorer-kernel timing shared by the workloads
    over the code-files corpus."""

    corpus_rows = 8000

    def prepare(self) -> None:
        self.corpus = inputs.code_corpus(self.work, self.corpus_rows, self.seed)
        self.files = os.path.join(self.corpus, "files")
        self.labels = pd.read_parquet(os.path.join(self.corpus, "labels.parquet"))

    def read(self):
        return self.spark.read.parquet(self.files)

    def qf_ladder(self, base):
        """scan → +sha → +features → +scorer → +scrub → apply_quality_filter,
        each a prefix of the full plan built from the library's functions."""
        from llm_tab_cleaner_spark.functions import text_features as TF
        from llm_tab_cleaner_spark.functions.pii import any_pii_detect_expr, scrub_expr
        from llm_tab_cleaner_spark.functions.scoring import with_scores
        from llm_tab_cleaner_spark.operators.quality_filter import apply_quality_filter

        content = F.col("content")

        def sha():
            return base().withColumn("content_sha256", F.sha2(content, 256))

        def features():
            return (
                sha().withColumn("n_chars", TF.n_chars(content))
                .withColumn("has_long_line", TF.has_long_line(content))
                .withColumn("is_autogen", TF.is_autogen(content))
            )

        def scorer():
            df = features().withColumn("_score_text", F.substring(content, 1, 65536))
            return with_scores(df, "_score_text", self.spark, self.model)[0]

        def scrub():
            return scorer().withColumn(
                "content_clean",
                F.when(any_pii_detect_expr(content), scrub_expr(content)).otherwise(content),
            )

        def full():
            return apply_quality_filter(base(), self.spark, model=self.model)[0]

        return [
            ("scan.s", base), ("sha.s", sha), ("features.s", features),
            ("scorer.udf_s", scorer), ("scrub.s", scrub), ("qf.s", full),
        ]

    def kernel(self) -> dict:
        """The scorer's kernel (``ScoringModel.score_batch``) on one
        in-process thread over the same bytes the UDF receives."""
        texts = pd.read_parquet(self.files, columns=["content"])["content"]
        data = pd.Series([t[:65536].encode("utf-8") for t in texts])
        t0 = time.perf_counter()
        for lo in range(0, len(data), 4096):  # the session's Arrow batch size
            self.model.score_batch(data.iloc[lo : lo + 4096].reset_index(drop=True))
        secs = time.perf_counter() - t0
        mb = sum(len(b) for b in data) / 1e6
        return {"scorer.kernel_s": secs, "scorer.kernel_mb_per_s": mb / secs}


class BatchClean(_CodeFiles):
    """``CleanPipeline.run_and_write``: cleaned parquet, audit and report."""

    name = "batch_clean"
    legs = ("incremental_resume", "stream_micro")

    def prepare(self) -> None:
        super().prepare()
        self.rows = len(self.labels)
        self.expected_keep = set(
            map(tuple, self.labels.loc[self.labels.expected_keep, KEYS].to_numpy())
        )

    def iterate(self, tracer=None):
        from llm_tab_cleaner_spark import CleanPipeline

        out, audit_out = self._dir("out"), self._dir("audit")
        pipe = CleanPipeline(self.spark)
        pipe.model = self.model
        if tracer is None:
            report = pipe.run_and_write(self.read(), out, audit_out)
        else:
            # run_and_write's steps as separate public calls, so each is timed
            with tracer.span("pipeline.run"):
                result, audit = pipe.run(self.read())
                result.persist()
            with tracer.span("pipeline.output_write"):
                (
                    result.filter(F.col("keep"))
                    .select(
                        *KEYS, "lang", F.col("content_clean").alias("content"),
                        "content_sha256", "clean_sha256", "confidence",
                    )
                    .write.mode("overwrite").parquet(out)
                )
            with tracer.span("audit.write"):
                audit.write.mode("overwrite").parquet(audit_out)
            with tracer.span("pipeline.report"):
                report = pipe.report(result)
            result.unpersist()
        return {"report": report, "out": out, "audit": audit_out}

    def check(self, out) -> list[str]:
        problems = []
        kept = pd.read_parquet(out["out"], columns=KEYS + ["content", "content_sha256", "clean_sha256"])
        audit = pd.read_parquet(out["audit"], columns=KEYS + ["decision"])
        report = out["report"]
        got = set(map(tuple, kept[KEYS].to_numpy()))
        tp = len(got & self.expected_keep)
        f1 = 2 * tp / (len(got) + len(self.expected_keep))
        if f1 < F1_MIN:
            problems.append(f"F1 {f1:.4f} < {F1_MIN}")
        m = kept.merge(self.labels, on=KEYS)
        if len(m) != len(kept):
            problems.append("output rows missing from the labels")
        bad_scrub = int((m.content != m.content_scrubbed).sum())
        if bad_scrub:
            problems.append(f"{bad_scrub} scrub mismatches")
        plain = m[~m.has_pii]
        bad_sha = int((plain.clean_sha256 != plain.content_sha256).sum())
        scrubbed = m[m.has_pii]
        bad_sha += sum(_sha256(c) != h for c, h in zip(scrubbed.content, scrubbed.clean_sha256))
        if bad_sha:
            problems.append(f"{bad_sha} clean_sha256 violations")
        if report.total_files != self.rows or report.kept != len(kept):
            problems.append(f"report {report.total_files}/{report.kept} vs {self.rows}/{len(kept)}")
        dropped = audit.loc[audit.decision == "drop", KEYS].drop_duplicates()
        if len(dropped) != self.rows - len(kept):
            problems.append(f"audit has {len(dropped)} dropped files, expected {self.rows - len(kept)}")
        return problems

    def ladder(self):
        return self.qf_ladder(self.read)

    def layer_detail(self, tracer, outs) -> dict:
        return {
            "pipeline.output_write_s": median(tracer.durations("pipeline.output_write", self.name)),
            "pipeline.report_s": median(tracer.durations("pipeline.report", self.name)),
            "audit.write_s": median(tracer.durations("audit.write", self.name)),
            "audit.rows": median(len(pd.read_parquet(o["audit"], columns=["decision"])) for o in outs),
            "pipeline.bytes_written": median(
                probes.dir_bytes(o["out"]) + probes.dir_bytes(o["audit"]) for o in outs
            ),
            **self.kernel(),
            **self.scaling(),
        }

    def scaling(self, pairs: int = 2) -> dict:
        """N-core scaling efficiency: median over interleaved same-session
        pairs of (t_1core / t_ncores) / nproc. The 1-core leg coalesces the
        input to one partition; it doubles as the single-threaded baseline."""
        from llm_tab_cleaner_spark import CleanPipeline

        cores = self.spark.sparkContext.defaultParallelism
        effs = []
        for _ in range(pairs):
            t = {}
            for n in (1, cores):
                pipe = CleanPipeline(self.spark)
                pipe.model = self.model
                df = self.read().coalesce(1) if n == 1 else self.read()
                result, _ = pipe.run(df)
                t0 = time.perf_counter()
                noop(result)
                t[n] = time.perf_counter() - t0
            effs.append(t[1] / t[cores] / cores)
        return {"scaling_eff": median(effs), "scaling_pairs": effs, "nproc": cores}


class IncrementalResume(_CodeFiles):
    """``CleanPipeline.run_incremental`` against a state snapshot that holds
    about 80% of the corpus, restored before every iteration."""

    name = "incremental_resume"
    snapshot_share = 0.8

    def prepare(self) -> None:
        super().prepare()
        self.rows = len(self.labels)
        content = pd.read_parquet(self.files, columns=["content"])["content"]
        hashes = np.array([_sha256(c) for c in content], dtype=object)
        in_snap = np.random.default_rng([self.seed, 3]).random(len(hashes)) < self.snapshot_share
        self.snap_hashes = sorted(set(hashes[in_snap]))
        self.all_hashes = set(hashes)
        self.new_hashes = self.all_hashes - set(self.snap_hashes)
        self.new_rows = int(sum(h in self.new_hashes for h in hashes))

    def open(self, spark, model) -> None:
        super().open(spark, model)
        from llm_tab_cleaner_spark.sources.state import StateStore

        def build(tmp: str) -> None:
            snap = pd.DataFrame(
                {"content_sha256": self.snap_hashes, "confidence": 1.0, "keep": True}
            )
            StateStore(tmp).commit(spark.createDataFrame(snap), "snapshot")

        self.snapshot = inputs.cached(
            os.path.join(self.corpus, f"snapshot-{self.snapshot_share}"), build
        )

    def reset(self) -> None:
        super().reset()
        self.state_dir = self._dir("state")
        shutil.copytree(self.snapshot, self.state_dir)

    def iterate(self, tracer=None):
        from llm_tab_cleaner_spark import CleanPipeline, PipelineConfig
        from llm_tab_cleaner_spark.operators.quality_filter import audit_trail

        out, audit_out = self._dir("out"), self._dir("audit")
        pipe = CleanPipeline(self.spark, PipelineConfig(state_dir=self.state_dir))
        pipe.model = self.model
        batch = f"b{self.count}"
        if tracer is None:
            result, audit, _ = pipe.run_incremental(self.read(), batch)
        else:
            # run_incremental's steps as separate public calls
            with tracer.span("state.score_new"):
                hashed = self.read().withColumn("content_sha256", F.sha2(F.col("content"), 256))
                fresh = pipe.state.filter_new(hashed, self.spark).drop("content_sha256")
                result = pipe.score(fresh)
                result.persist()
                result.count()
            with tracer.span("state.commit"):
                pipe.state.commit(result, batch)
            audit = audit_trail(result)
        with _maybe(tracer, "pipeline.output_write"):
            result.filter(F.col("keep")).select(
                *KEYS, F.col("content_clean").alias("content"), "clean_sha256", "confidence"
            ).write.mode("overwrite").parquet(out)
        with _maybe(tracer, "audit.write"):
            audit.write.mode("overwrite").parquet(audit_out)
        return {"result": result, "batch": batch, "state": self.state_dir, "out": out, "audit": audit_out}

    def check(self, out) -> list[str]:
        from llm_tab_cleaner_spark.sources.state import StateStore

        problems = []
        result = out["result"]
        scored = result.select("content_sha256").toPandas()["content_sha256"]
        result.unpersist()
        if len(scored) != self.new_rows:
            problems.append(f"scored {len(scored)} rows, expected {self.new_rows}")
        if set(scored) != self.new_hashes:
            problems.append("scored hashes differ from the hashes absent from the snapshot")
        committed = (
            StateStore(out["state"]).processed(self.spark)
            .select("content_sha256").distinct().toPandas()["content_sha256"]
        )
        if set(committed) != self.all_hashes or len(committed) != len(self.all_hashes):
            problems.append("committed hashes differ from the distinct input hashes")
        return problems

    def ladder(self):
        from llm_tab_cleaner_spark.sources.state import StateStore

        def sha():
            return self.read().withColumn("content_sha256", F.sha2(F.col("content"), 256))

        def anti_join():
            return StateStore(self.snapshot).filter_new(sha(), self.spark)

        return [("scan.s", self.read), ("sha.s", sha), ("state.filter_new_s", anti_join)]

    def layer_detail(self, tracer, outs) -> dict:
        return {
            "state.score_new_s": median(tracer.durations("state.score_new", self.name)),
            "state.commit_s": median(tracer.durations("state.commit", self.name)),
            "state.rows_new": self.new_rows,
            "state.bytes_written": median(
                probes.dir_bytes(os.path.join(o["state"], f"batch_{o['batch']}")) for o in outs
            ),
            "pipeline.output_write_s": median(tracer.durations("pipeline.output_write", self.name)),
            "audit.write_s": median(tracer.durations("audit.write", self.name)),
        }


class StreamMicro(_CodeFiles):
    """``clean_stream(file_stream_source(max_files_per_trigger=1))`` with
    ``availableNow`` over small parquet files: one micro-batch per file."""

    name = "stream_micro"
    n_files = 8
    rows_per_file = 500

    def prepare(self) -> None:
        super().prepare()
        self.rows = self.n_files * self.rows_per_file
        self.stream_dir = inputs.stream_files(self.corpus, self.rows, self.rows_per_file)
        self.reference = None

    def read(self):
        return self.spark.read.parquet(self.stream_dir)

    def iterate(self, tracer=None):
        from llm_tab_cleaner_spark.streaming.stream_clean import clean_stream, file_stream_source

        out, ckpt = self._dir("sink"), self._dir("ckpt")
        source = file_stream_source(self.spark, self.stream_dir, max_files_per_trigger=1)
        query = clean_stream(source, self.spark, out, ckpt, queryName=f"perfbench_{self.count}")
        try:
            query.awaitTermination(150)
        finally:
            query.stop()
        if query.exception() is not None:
            raise RuntimeError(str(query.exception()))
        return {"progress": query.recentProgress, "run_id": str(query.runId), "out": out}

    def batches(self, out) -> list[dict]:
        return [p for p in out["progress"] if p["numInputRows"] > 0]

    def latencies(self, out, wall: float) -> list[float]:
        return [p["durationMs"]["triggerExecution"] / 1000.0 for p in self.batches(out)]

    def check(self, out) -> list[str]:
        from llm_tab_cleaner_spark import CleanPipeline

        if self.reference is None:
            # batch_clean's decisions on the same rows (untimed, once per run)
            result, _ = CleanPipeline(self.spark).run(self.read())
            self.reference = result.select(*KEYS, "keep", "confidence").toPandas()
        problems = []
        sink = pd.read_parquet(out["out"], columns=KEYS + ["keep", "confidence"])
        if len(sink) != self.rows:
            problems.append(f"sink holds {len(sink)} rows, expected {self.rows}")
        m = sink.merge(self.reference, on=KEYS, suffixes=("", "_batch"))
        if len(m) != self.rows:
            problems.append("sink rows do not match the input keys")
        if (m.keep != m.keep_batch).any() or not np.allclose(m.confidence, m.confidence_batch, rtol=0, atol=1e-12):
            problems.append("keep/confidence differ from the batch pipeline")
        if len(self.batches(out)) != self.n_files:
            problems.append(f"{len(self.batches(out))} micro-batches, expected {self.n_files}")
        return problems

    def ladder(self):
        return self.qf_ladder(self.read)

    def layer_detail(self, tracer, outs) -> dict:
        per_batch = [p["durationMs"] for o in outs for p in self.batches(o)]
        return {
            f"stream.{name}": median(d.get(key, 0) for d in per_batch) / 1000.0
            for name, key in (("add_batch_s", "addBatch"), ("planning_s", "queryPlanning"), ("wal_s", "walCommit"))
        } | {"stream.batches": median(len(self.batches(o)) for o in outs)}


# ------------------------------------------------------------------ near dup

class NearDup(Workload):
    """MinHash (signatures, LSH candidates, Jaccard estimate), SimHash
    (Manku banding) and embedding-LSH cosine pairs over generated
    documents and vectors with planted near-duplicates."""

    name = "near_dup"
    n_docs = 3_000
    n_vecs = 800
    parts = 8
    jaccard_min = 0.7
    hamming_max = 3
    cosine_min = 0.8

    def prepare(self) -> None:
        d = inputs.near_dup_inputs(
            self.work, self.n_docs, self.n_vecs, self.seed, self.parts, self.cosine_min
        )
        self.dir = d
        self.rows = self.n_docs + self.n_vecs
        docs = pd.read_parquet(os.path.join(d, "docs"))
        self.text = dict(zip(docs.doc_id, docs.text))
        self.planted = pd.read_parquet(os.path.join(d, "planted.parquet"))
        brute = pd.read_parquet(os.path.join(d, "cosine_pairs.parquet"))
        self.cosine_pairs = set(map(tuple, brute[["id_a", "id_b"]].to_numpy()))
        vecs = pd.read_parquet(os.path.join(d, "vectors"))
        self.vecs = dict(zip(vecs.vec_id, vecs.embedding))
        self._shingles: dict[int, set] = {}
        pl = self.planted
        self.rewrap_pairs = {
            (min(a, b), max(a, b))
            for a, b in pl.loc[pl.kind == "rewrap", ["id", "source_id"]].to_numpy()
        }
        self.sure_pairs = {
            (min(a, b), max(a, b))
            for a, b in pl[["id", "source_id"]].to_numpy()
            if self.jaccard(a, b) >= 0.9
        }

    def shingles(self, doc_id: int) -> set:
        if doc_id not in self._shingles:
            t = self.text[doc_id]
            self._shingles[doc_id] = {t[i : i + 5] for i in range(len(t) - 4)}
        return self._shingles[doc_id]

    def jaccard(self, a: int, b: int) -> float:
        sa, sb = self.shingles(a), self.shingles(b)
        return len(sa & sb) / len(sa | sb)

    def docs(self):
        return self.spark.read.parquet(os.path.join(self.dir, "docs"))

    def vectors(self):
        return self.spark.read.parquet(os.path.join(self.dir, "vectors"))

    def iterate(self, tracer=None):
        from llm_tab_cleaner_spark.operators import dedup

        out = {}
        with _maybe(tracer, "minhash.sig"):
            sigs = dedup.minhash_signatures(
                self.docs(), ["doc_id"], "text", num_hashes=64, shingle_k=5
            ).localCheckpoint(eager=True)
        with _maybe(tracer, "minhash.pairs"):
            cand = dedup.lsh_candidate_pairs(sigs, ["doc_id"], 64, 16)
            if tracer is not None:
                out["candidates"] = cand.count()
            est = dedup.minhash_jaccard_estimate(cand, sigs, "doc_id", num_hashes=64)
            out["minhash"] = est.filter(F.col("jaccard_est") >= self.jaccard_min).toPandas()
        with _maybe(tracer, "simhash"):
            sims = dedup.simhash_signatures(self.docs(), ["doc_id"], "text")
            out["simhash"] = dedup.simhash_near_dup_pairs(
                sims, "doc_id", max_hamming=self.hamming_max
            ).toPandas()
        with _maybe(tracer, "embedding"):
            out["embedding"] = dedup.embedding_near_dup_pairs(
                self.vectors(), "vec_id", "embedding", min_cosine=self.cosine_min,
                bands=32, planes_per_band=6, dim=64,
            ).toPandas()
        return out

    def check(self, out) -> list[str]:
        problems = []
        for key, a, b in (
            ("minhash", "doc_id_a", "doc_id_b"),
            ("simhash", "doc_id_a", "doc_id_b"),
            ("embedding", "id_a", "id_b"),
        ):
            df = out[key]
            if (df[a] >= df[b]).any() or df.duplicated([a, b]).any():
                problems.append(f"{key}: unordered or repeated pairs")
        mh = out["minhash"]
        pairs = set(zip(mh.doc_id_a, mh.doc_id_b))
        if (mh.jaccard_est < self.jaccard_min).any():
            problems.append("minhash: pair below its Jaccard threshold")
        if any(self.jaccard(a, b) < 0.5 for a, b in pairs):
            problems.append("minhash: estimate far above the exact shingle Jaccard")
        if not self.sure_pairs <= pairs:
            problems.append(f"minhash: {len(self.sure_pairs - pairs)} planted pairs (J >= 0.9) missed")
        sh = out["simhash"]
        if (sh.hamming > self.hamming_max).any():
            problems.append("simhash: pair above its Hamming threshold")
        if not self.rewrap_pairs <= set(zip(sh.doc_id_a, sh.doc_id_b)):
            problems.append("simhash: re-wrapped planted pairs missed")
        emb = out["embedding"]
        if set(zip(emb.id_a, emb.id_b)) != self.cosine_pairs:
            problems.append("embedding: LSH pairs differ from the brute-force pairs")
        for a, b, c in zip(emb.id_a, emb.id_b, emb.cosine):
            va, vb = self.vecs[a].astype(np.float64), self.vecs[b].astype(np.float64)
            exact = float(va @ vb / (np.linalg.norm(va) * np.linalg.norm(vb)))
            if abs(exact - c) > 1e-3 or c < self.cosine_min:
                problems.append(f"embedding: pair ({a}, {b}) cosine {c} vs exact {exact:.4f}")
                break
        return problems

    def ladder(self):
        return [("scan.s", self.docs)]

    def layer_detail(self, tracer, outs) -> dict:
        cands = median(o["candidates"] for o in outs)
        pairs = median(len(o["minhash"]) for o in outs)
        return {
            "minhash.sig_s": median(tracer.durations("minhash.sig", self.name)),
            "minhash.pairs_s": median(tracer.durations("minhash.pairs", self.name)),
            "minhash.candidates": cands,
            "minhash.pairs": pairs,
            "minhash.yield": pairs / cands if cands else 0.0,
            "simhash.s": median(tracer.durations("simhash", self.name)),
            "simhash.pairs": median(len(o["simhash"]) for o in outs),
            "embedding.s": median(tracer.durations("embedding", self.name)),
            "embedding.pairs": median(len(o["embedding"]) for o in outs),
        }


def _maybe(tracer, name: str):
    return tracer.span(name) if tracer is not None else nullcontext()


WORKLOADS = {w.name: w for w in (BatchClean, IncrementalResume, NearDup, StreamMicro)}
