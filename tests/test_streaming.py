"""Streaming clean stage: file-source micro-batches → parquet sink with
checkpoint; decisions identical to the batch pipeline."""

from __future__ import annotations

import os

import pandas as pd


def test_stream_matches_batch(spark, code_files_small, tmp_path):
    from llm_tab_cleaner_spark import CleanPipeline
    from llm_tab_cleaner_spark.streaming.stream_clean import clean_stream, file_stream_source

    cf, _ = code_files_small
    cf = cf.iloc[:400]
    src = str(tmp_path / "src")
    os.makedirs(src)
    # two input files → at least two micro-batches with maxFilesPerTrigger=1
    spark.createDataFrame(cf.iloc[:200]).coalesce(1).write.mode("append").parquet(src)
    spark.createDataFrame(cf.iloc[200:]).coalesce(1).write.mode("append").parquet(src)

    out_dir = str(tmp_path / "out")
    q = clean_stream(
        file_stream_source(spark, src, max_files_per_trigger=1),
        spark,
        output_dir=out_dir,
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(300)

    got = spark.read.parquet(out_dir).toPandas()
    assert len(got) == 400

    batch, _ = CleanPipeline(spark).run(spark.createDataFrame(cf))
    want = batch.select("repo", "path", "commit", "keep", "confidence", "clean_sha256").toPandas()
    j = want.merge(got, on=["repo", "path", "commit"], suffixes=("_b", "_s"), validate="1:1")
    assert (j.keep_b == j.keep_s).all()
    assert (j.confidence_b == j.confidence_s).all()
    assert (j.clean_sha256_b == j.clean_sha256_s).all()


def test_stream_applies_config_threshold_and_calibrator(spark, code_files_small, tmp_path):
    """clean_stream scores the way a batch run does: the config's
    confidence threshold and calibrator reach the sink, whose keep,
    confidence and confidence_calibrated equal CleanPipeline(spark,
    cfg).run on the same rows."""
    from llm_tab_cleaner_spark import CleanPipeline, PipelineConfig
    from llm_tab_cleaner_spark.streaming.stream_clean import clean_stream, file_stream_source

    cf, labels = code_files_small
    cf = cf.iloc[:300]
    fitted = CleanPipeline(spark)
    default, _ = fitted.run(spark.createDataFrame(cf))
    fitted.fit_calibration(default, spark.createDataFrame(labels), method="isotonic")
    cfg = PipelineConfig(confidence_threshold=0.5, calibrator=fitted.config.calibrator)

    src = str(tmp_path / "src_cfg")
    os.makedirs(src)
    spark.createDataFrame(cf.iloc[:150]).coalesce(1).write.mode("append").parquet(src)
    spark.createDataFrame(cf.iloc[150:]).coalesce(1).write.mode("append").parquet(src)
    out_dir = str(tmp_path / "out_cfg")
    q = clean_stream(
        file_stream_source(spark, src, max_files_per_trigger=1),
        spark,
        output_dir=out_dir,
        checkpoint_dir=str(tmp_path / "ckpt_cfg"),
        queryName="cfg_stream",
        config=cfg,
    )
    q.awaitTermination(300)

    keys = ["repo", "path", "commit"]
    cols = ["keep", "confidence", "confidence_calibrated"]
    got = spark.read.parquet(out_dir).toPandas()
    batch, _ = CleanPipeline(spark, cfg).run(spark.createDataFrame(cf))
    want = batch.select(*keys, *cols).toPandas()
    j = want.merge(got, on=keys, suffixes=("_b", "_s"), validate="1:1")
    assert len(j) == len(cf)
    for c in cols:
        assert (j[f"{c}_b"] == j[f"{c}_s"]).all(), c
    # the threshold decides rows here: the default gate keeps files 0.5 drops
    at_default = default.select(*keys, "keep").toPandas().merge(j, on=keys)
    assert (at_default.keep != at_default.keep_s).any()


def test_stream_restart_resumes_from_checkpoint(spark, code_files_small, tmp_path):
    from llm_tab_cleaner_spark.streaming.stream_clean import clean_stream, file_stream_source

    cf, _ = code_files_small
    src = str(tmp_path / "src2")
    os.makedirs(src)
    spark.createDataFrame(cf.iloc[:150]).coalesce(1).write.mode("append").parquet(src)

    out_dir = str(tmp_path / "out2")
    ckpt = str(tmp_path / "ckpt2")
    q1 = clean_stream(file_stream_source(spark, src), spark, out_dir, ckpt, queryName="s1")
    q1.awaitTermination(300)
    n1 = spark.read.parquet(out_dir).count()
    assert n1 == 150

    # new data lands; restart the query against the SAME checkpoint
    spark.createDataFrame(cf.iloc[150:300]).coalesce(1).write.mode("append").parquet(src)
    q2 = clean_stream(file_stream_source(spark, src), spark, out_dir, ckpt, queryName="s2")
    q2.awaitTermination(300)
    got = spark.read.parquet(out_dir).toPandas()
    assert len(got) == 300  # old batch NOT reprocessed (exactly-once resume)
    assert got.commit.nunique() == 300


def test_streaming_exact_dedup_across_batches(spark, tmp_path):
    """applyInPandasWithState dedup: duplicates inside a batch AND across
    micro-batches are suppressed; the kept row is the min-key winner of the
    first batch that carried the digest."""
    from llm_tab_cleaner_spark.streaming.stream_clean import (
        CODE_FILES_SCHEMA,
        file_stream_source,
        streaming_exact_dedup,
    )

    src = str(tmp_path / "dsrc")
    os.makedirs(src, exist_ok=True)

    def rows(batch, items):
        pdf = pd.DataFrame(
            [
                {"repo": r, "path": p, "commit": "c0", "lang": None, "content": t}
                for r, p, t in items
            ]
        )
        spark.createDataFrame(pdf, CODE_FILES_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    # batch files land before the stream starts; maxFilesPerTrigger=1 forces
    # multiple micro-batches over them
    rows(0, [("r1", "b", "SAME TEXT"), ("r1", "a", "SAME TEXT"), ("r2", "x", "OTHER")])
    rows(1, [("r3", "z", "SAME TEXT"), ("r4", "q", "THIRD")])

    stream = file_stream_source(spark, src, max_files_per_trigger=1)
    deduped = streaming_exact_dedup(stream, ["repo", "path"])
    out_dir = str(tmp_path / "dout")
    q = (
        deduped.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", str(tmp_path / "dckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(out_dir).toPandas()
    by_text = got.set_index("content")
    assert len(got) == 3  # one survivor per distinct text
    assert by_text.loc["SAME TEXT", "path"] == "a"  # min-key winner in batch 0
    assert set(got.content) == {"SAME TEXT", "OTHER", "THIRD"}


def test_streaming_dedup_chunk_composition_invariance(spark, tmp_path):
    """A group whose micro-batch data spans several Arrow chunks must still
    emit the GLOBAL min-key winner, not the first chunk's local min (round-2
    ADVICE: the survivor must not depend on arrow.maxRecordsPerBatch)."""
    from llm_tab_cleaner_spark.streaming.stream_clean import (
        CODE_FILES_SCHEMA,
        file_stream_source,
        streaming_exact_dedup,
    )

    src = str(tmp_path / "csrc")
    os.makedirs(src, exist_ok=True)
    # 6 identical-content rows, paths DESCENDING so the min key ("p4") sits
    # in the LAST chunk when chunks are 2 rows wide
    pdf = pd.DataFrame(
        [
            {"repo": "r", "path": f"p{9 - i}", "commit": "c", "lang": None, "content": "S"}
            for i in range(6)
        ]
    )
    spark.createDataFrame(pdf, CODE_FILES_SCHEMA).coalesce(1).write.parquet(src, mode="append")

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "2")
    try:
        deduped = streaming_exact_dedup(file_stream_source(spark, src), ["repo", "path"])
        out_dir = str(tmp_path / "cout")
        q = (
            deduped.writeStream.outputMode("append")
            .format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", str(tmp_path / "cckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
    finally:
        spark.conf.set(key, old)
    got = spark.read.parquet(out_dir).toPandas()
    assert len(got) == 1
    assert got.path.iloc[0] == "p4"  # global min across all chunks


def test_stream_corpus_stages_gate_and_feature(spark, tmp_path):
    """The opt-in license gate + comment_ratio compose with Structured
    Streaming: gated-out classes never reach the sink, feature columns ride
    the sink schema, and decisions match the batch pipeline with the same
    config."""
    from llm_tab_cleaner_spark import CleanPipeline, PipelineConfig
    from llm_tab_cleaner_spark.streaming.stream_clean import (
        clean_stream,
        file_stream_source,
    )

    rows = [
        ("r", "mit.py", "c0", "python",
         "# SPDX-License-Identifier: MIT\ndef f():\n    return 1  # ok\n"),
        ("r", "gpl.c", "c1", "c",
         "/* GNU General Public License */\nint main() { return 0; }\n"),
        ("r", "plain.go", "c2", "go", "package main\n\nfunc main() {}\n"),
        ("r", "boiler.py", "c3", "python", "x = 1\n" * 50 + "y = 2\n"),
    ]
    cf = pd.DataFrame(rows, columns=["repo", "path", "commit", "lang", "content"])
    src = str(tmp_path / "src_gate")
    os.makedirs(src)
    spark.createDataFrame(cf).coalesce(1).write.mode("append").parquet(src)

    cfg = PipelineConfig(
        license_allow=("permissive", "none"),
        with_comment_ratio=True,
        dup_line_frac_max=0.30,  # Gopher dup-line gate, streaming-composed
    )
    out_dir = str(tmp_path / "out_gate")
    q = clean_stream(
        file_stream_source(spark, src),
        spark,
        output_dir=out_dir,
        checkpoint_dir=str(tmp_path / "ckpt_gate"),
        config=cfg,
        queryName="gate_stream",
    )
    q.awaitTermination(300)

    got = spark.read.parquet(out_dir).toPandas().set_index("path")
    assert sorted(got.index) == ["mit.py", "plain.go"]  # gpl.c license-gated,
    # boiler.py dup-line-gated (49/51 duplicate lines) — neither reaches the sink
    assert got.loc["mit.py", "license_class"] == "permissive"
    assert got.loc["mit.py", "comment_ratio"] > 0
    assert (got["dup_line_frac"] <= 0.30).all()

    batch, _ = CleanPipeline(spark, cfg).run(spark.createDataFrame(cf))
    want = batch.select("path", "keep", "confidence", "comment_ratio").toPandas().set_index("path")
    for p in ("mit.py", "plain.go"):
        assert got.loc[p, "keep"] == want.loc[p, "keep"]
        assert got.loc[p, "confidence"] == want.loc[p, "confidence"]
        assert got.loc[p, "comment_ratio"] == want.loc[p, "comment_ratio"]
