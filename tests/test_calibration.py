"""Calibration: isotonic/histogram fit + one-pass metrics (F4 fixture)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest


@pytest.fixture(scope="module")
def labeled(spark):
    rng = np.random.default_rng(11)
    conf = rng.uniform(0.05, 0.99, size=3000)
    # true accuracy is a monotone distortion of confidence → calibratable
    p_true = np.clip(conf**2, 0, 1)
    correct = rng.uniform(size=3000) < p_true
    pdf = pd.DataFrame({"confidence": conf, "correct": correct})
    return spark.createDataFrame(pdf), pdf


def test_isotonic_monotone_and_improves_brier(labeled):
    from llm_tab_cleaner_spark.operators.calibration import fit_calibrator

    df, pdf = labeled
    cal = fit_calibrator(df, method="isotonic")
    assert (np.diff(cal.values) >= -1e-12).all()  # monotone step fn
    raw = pdf.confidence.to_numpy()
    y = pdf.correct.to_numpy().astype(float)
    calibrated = cal.apply_numpy(raw)
    brier_raw = ((raw - y) ** 2).mean()
    brier_cal = ((calibrated - y) ** 2).mean()
    assert brier_cal < brier_raw  # miscalibration removed


def test_calibrator_expr_matches_numpy(labeled, spark):
    from pyspark.sql import functions as F
    from llm_tab_cleaner_spark.operators.calibration import fit_calibrator

    df, pdf = labeled
    cal = fit_calibrator(df, method="histogram", n_bins=10)
    got = (
        df.select(F.col("confidence"), cal.expr(F.col("confidence")).alias("cc"))
        .toPandas()
    )
    want = cal.apply_numpy(got.confidence.to_numpy())
    np.testing.assert_allclose(got.cc.to_numpy(), want, atol=1e-12)


def test_platt_sigmoid_improves_brier_and_matches_expr(labeled, spark):
    from pyspark.sql import functions as F
    from llm_tab_cleaner_spark.operators.calibration import fit_calibrator

    df, pdf = labeled
    cal = fit_calibrator(df, method="platt")
    assert cal.method == "platt" and cal.a > 0  # monotone-increasing sigmoid
    raw = pdf.confidence.to_numpy()
    y = pdf.correct.to_numpy().astype(float)
    calibrated = cal.apply_numpy(raw)
    assert ((calibrated - y) ** 2).mean() < ((raw - y) ** 2).mean()
    got = df.select(cal.expr(F.col("confidence")).alias("cc")).toPandas()
    np.testing.assert_allclose(got.cc.to_numpy(), calibrated, atol=1e-9)


def test_pipeline_calibration_wiring(spark, assert_jvm_scorer_plan, parquet_input):
    """PipelineConfig.calibrator adds a confidence_calibrated column computed
    by the fitted calibrator, with no extra UDF stage in the plan."""
    from pyspark.sql import functions as F
    from llm_tab_cleaner_spark import CleanPipeline, PipelineConfig
    from llm_tab_cleaner_spark.fixtures.code_files import generate_code_files

    cf, lab = generate_code_files(400, seed=7)
    pipe = CleanPipeline(spark, PipelineConfig())
    result, _ = pipe.run(spark.createDataFrame(cf))
    pipe.fit_calibration(result, spark.createDataFrame(lab), method="isotonic")
    assert pipe.config.calibrator is not None
    result2 = pipe.score(parquet_input(cf))
    out = result2.select("confidence", "confidence_calibrated").toPandas()
    want = pipe.config.calibrator.apply_numpy(out.confidence.to_numpy())
    np.testing.assert_allclose(out.confidence_calibrated, np.round(want, 6), atol=1e-9)
    # still no Python stage — calibration is a native when-chain
    assert_jvm_scorer_plan(result2)


def test_metrics_one_pass(labeled):
    from llm_tab_cleaner_spark.operators.calibration import calibration_metrics

    df, pdf = labeled
    m = calibration_metrics(df)
    y = pdf.correct.to_numpy().astype(float)
    c = pdf.confidence.to_numpy()
    np.testing.assert_allclose(m["brier_score"], ((c - y) ** 2).mean(), rtol=1e-9)
    assert m["n_samples"] == 3000
    assert 0 <= m["reliability"] <= 1 and 0 <= m["sharpness"] <= 1
