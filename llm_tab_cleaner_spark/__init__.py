"""llm_tab_cleaner_spark — a from-scratch PySpark-native quality-filter engine.

Re-expresses the capabilities of danieleschmidt/llm-tab-cleaner (reference at
/root/reference, v0.3.0) as a Spark-first pipeline: language-ID + quality
filter + PII/toxicity scrub over a table of source-code files, with per-file
keep/drop decision + confidence, a long-format audit trail, checkpointed
resume, and explicit skew handling.

Architecture (see SURVEY.md §7):
  - ``functions/``  — native Column expressions (text features, PII scrub,
    hashes) and the scorer (langid + perplexity + token stats): the model is
    trained in Python and scored by one Java UDF.
  - ``jvm/``        — the Java UDFs (the scorer, the dedup text and
    signature kernels) and the jar build (``build_session`` compiles it once per
    source version).
  - ``operators/``  — rule compiler, quality-filter pipeline, profiler,
    dedup family, similarity search, text analysis, calibration.
  - ``sources/``    — IO + the state/checkpoint store (parquet manifest,
    Iceberg-shaped contract).
  - ``plans/``      — high-level pipeline assembly (the public API).
  - ``fixtures/``   — deterministic seeded generators for the code-files
    table with golden keep/drop labels and golden scrubbed bytes.
  - ``streaming/``  — Structured Streaming variant of the clean stage.

Everything in the hot path is a native Column expression or the Java scorer
UDF, inside whole-stage codegen — the batch pipeline has no Python stage.
"""

__version__ = "0.2.0"

from llm_tab_cleaner_spark.plans.pipeline import CleanPipeline, PipelineConfig

__all__ = ["CleanPipeline", "PipelineConfig", "__version__"]
# Reference-compat surfaces (imported lazily by most users):
#   compat.TableCleaner / SparkCleaner / CleaningRule / RuleSet /
#   PatternLearner (adaptive learn-then-apply)
#   cli.main — the llm-clean command (python -m llm_tab_cleaner_spark.cli)
