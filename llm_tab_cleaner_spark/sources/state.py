"""State store: checkpointed commits + exact resume via anti-join.

Re-expresses the reference's SQLite incremental state
(/root/reference/src/llm_tab_cleaner/incremental.py:134-275 —
processed_records keyed by record hash, filter via isin, commit per batch)
as an Iceberg-shaped commit protocol on plain parquet:

* each batch's processed hashes land in ``state_dir/batch_<id>/`` (parquet),
* a batch becomes VISIBLE only when listed in ``_manifest.json``, which is
  replaced atomically (tmp + os.replace) — the snapshot-commit contract,
* resume = ``input LEFT ANTI JOIN visible_state ON content_sha256``
  (incremental.py:248-258's isin-filter, distributed),
* ``reprocess_low_confidence`` drops low-confidence hashes from the manifest
  view by rewriting the batch (incremental.py:87-121 semantics).

When an Iceberg catalog is on the classpath the same contract maps 1:1 to
snapshot commits + incremental reads; this class is the jar-free fallback
(SURVEY.md §7 risk 6).
"""

from __future__ import annotations

import json
import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

STATE_SCHEMA = T.StructType(
    [
        T.StructField("content_sha256", T.StringType(), False),
        T.StructField("confidence", T.DoubleType(), True),
        T.StructField("keep", T.BooleanType(), True),
        T.StructField("batch_id", T.StringType(), False),
    ]
)


class StateStore:
    def __init__(self, state_dir: str):
        self.state_dir = state_dir
        os.makedirs(state_dir, exist_ok=True)
        self._manifest_path = os.path.join(state_dir, "_manifest.json")

    # ---- manifest (atomic commit point) ----
    def _read_manifest(self) -> list[str]:
        if not os.path.exists(self._manifest_path):
            return []
        with open(self._manifest_path) as fh:
            return json.load(fh)["batches"]

    def _write_manifest(self, batches: list[str]) -> None:
        tmp = self._manifest_path + f".tmp.{uuid.uuid4().hex}"
        with open(tmp, "w") as fh:
            json.dump({"batches": batches}, fh)
        os.replace(tmp, self._manifest_path)  # atomic on POSIX

    def committed_batches(self) -> list[str]:
        return self._read_manifest()

    # ---- reads ----
    def processed(self, spark: SparkSession) -> DataFrame:
        """All visible processed records (empty DataFrame when none)."""
        batches = self._read_manifest()
        paths = [os.path.join(self.state_dir, f"batch_{b}") for b in batches]
        paths = [p for p in paths if os.path.exists(p)]
        if not paths:
            return spark.createDataFrame([], STATE_SCHEMA)
        return spark.read.schema(STATE_SCHEMA).parquet(*paths)

    def filter_new(self, df: DataFrame, spark: SparkSession) -> DataFrame:
        """Drop rows already processed (left-anti join on content_sha256).
        Input must already carry content_sha256. The state side is not
        deduplicated: a left-anti join only asks whether a match exists, and
        a distinct() would plan an aggregate and a shuffle over all state.
        With no committed batch there is nothing to drop and ``df`` is
        returned as is: the empty state is an RDD scan the planner cannot
        size, so joining it would shuffle and sort the whole input."""
        if not self._read_manifest():
            return df
        state = self.processed(spark).select("content_sha256")
        return df.join(state, "content_sha256", "left_anti")

    # ---- commit ----
    def commit(self, result: DataFrame, batch_id: str | None = None) -> str:
        """Durably record a batch of processed files, then publish it.
        Data is fully written BEFORE the manifest flips — a crash in between
        leaves the batch invisible, so rerun reprocesses it exactly once."""
        batch_id = batch_id or uuid.uuid4().hex[:12]
        out = os.path.join(self.state_dir, f"batch_{batch_id}")
        (
            result.select(
                "content_sha256",
                F.col("confidence").cast("double"),
                "keep",
                F.lit(batch_id).alias("batch_id"),
            )
            .write.mode("overwrite")
            .parquet(out)
        )
        batches = self._read_manifest()
        if batch_id not in batches:
            self._write_manifest(batches + [batch_id])
        return batch_id

    def running_stats(self, spark: SparkSession, per_batch: bool = False) -> DataFrame:
        """A15 (reference incremental.py:217-237): running processing stats.
        The reference mutates SQLite counters per batch; on an append-only
        store the equivalent is one aggregation over the visible state rows
        (4 narrow columns — cheap at any scale, and always consistent with
        the manifest, unlike a counter that can drift on crash)."""
        s = self.processed(spark)
        keys = ["batch_id"] if per_batch else []
        grouped = s.groupBy(*keys) if keys else s
        return grouped.agg(
            F.count(F.lit(1)).alias("total_processed"),
            F.sum(F.col("keep").cast("long")).alias("total_kept"),
            F.round(F.avg("confidence"), 4).alias("avg_confidence"),
            F.count_distinct("batch_id").alias("n_batches"),
        )

    def reprocess_low_confidence(self, spark: SparkSession, threshold: float) -> int:
        """Remove hashes below `threshold` so they re-enter the pipeline
        (incremental.py:87-121). Rewrites each batch without those rows."""
        removed = 0
        for b in self._read_manifest():
            path = os.path.join(self.state_dir, f"batch_{b}")
            if not os.path.exists(path):
                continue
            df = spark.read.schema(STATE_SCHEMA).parquet(path)
            low = df.filter(F.col("confidence") < threshold)
            n = low.count()
            if n == 0:
                continue
            kept = df.filter(
                F.col("confidence").isNull() | (F.col("confidence") >= threshold)
            )
            tmp = path + ".rewrite"
            kept.write.mode("overwrite").parquet(tmp)
            import shutil

            shutil.rmtree(path)
            os.replace(tmp, path)
            removed += n
        return removed
