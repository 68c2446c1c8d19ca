"""Per-partition checkpointed lineage + metrics (north_rule P4).

A validation run over B buckets writes, per completed CHUNK of buckets,
a manifest append recording each finished bucket with its metrics. A
killed job, on restart, reads the manifest and skips every finished
bucket — resume without recomputing completed partitions.

The manifest is plain parquet (append-only, tiny), readable by any
engine; no reference counterpart (the reference has no checkpointing).
"""

from __future__ import annotations

import json
import os
import time
from typing import Iterable, Optional, Set

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

MANIFEST_SCHEMA = ("bucket int, status string, n_rows bigint, "
                   "n_ok bigint, n_err bigint, metrics string, "
                   "run_id string, finished_at double")


class CheckpointManager:
    def __init__(self, spark: SparkSession, checkpoint_dir: str,
                 run_id: Optional[str] = None):
        self.spark = spark
        self.dir = checkpoint_dir
        self.manifest_path = os.path.join(checkpoint_dir, "manifest")
        self.run_id = run_id or f"run-{int(time.time() * 1000)}"

    def _manifest_exists(self) -> bool:
        # a Hadoop FileSystem probe, so object-store paths work too; a
        # failing spark.read would log a FileNotFoundException stack
        # trace on every fresh checkpoint dir
        jvm = self.spark._jvm
        path = jvm.org.apache.hadoop.fs.Path(self.manifest_path)
        fs = path.getFileSystem(self.spark._jsc.hadoopConfiguration())
        return fs.exists(path)

    def finished_buckets(self) -> Set[int]:
        if not self._manifest_exists():
            return set()
        # a few rows per bucket: de-duplicated on the driver, which saves
        # the distinct's shuffle
        rows = self.manifest().select("bucket", "status").collect()
        return {r["bucket"] for r in rows if r["status"] == "done"}

    def record_done(self, bucket_metrics: Iterable[dict]) -> None:
        """Append one manifest row per finished bucket.
        Each dict: {bucket, n_rows, n_ok, n_err, **extra}."""
        rows = pd.DataFrame(
            [(int(m["bucket"]), "done", int(m.get("n_rows", 0)),
              int(m.get("n_ok", 0)), int(m.get("n_err", 0)),
              json.dumps({k: v for k, v in m.items()
                          if k not in ("bucket", "n_rows", "n_ok", "n_err")},
                         sort_keys=True, default=str))
             for m in bucket_metrics],
            columns=["bucket", "status", "n_rows", "n_ok", "n_err",
                     "metrics"])
        if rows.empty:
            return
        rows["run_id"] = self.run_id
        rows["finished_at"] = time.time()
        # a pandas frame crosses to the JVM through Arrow as a local
        # relation; a list of tuples would ship as a pickled Python RDD
        (self.spark.createDataFrame(rows, MANIFEST_SCHEMA)
         .coalesce(1)
         .write.mode("append").parquet(self.manifest_path))

    def manifest(self) -> DataFrame:
        return self.spark.read.schema(MANIFEST_SCHEMA) \
            .parquet(self.manifest_path)
