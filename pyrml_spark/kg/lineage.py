"""Stage stores for the KG pipeline (north_rule: "resumable from checkpoint
with per-partition lineage + metrics"; no reference counterpart — new
design per SURVEY.md §4/§7). Both serve the one pipeline body in
:mod:`pyrml_spark.kg.pipeline` through the same four calls — ``keep_input``,
``run``, ``stage_rows`` and ``record_event``:

* :class:`StageRunner` — checkpointed and resumable. Each stage writes its
  output DataFrame to ``<dir>/stages/<name>`` (Parquet — the same writer
  API an Iceberg catalog would take) and appends a manifest record::

      {stage, input_fingerprint, rows, partitions, elapsed_sec, path,
       schema, extra: {...}, per_partition: [{partition, rows}, ...]}

  On re-run, a stage whose (name, input_fingerprint) matches the manifest
  is served from its checkpoint — the pipeline resumes mid-DAG after a
  crash. Fingerprints are driver-side hashes of the stage's declared inputs
  (config + upstream fingerprints), not data scans, so resume decisions are
  O(1).
* :class:`MemoryStore` — fused mode: no intermediate parquet; the stages
  the body reads more than once stay persisted in executor memory, row
  counts are taken on demand, and only the final table is written.
"""

from __future__ import annotations

import hashlib
import json
import os
import time
from dataclasses import dataclass, field
from typing import Callable, Dict, List, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def fingerprint(*parts) -> str:
    h = hashlib.sha256()
    for p in parts:
        h.update(repr(p).encode())
        h.update(b"\x00")
    return h.hexdigest()[:16]


@dataclass
class StageRecord:
    stage: str
    input_fingerprint: str
    rows: int
    partitions: int
    elapsed_sec: float
    path: str
    schema: str
    extra: dict = field(default_factory=dict)
    per_partition: list = field(default_factory=list)


def _write_and_read(spark: SparkSession, df: DataFrame, path: str,
                    partition_by: Optional[List[str]] = None) -> DataFrame:
    """Write ``df`` as parquet and read it back with ``df``'s own schema:
    an empty partitioned table leaves no data files to infer one from."""
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)
    return spark.read.schema(df.schema).parquet(path)


class StageRunner:
    def __init__(self, spark: SparkSession, base_dir: str):
        self.spark = spark
        self.manifest_path = os.path.join(base_dir, "manifest.jsonl")
        self.stage_dir = os.path.join(base_dir, "stages")
        os.makedirs(self.stage_dir, exist_ok=True)
        self._manifest: Dict[tuple, dict] = {}
        if os.path.exists(self.manifest_path):
            with open(self.manifest_path) as f:
                for line in f:
                    rec = json.loads(line)
                    if "input_fingerprint" in rec:  # skip free-form events
                        self._manifest[(rec["stage"], rec["input_fingerprint"])] = rec

    # ------------------------------------------------------------------
    def keep_input(self, df: DataFrame) -> DataFrame:
        """A caller-supplied input is already durable: nothing to write."""
        return df

    def run(
        self,
        name: str,
        input_fp: str,
        build: Callable[[], DataFrame],
        partition_by: Optional[List[str]] = None,
        extra_metrics: Optional[Callable[[DataFrame], dict]] = None,
    ) -> DataFrame:
        """Run (or resume) a stage. Returns the checkpointed DataFrame."""
        key = (name, input_fp)
        path = os.path.join(self.stage_dir, name)
        rec = self._manifest.get(key)
        if rec is not None and os.path.exists(rec["path"]):
            reader = self.spark.read
            if "schema" in rec:
                reader = reader.schema(
                    StructType.fromJson(json.loads(rec["schema"])))
            return reader.parquet(rec["path"])

        t0 = time.time()
        df = build()
        out = _write_and_read(self.spark, df, path, partition_by)
        # one job yields the per-partition lineage, the total row count (by
        # summing) and the partition count — no RDD handle, so it also runs
        # under Spark Connect
        per_partition = [
            {"partition": r["pid"], "rows": r["rows"]}
            for r in out.groupBy(
                F.spark_partition_id().alias("pid")
            ).agg(F.count(F.lit(1)).alias("rows")).collect()
        ]
        record = StageRecord(
            stage=name,
            input_fingerprint=input_fp,
            rows=sum(p["rows"] for p in per_partition),
            partitions=len(per_partition),
            elapsed_sec=round(time.time() - t0, 3),
            path=path,
            schema=df.schema.json(),
            extra=extra_metrics(out) if extra_metrics else {},
            per_partition=per_partition,
        )
        with open(self.manifest_path, "a") as f:
            f.write(json.dumps(record.__dict__) + "\n")
        self._manifest[key] = record.__dict__
        return out

    def record_event(self, stage: str, payload: dict) -> None:
        """Free-form manifest entry (e.g. per-iteration CC convergence)."""
        with open(self.manifest_path, "a") as f:
            f.write(json.dumps({"stage": stage, "event": payload}) + "\n")

    def stage_rows(self, name: str, input_fp: str) -> Optional[int]:
        """Recorded row count for a completed stage (None if not run) —
        lets downstream planning (e.g. conditional broadcasts) reuse the
        manifest instead of spending a count job."""
        rec = self._manifest.get((name, input_fp))
        return None if rec is None else rec.get("rows")


class MemoryStore:
    """Fused mode: one lazy DAG with a single partitioned write to
    ``out_dir``. Inputs and the stages the body reads more than once
    (documents, mentions, sameAs edges, and a mapping from the distributed
    CC loop) are persisted in memory; a driver-built mapping is a small
    local table whose size the ``cc_driver_union_find`` event already
    gives. Row counts are taken on demand; :meth:`release` unpersists."""

    _PERSISTED = frozenset(
        {"documents", "mentions", "sameas_edges", "canonical_mapping"})

    def __init__(self, spark: SparkSession, out_dir: str):
        self.spark = spark
        self.out_dir = out_dir
        self._frames: Dict[str, DataFrame] = {}
        self._rows: Dict[str, int] = {}
        self._held: List[DataFrame] = []

    def keep_input(self, df: DataFrame) -> DataFrame:
        df = df.persist()
        self._held.append(df)
        return df

    def run(
        self,
        name: str,
        input_fp: str,
        build: Callable[[], DataFrame],
        partition_by: Optional[List[str]] = None,
        extra_metrics: Optional[Callable[[DataFrame], dict]] = None,
    ) -> DataFrame:
        """Build a stage; ``partition_by`` marks the final table, the only
        one written. ``input_fp`` and ``extra_metrics`` serve the
        checkpointed store and are ignored here."""
        df = build()
        if partition_by:
            return _write_and_read(self.spark, df, self.out_dir, partition_by)
        if name in self._PERSISTED and name not in self._rows:
            # (a size already known here came from a driver-built mapping)
            df = self.keep_input(df)
        self._frames[name] = df
        return df

    def stage_rows(self, name: str, input_fp: str) -> int:
        if name not in self._rows:
            self._rows[name] = self._frames[name].count()
        return self._rows[name]

    def record_event(self, stage: str, payload: dict) -> None:
        if stage == "cc_driver_union_find":
            self._rows["canonical_mapping"] = payload["labels"]

    def release(self) -> None:
        for df in self._held:
            df.unpersist()
        self._held.clear()
