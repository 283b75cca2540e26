"""End-to-end KG construction pipeline (the north rule):

    interleaved documents (doc_id, spans[])
      → mention detection (Arrow/pandas UDF or native — both vectorized)
      → triple expansion (deterministic IRI templates)
      → candidate sameAs links → connected-components canonicalization
      → subject/object rewrite through the canonical mapping
      → dedup → partitioned (s,p,o,g) table + N-Quads-ready strings

One pipeline body, two stage stores (:mod:`pyrml_spark.kg.lineage`):

* :func:`run_pipeline` — :class:`~pyrml_spark.kg.lineage.StageRunner`:
  every stage is checkpointed as parquet + manifest-recorded (resumable,
  per-partition lineage).
* :func:`run_pipeline_fused` —
  :class:`~pyrml_spark.kg.lineage.MemoryStore`: one lazy DAG, the reused
  stages persisted in memory, a single partitioned write (throughput path).

The stores differ only in where a stage lives, so both return the same
triples by construction. The driver union-find vs distributed-CC decision
is :func:`~pyrml_spark.kg.canonicalize.connected_components_auto`'s, fed
the edge count the store already knows. The output table is partitioned by
a subject hash bucket (``pmod(xxhash64(s), N)``) so downstream point
lookups and joins prune partitions. AQE + explicit repartition sizes handle
skew on hot subjects at scale.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Optional, Union

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .canonicalize import connected_components_auto
from .datagen import generate_documents
from .extract import (
    assemble_canonical_triples,
    media_spans,
    mentions_native,
    mentions_pandas,
    sameas_candidates,
)
from .lineage import MemoryStore, StageRunner, fingerprint


@dataclass
class KGPipelineConfig:
    n_docs: int = 10_000
    use_pandas_extractor: bool = True
    n_subject_buckets: int = 32
    output_partitions: int = 0          # 0 = one file per bucket
    cc_max_iter: int = 25
    gen_partitions: int = 0                 # fixed datagen partitioning (benches)
    final_repartition: bool = True          # False: skip the bucket exchange
                                            # (fused bench path; dedup's own
                                            # shuffle already colocates rows)


def _public_input_tag(documents: DataFrame) -> str:
    """Resume identity for a caller-supplied input, from public surface only:
    schema JSON + a WHOLE-dataset order-independent signal (row count + sum
    of per-row xxhash64 — one aggregate job) + a bounded row sample hash.
    The whole-dataset aggregate means an appended/edited input changes the
    tag even when its first rows are identical, so resume can never silently
    serve stale stage checkpoints for a grown dataset. The aggregate is one
    full scan — callers with a real dataset identity (name + version) should
    pass ``input_tag`` and skip it."""
    import hashlib
    import logging

    logging.getLogger(__name__).warning(
        "no input_tag supplied for external documents: deriving one from a "
        "full-scan content hash (count + xxhash64 sum). Pass input_tag="
        "'<dataset>@<version>' to make resume identity explicit and skip "
        "this scan."
    )
    h = hashlib.sha256(documents.schema.json().encode())
    agg = documents.agg(
        F.count(F.lit(1)).alias("n"),
        # decimal(38,0) accumulator: a long sum of xxhash64 values overflows
        # under ANSI mode on even small inputs
        F.sum(F.xxhash64(F.struct(*documents.columns))
              .cast("decimal(38,0)")).alias("xh"),
    ).collect()[0]
    h.update(f"n={agg['n']};xh={agg['xh']}".encode())
    sample = documents.limit(64).collect()
    for row_repr in sorted(repr(r) for r in sample):
        h.update(row_repr.encode())
        h.update(b"\x00")
    return h.hexdigest()[:16]


def run_pipeline(
    spark: SparkSession,
    work_dir: str,
    config: KGPipelineConfig = KGPipelineConfig(),
    documents: Optional[DataFrame] = None,
    input_tag: Optional[str] = None,
) -> DataFrame:
    """Returns the final (s,p,o,g,subject_bucket) DataFrame; all stages
    checkpointed under ``work_dir`` with manifest lineage.

    ``input_tag`` names an external ``documents`` table (dataset name +
    version) in the stage fingerprints, else stage fingerprints would
    collide across different caller-supplied inputs and resume would reuse
    stale checkpoints. Omitted, a tag is derived from public surface only
    (:func:`_public_input_tag`)."""
    if documents is not None and input_tag is None:
        input_tag = _public_input_tag(documents)
    return _build(spark, StageRunner(spark, work_dir), config, documents,
                  input_tag)


def run_pipeline_fused(
    spark: SparkSession,
    out_dir: str,
    config: KGPipelineConfig = KGPipelineConfig(),
    documents: Optional[DataFrame] = None,
) -> DataFrame:
    """:func:`run_pipeline`'s body over the in-memory store: no
    intermediate parquet, one partitioned write to ``out_dir``. No
    ``input_tag`` parameter: fused mode keeps no checkpoints, so there is
    no resume identity to name. Use for throughput benching / one-shot
    runs; use :func:`run_pipeline` when stage-level resumability and
    lineage are required."""
    store = MemoryStore(spark, out_dir)
    try:
        return _build(spark, store, config, documents, None)
    finally:
        store.release()


def _build(spark: SparkSession, store: Union[StageRunner, MemoryStore],
           config: KGPipelineConfig, documents: Optional[DataFrame],
           input_tag: Optional[str]) -> DataFrame:
    """The pipeline body; ``store`` decides where each stage lives."""
    cfg_fp = fingerprint(
        config.n_docs, config.use_pandas_extractor, config.n_subject_buckets,
        "v1",
    )

    if documents is None:
        docs_fp = fingerprint("docs", cfg_fp)
        docs = store.run(
            "documents", docs_fp,
            lambda: generate_documents(spark, config.n_docs,
                                       partitions=config.gen_partitions),
        )
    else:
        docs_fp = fingerprint("docs-ext", cfg_fp, input_tag)
        docs = store.keep_input(documents)

    extractor = mentions_pandas if config.use_pandas_extractor else mentions_native
    mentions_fp = fingerprint("mentions", docs_fp, config.use_pandas_extractor)
    mentions = store.run("mentions", mentions_fp, lambda: extractor(docs))

    media_fp = fingerprint("media", docs_fp)
    media = store.run("media_spans", media_fp, lambda: media_spans(docs))

    edges_fp = fingerprint("edges", mentions_fp)
    edges = store.run("sameas_edges", edges_fp,
                      lambda: sameas_candidates(mentions))

    mapping_fp = fingerprint("mapping", edges_fp, config.cc_max_iter)
    mapping = store.run(
        "canonical_mapping", mapping_fp,
        lambda: connected_components_auto(
            edges,
            edge_rows=store.stage_rows("sameas_edges", edges_fp),
            on_event=store.record_event,
            max_iter=config.cc_max_iter,
        ).select(F.col("node").alias("entity"),
                 F.col("component").alias("canonical")),
    )
    # the store already knows the mapping's size — reuse it for the
    # conditional-broadcast decision instead of a probe job
    mapping_rows = store.stage_rows("canonical_mapping", mapping_fp)

    triples_fp = fingerprint("triples", mentions_fp, media_fp, mapping_fp)

    def build_triples() -> DataFrame:
        # category-wise assembly: rewrite-then-dedup per disjoint predicate
        # group — equals the old global dropDuplicates with ~4-8× fewer
        # shuffled bytes (see assemble_canonical_triples)
        canon = assemble_canonical_triples(mentions, media, mapping,
                                           mapping_rows=mapping_rows)
        out = canon.withColumn(
            "subject_bucket",
            F.pmod(F.xxhash64("s"), F.lit(config.n_subject_buckets)).cast("int"),
        )
        if not config.final_repartition:
            return out
        # cluster rows by bucket before partitionBy: without this every task
        # writes into every bucket dir (tasks × buckets small files).
        # RANGE partitioning on (bucket, s) instead of hash-on-bucket: with
        # only n_buckets distinct values, hash placement collides (birthday)
        # and the biggest write task carried ~3× the rows of the smallest
        # (event-log measured); the range sampler balances row counts while
        # keeping each task inside one bucket (a boundary task may straddle
        # two → at most one extra file per boundary).
        #
        # lazy localCheckpoint first (r9): repartitionByRange SAMPLES its
        # child to pick range bounds, which executed the whole assembly
        # subtree a second time before the write — checkpointed, the
        # sampler and the write share one materialization (guide §1.2)
        out = out.localCheckpoint(eager=False)
        return out.repartitionByRange(
            config.output_partitions or config.n_subject_buckets,
            "subject_bucket", "s",
        )

    # ONE multi-aggregate job, not one full-table job per metric
    def extra(df: DataFrame) -> dict:
        row = df.agg(
            F.countDistinct("s").alias("distinct_subjects"),
            F.countDistinct("g").alias("graphs"),
        ).collect()[0]
        return {"distinct_subjects": row["distinct_subjects"],
                "graphs": row["graphs"]}

    return store.run(
        "triples", triples_fp, build_triples,
        partition_by=["subject_bucket"],
        extra_metrics=extra,
    )
