"""Sequence packing for LLM training-data pipelines.

GPT-style "concatenate then chunk" packing: documents are laid out in a
deterministic global order (by doc key), the token stream is split into
fixed-``budget`` context windows, and each document is assigned the
sequence id + offset where it starts. This is the standard pretraining
layout (one global token stream, no per-sequence padding); the
``straddles`` flag marks documents that cross a window boundary, which
is what a loss-masking or document-attention-mask stage consumes.

Scale architecture: the only primitive needed is a GLOBAL EXCLUSIVE
PREFIX SUM of per-doc token counts in doc order — the naive
``sum() over (order by docid)`` window is a single-task bottleneck (one
partition holds the whole corpus), so :func:`exclusive_prefix_sum`
reuses the two-phase pattern of the indexer's docid assignment
(``indexer.ranged_snapshot``; reference anti-pattern it replaces:
IndexerProject.java:210-235's sequential driver counter):

  1. range-partition by the order key, sort within partitions, and
     MATERIALIZE the snapshot (``repartitionByRange`` re-samples range
     boundaries per action — without the pinned snapshot the counting
     pass and the final pass could disagree on partition membership).
  2. per-partition token sums → driver prefix-sum over one long per
     partition (thousands of longs, never corpus-sized).
  3. start = partition offset + per-partition window cumsum — every
     window is bounded by the partition chunk, none is global.

Everything downstream of ``start`` is pure arithmetic (seq_id =
start div budget), so the whole operator is JVM-side and
oracle-checkable in DuckDB with a plain window cumsum.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, Window, functions as F


def exclusive_prefix_sum(
    df: DataFrame,
    order_col: str,
    value_col: str,
    out: str = "start",
    partitions: int | None = None,
    scratch_dir: str | None = None,
) -> DataFrame:
    """Adds ``out`` = sum of ``value_col`` over all rows strictly before
    this one in ``order_col`` order — distributed, no global window.

    ``order_col`` must be unique (it defines the layout order). On a
    cluster ``scratch_dir`` must be shared storage; defaults to a local
    temp dir here.
    """
    spark = df.sparkSession
    parts = partitions or spark.sparkContext.defaultParallelism
    if scratch_dir is None:
        scratch_dir = tempfile.mkdtemp(prefix="se_psum_")
    snap_path = os.path.join(scratch_dir, "ranged_snapshot")
    (
        df.repartitionByRange(parts, order_col)
        .sortWithinPartitions(order_col)
        .withColumn("_pid", F.spark_partition_id())
        .write.mode("overwrite")
        .option("compression", "lz4")
        .parquet(snap_path)
    )
    snap = spark.read.parquet(snap_path)
    sums = {
        r["_pid"]: int(r["s"])
        for r in snap.groupBy("_pid")
        .agg(F.sum(value_col).alias("s"))
        .collect()
    }
    offsets: dict[int, int] = {}
    acc = 0
    for pid in sorted(sums):
        offsets[pid] = acc
        acc += sums[pid]
    offset_map = F.create_map(
        *[F.lit(x) for kv in offsets.items() for x in kv]
    )
    w = (
        Window.partitionBy("_pid")
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        snap.withColumn(
            out,
            offset_map[F.col("_pid")]
            + F.coalesce(F.sum(value_col).over(w), F.lit(0)),
        )
        .drop("_pid")
    )


def pack_sequences(
    doc_tokens: DataFrame,
    budget: int,
    docid: str = "docid",
    ntokens: str = "n_tokens",
    partitions: int | None = None,
    scratch_dir: str | None = None,
) -> DataFrame:
    """(docid, n_tokens, start, seq_id, seq_offset, straddles) per doc.

    ``doc_tokens`` is (docid, n_tokens) — e.g. from
    ``textstats.token_counts`` or ``bpe.bpe_encode``. ``seq_id`` is the
    ``budget``-token context window where the document STARTS,
    ``seq_offset`` the position within it, ``straddles`` 1 when the
    document crosses at least one window boundary (0 for empty docs —
    guarded so neither engine ever integer-divides a negative).
    """
    if budget <= 0:
        raise ValueError(f"budget must be positive, got {budget}")
    base = exclusive_prefix_sum(
        doc_tokens.select(
            F.col(docid).alias("docid"),
            F.col(ntokens).cast("bigint").alias("n_tokens"),
        ),
        order_col="docid",
        value_col="n_tokens",
        partitions=partitions,
        scratch_dir=scratch_dir,
    )
    b = F.lit(budget)
    return base.select(
        "docid",
        "n_tokens",
        F.col("start"),
        F.expr(f"start div {budget}").alias("seq_id"),
        (F.col("start") % b).alias("seq_offset"),
        F.when(
            (F.col("n_tokens") > 0)
            & (
                F.expr(f"(start + n_tokens - 1) div {budget}")
                != F.expr(f"start div {budget}")
            ),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .cast("int")
        .alias("straddles"),
    )
