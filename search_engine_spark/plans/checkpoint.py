"""Resumable index build with per-partition checkpoints, lineage & metrics.

north_rule: "resumable from checkpoint with per-partition lineage +
metrics". The reference's KVS persistence (append log + recovery replay,
/root/reference/src/cis5550/kvs/Worker.java:279-353) restarts whole jobs;
here ``build_index``'s own stages (operators/indexer.py) run chunked and
each commits independently:

    out_dir/
      _stage/ranged_snapshot/ the build's url-range snapshot (stage 1);
                              its _pid/_ord columns fix every docid
      raw/chunk=<i>/          tokenized postings of chunk i: a contiguous
                              range of snapshot partitions (``_pid``)
      lineage/                one parquet row per committed stage —
                              snapshot, tokenize (one per chunk), assemble:
                              (chunk_id, stage, status, rows, wall_ms,
                               input_fingerprint, ts)
      postings/ terms/ docs/ stats.json   final index (assemble_index)

Crash semantics: a stage is only recorded in lineage AFTER its parquet
write succeeds (write-then-commit ordering); re-running
``resumable_build`` reuses the snapshot if the newest snapshot row matches
the input fingerprint, skips chunks committed since that snapshot and
re-runs the rest. Chunks are partition ranges of the kept snapshot, so
they never depend on re-sampled range boundaries; the assembly is a
deterministic function of the snapshot and the raw chunks — so any prefix
of a crashed build is reusable and the result is identical to a
single-shot build (tested).

In production each commit is an Iceberg snapshot (atomic); the parquet
directory + lineage-row protocol here has the same shape with the
container's toolset.
"""

from __future__ import annotations

import os
import re
import shutil
import time

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

from search_engine_spark.catalog import Warehouse
from search_engine_spark.functions.codec import DEFAULT_BLOCK_SIZE
from search_engine_spark.operators.indexer import (
    DEFAULT_POSTINGS_PER_BUCKET,
    assemble_index,
    docid_offsets,
    ranged_snapshot,
    tokenize_postings_from_snapshot,
)

LINEAGE_SCHEMA = (
    "chunk_id int, stage string, status string, rows long, wall_ms long, "
    "input_fingerprint string, ts double"
)


def _lineage_path(out_dir: str) -> str:
    return os.path.join(out_dir, "lineage")


def read_lineage(spark: SparkSession, out_dir: str) -> DataFrame:
    p = _lineage_path(out_dir)
    try:
        return spark.read.parquet(p)
    except Exception:
        return spark.createDataFrame([], LINEAGE_SCHEMA)


def _append_lineage(
    spark: SparkSession, out_dir: str, stage: str, chunk_id: int,
    rows: int, t0: float, fp: str,
) -> float:
    """Record one completed stage in lineage; returns its commit time."""
    ts = time.time()
    row = (chunk_id, stage, "ok", rows, int((ts - t0) * 1000), fp, ts)
    spark.createDataFrame([row], LINEAGE_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(_lineage_path(out_dir))
    return ts


def corpus_fingerprint(docs: DataFrame) -> str:
    """Order-insensitive fingerprint of (url) — identifies the input
    snapshot for lineage matching. One aggregate, no collect of data."""
    row = docs.agg(
        F.count(F.lit(1)).alias("n"),
        F.expr("bit_xor(xxhash64(url))").alias("h"),  # xor: no ANSI overflow
    ).collect()[0]
    return f"{row['n']}:{row['h']}"


def resumable_build(
    pages: DataFrame,
    out_dir: str,
    n_chunks: int = 8,
    lang: str | None = "en",
    stem: bool = True,
    cap: int | None = None,
    postings_per_bucket: int = DEFAULT_POSTINGS_PER_BUCKET,
    block_size: int = DEFAULT_BLOCK_SIZE,
) -> dict:
    """Chunked, restartable ``build_index``: one ranged snapshot, the
    tokenize stage run chunk by chunk over contiguous ranges of its
    partitions, then ``build_index``'s assembly over all chunks."""
    spark = pages.sparkSession
    src = pages.filter(F.col("lang") == lang) if lang else pages
    # every chunk spans a full default-parallelism's worth of partitions
    parts = n_chunks * spark.sparkContext.defaultParallelism
    # the fingerprint covers the chunk LAYOUT and the tokenizer settings
    # too: a lineage row from a run with a different layout describes
    # different partitions and must not mark this run's chunks as done.
    # "ord": the snapshot carries the _ord column (older ones lack it and
    # must be re-snapshotted, not reused)
    fp = (
        f"{corpus_fingerprint(src)}:c{n_chunks}:p{parts}"
        f":s{int(stem)}:k{cap}:ord"
    )
    lineage = read_lineage(spark, out_dir).filter("status = 'ok'").collect()
    snap_path = os.path.join(out_dir, "_stage", "ranged_snapshot")

    last = max(
        (r for r in lineage if r["stage"] == "snapshot"),
        key=lambda r: r["ts"], default=None,
    )
    fresh = last and last["input_fingerprint"] == fp
    if fresh and os.path.isdir(snap_path):
        since = last["ts"]
        offsets, docid_space = docid_offsets(spark, snap_path)
    else:
        t0 = time.time()
        offsets, docid_space = ranged_snapshot(src, snap_path, parts)
        n_pages = int(fp.split(":", 1)[0])  # the fingerprint's count
        since = _append_lineage(
            spark, out_dir, "snapshot", -1, n_pages, t0, fp
        )
    # a chunk row only counts against the snapshot it was cut from
    done = {
        r["chunk_id"]
        for r in lineage
        if r["stage"] == "tokenize"
        and r["input_fingerprint"] == fp
        and r["ts"] >= since
    }
    for ci in range(n_chunks):
        if ci in done:
            continue
        t0 = time.time()
        obs = Observation()
        pids = range(ci * parts // n_chunks, (ci + 1) * parts // n_chunks)
        # no range exchange in this plan: the observed count fires once
        tokenize_postings_from_snapshot(
            spark, snap_path, offsets, stem=stem, cap=cap, pids=pids
        ).observe(obs, F.count(F.lit(1)).alias("rows")).write.mode(
            "overwrite"
        ).option("compression", "lz4").parquet(
            os.path.join(out_dir, "raw", f"chunk={ci}")
        )
        _append_lineage(
            spark, out_dir, "tokenize", ci, obs.get["rows"], t0, fp
        )

    # Validate the raw/ directory against THIS run's chunk set first:
    # a prior run into the same out_dir with different n_chunks can
    # leave chunk=<i> directories that no current lineage row owns;
    # silently folding them in would corrupt doc/term stats and
    # postings. In-range chunks are safe (stale ones were just rebuilt
    # with mode=overwrite); anything else is deleted.
    raw_root = os.path.join(out_dir, "raw")
    for name in os.listdir(raw_root):
        m = re.fullmatch(r"chunk=(\d+)", name)
        if m is None or int(m.group(1)) >= n_chunks:
            shutil.rmtree(os.path.join(raw_root, name))

    t0 = time.time()
    stats = assemble_index(
        Warehouse(spark, out_dir), spark.read.parquet(raw_root),
        snap_path, offsets, docid_space,
        spark.sparkContext.defaultParallelism, postings_per_bucket,
        block_size, stem=stem, cap=cap, lang=lang, n_chunks=n_chunks,
        input_fingerprint=fp,
    )
    _append_lineage(spark, out_dir, "assemble", -1, stats["n_docs"], t0, fp)
    return stats


def build_metrics(spark: SparkSession, out_dir: str) -> DataFrame:
    """Stage metrics view over the lineage table."""
    return read_lineage(spark, out_dir).groupBy("stage").agg(
        F.count(F.lit(1)).alias("n_tasks"),
        F.sum("rows").alias("rows"),
        F.sum("wall_ms").alias("wall_ms"),
    )
