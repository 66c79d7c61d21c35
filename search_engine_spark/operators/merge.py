"""Index merge — MergeIndexes (T9) at block level.

Reference semantics (/root/reference/src/cis5550/jobs/MergeIndexes.java:
45-127): union two indexes built over DISJOINT document sets; same term →
posting-list union, doc tables concatenated.

Block-level fast path (why the index stores what it stores):

* b-side docids are shifted by a's DOCID SPACE (assigned ids, which can
  exceed n_docs when token-less pages consumed ids without ever reaching
  postings — shifting by n_docs would collide b's low ids with a's high
  ones). Inside a delta-gap encoded block only the FIRST docid is absolute
  (gaps are invariant under a constant shift), so shifting a block =
  re-encoding ONE varint and splicing bytes — no posting decode, no
  re-sort.
* block_max is stored idf-FREE (max of the tf/dl-normalized BM25 partial);
  df changes under merge, so idf changes — but the stored bound doesn't.
  The query engine multiplies the merged idf at read time, keeping the
  block-max bounds exact after merge with zero recomputation.
* dl/avgdl: document lengths don't change; merged avgdl is the weighted
  mean; per-posting normalized partials are computed against avgdl at
  BUILD time though — so block_max values computed with each side's own
  avgdl are NOT exact bounds under the merged avgdl. We rescale
  conservatively: multiplying a-side maxima by ub_scale(avgdl_a→avgdl_m)
  keeps them valid upper bounds (see ``_bound_scale``); block-max
  pruning stays exact (bounds only ever loosen).
* term stats: df/cf add; idf recomputed from merged N. One tiny aggregate.

Ordering: merged per-term block order must be "all of a, then all of b"
(docid-disjoint ranges). We reuse the bucket column: b.bucket is offset by
a's global max bucket + 1 — cursor order (bucket, block_id) then yields the
globally docid-sorted posting list.
"""

from __future__ import annotations

import json
import os

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.functions import pandas_udf

from search_engine_spark.catalog import Warehouse
from search_engine_spark.functions.codec import varint_decode, varint_encode
from search_engine_spark.operators.text_ops import bm25_idf_col


def _bound_scale(avgdl_old: float, avgdl_new: float) -> float:
    """Smallest safe factor c with score_new(tf, dl) ≤ c · score_old(tf, dl)
    for all tf ≥ 1, dl ≥ 0, where
    score(tf, dl; a) = tf·(k1+1) / (tf + k1·(1 − b + b·dl/a)).

    The ratio score_new/score_old = D_old/D_new with
    D(a) = tf + k1(1−b) + k1·b·dl/a. It equals 1 at dl = 0 and increases
    monotonically in dl toward a_new/a_old, so the supremum is
    c = max(1, avgdl_new / avgdl_old). Scaling stored (idf-free) block
    maxima by c keeps them valid block-max bounds under the merged avgdl —
    bounds may loosen, exactness is unaffected."""
    if avgdl_old <= 0:
        return 1.0
    return max(1.0, avgdl_new / avgdl_old)


def _shift_block_bytes(blob: bytes, shift: int) -> bytes:
    """Add ``shift`` to every docid in an encoded block by rewriting only
    the first-docid varint (gaps are shift-invariant)."""
    if shift == 0:
        return blob
    n, off1 = varint_decode(blob, 0)
    if n == 0:
        return blob
    first, off2 = varint_decode(blob, off1)
    out = bytearray(blob[:off1])
    varint_encode(first + shift, out)
    out += blob[off2:]
    return bytes(out)


def merge_indexes(
    spark: SparkSession, a_dir: str, b_dir: str, out_dir: str
) -> dict:
    """Merge two index warehouses over disjoint corpora → out_dir."""
    with open(os.path.join(a_dir, "stats.json")) as fh:
        sa = json.load(fh)
    with open(os.path.join(b_dir, "stats.json")) as fh:
        sb = json.load(fh)
    # one term space: a stemmed and an unstemmed segment (or two position
    # caps) would answer the same query term from different postings
    for key in ("stem", "cap"):
        if sa.get(key) != sb.get(key):
            raise ValueError(
                f"cannot merge indexes built with different {key}: "
                f"{sa.get(key)!r} vs {sb.get(key)!r}"
            )
    # docid_space falls back to n_docs for pre-space indexes (equal unless
    # the corpus contained token-less pages)
    shift = sa.get("docid_space", sa["n_docs"])
    n_docs = sa["n_docs"] + sb["n_docs"]
    avgdl = (
        (sa["avgdl"] * sa["n_docs"] + sb["avgdl"] * sb["n_docs"]) / n_docs
        if n_docs
        else 0.0
    )
    scale_a = _bound_scale(sa["avgdl"], avgdl)
    scale_b = _bound_scale(sb["avgdl"], avgdl)

    # reads resolve through the Warehouse so versioned (snapshot-manifest)
    # and Iceberg-backed indexes merge too — raw parquet paths would find
    # nothing at a versioned table's root
    wa = Warehouse(spark, a_dir)
    wb = Warehouse(spark, b_dir)
    pa_ = wa.read("postings")
    pb = wb.read("postings")
    max_bucket = pa_.agg(F.max("bucket")).collect()[0][0] or 0
    bucket_off = int(max_bucket) + 1

    # Arrow-batched (pandas) UDF: one Python call per batch of blocks, not
    # per block row; _shift_block_bytes itself rewrites ONE varint per block.
    @pandas_udf("binary")
    def shift_udf(blobs: pd.Series) -> pd.Series:
        return blobs.map(lambda blob: _shift_block_bytes(bytes(blob), shift))

    a_blocks = pa_.withColumn(
        "block_max", F.col("block_max") * F.lit(scale_a)
    )
    b_blocks = (
        pb.withColumn("bucket", F.col("bucket") + F.lit(bucket_off))
        .withColumn("first_docid", F.col("first_docid") + F.lit(shift))
        .withColumn("last_docid", F.col("last_docid") + F.lit(shift))
        .withColumn("block_max", F.col("block_max") * F.lit(scale_b))
        .withColumn("block", shift_udf("block"))
    )
    parts = spark.sparkContext.defaultParallelism
    merged = a_blocks.unionByName(b_blocks)
    (
        merged.repartitionByRange(parts, "term")
        .sortWithinPartitions("term", "bucket", "block_id")
        .write.mode("overwrite")
        .parquet(os.path.join(out_dir, "postings"))
    )

    ta = wa.read("terms")
    tb = wb.read("terms")
    terms = (
        ta.select("term", "df", "cf")
        .unionByName(tb.select("term", "df", "cf"))
        .groupBy("term")
        .agg(F.sum("df").alias("df"), F.sum("cf").alias("cf"))
        .withColumn("idf", bm25_idf_col(n_docs, F.col("df")))
    )
    terms.repartitionByRange(max(1, parts // 4), "term").sortWithinPartitions(
        "term"
    ).write.mode("overwrite").parquet(os.path.join(out_dir, "terms"))

    da = wa.read("docs")
    db = wb.read("docs").withColumn(
        "docid", F.col("docid") + F.lit(shift)
    )
    docs = da.unionByName(db)
    docs.repartitionByRange(max(1, parts // 4), "docid").sortWithinPartitions(
        "docid"
    ).write.mode("overwrite").parquet(os.path.join(out_dir, "docs"))

    stats = dict(sa)
    stats.update({
        "n_docs": n_docs,
        "docid_space": shift + sb.get("docid_space", sb["n_docs"]),
        "avgdl": avgdl,
        "merged_from": [a_dir, b_dir],
    })
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, "stats.json"), "w") as fh:
        json.dump(stats, fh, indent=1)
    return stats
