"""Distributed inverted-index builder — the engine's core batch pipeline.

Replaces the reference's index build (/root/reference/src/cis5550/jobs/
IndexerProject.java:191-441: sequential driver docId counter + side-effect
KVS `batchPut` writes keyed by term) with an explicit, declarative Spark
plan:

    pages ──filter(lang)──> docid assignment (distributed dense rank)
          ──mapInArrow(tokenize: extraction-parity tokenizer + Porter
            dual-indexing)──> (docid, term, tf, positions-bytes, dl)
          ──groupBy(term).agg──> term stats (df, cf, idf)
          ──heavy-term detection──> bucket postings by docid range for
            skewed terms (explicit skew handling per north_rule)
          ──repartitionByRange(term,bucket) + sortWithinPartitions +
            mapInArrow(stream encoder)──> delta-gap+varint posting BLOCKS
            with block-max BM25 metadata (functions/codec.py) → parquet

Scale design notes (the parts that must survive 10^12 docs):

* **Docid assignment** is a two-pass distributed dense rank over url
  (range-partition by url and sort → the snapshot stores each row's
  partition ``_pid`` and ordinal ``_ord`` → per-partition counts → driver
  prefix-sum of P integers → docid = offset[_pid] + _ord, a JVM
  expression). No global window, no driver-side scan, no Python — the
  reference's sequential global counter (IndexerProject.java:210-235) is
  the anti-pattern this replaces. The only driver state is one count per
  partition, and since the rank is stored data, the snapshot reads back
  in splits of any size.
* **Skew**: stop-word-head terms have posting lists ~N long; a naive
  groupBy(term) would put an entire such list in one task. Terms whose df
  exceeds ``postings_per_bucket`` are split into docid-RANGE buckets
  (deterministic, not random salt), so every task encodes a bounded chunk
  and — because buckets are disjoint, ordered docid ranges — concatenating
  the per-bucket blocks in (bucket, block_id) order yields the globally
  docid-sorted posting list with NO re-merge pass. Block-max metadata is
  exact per block, so it is unaffected by the split.
* **Storage layout**: postings are range-partitioned and sorted by term so
  parquet row-group min/max statistics prune term lookups; in production
  the same DataFrames commit to Iceberg tables (partition pruning +
  snapshots); this container lacks the Iceberg runtime jar so the catalog
  writes plain parquet with an identical schema.

Index warehouse layout (directory = one index):
    postings/   term, bucket, block_id, first_docid, last_docid, n, block_max, block bytes
    terms/      term, df, cf, idf
    docs/       docid, url, dl
    stats.json  n_docs, avgdl, build metadata
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import Column, DataFrame, functions as F

from search_engine_spark.catalog import Warehouse
from search_engine_spark.functions.codec import DEFAULT_BLOCK_SIZE
from search_engine_spark.operators.text_ops import bm25_idf_col
from search_engine_spark.oracle.text import doc_postings

# A "heavy" term's postings are split into docid-range buckets of this many
# postings (expected), keeping encode tasks bounded regardless of term skew.
DEFAULT_POSTINGS_PER_BUCKET = 50_000

# positions carried as pre-encoded varint bytes (codec.encode_positions):
# the block format's per-posting positions section verbatim, so block
# assembly is pure byte concatenation and the term shuffle moves flat
# binary instead of per-row integer arrays (≈3× lighter rows).
POSTINGS_SCHEMA = (
    "docid long, term string, tf int, positions binary, dl int"
)

BLOCKS_SCHEMA = (
    "term string, bucket int, block_id int, first_docid long, "
    "last_docid long, n int, block_max double, block binary"
)


# ---------------------------------------------------------------------------
# Stage 1: docid assignment (distributed dense rank by url)
# ---------------------------------------------------------------------------

def ranged_snapshot(
    src: DataFrame, snap_path: str, parts: int, from_html: bool = False
) -> tuple[dict[int, int], int]:
    """Write ``src`` range-partitioned and sorted by url to ``snap_path``,
    each row tagged with its partition ``_pid`` and its ordinal ``_ord``
    within that partition; return the per-partition docid offsets and the
    docid space (see :func:`docid_offsets`).

    ``_ord`` is the low 33 bits of ``monotonically_increasing_id()`` (the
    row number within the task) taken after the sort, so the url rank is
    stored data: no window, no extra exchange, and reading the snapshot
    back in any number of splits cannot change a docid.

    The write pins ONE sampling of the range boundaries:
    ``repartitionByRange`` re-samples per action, so an unmaterialized
    plan could assign different partition ids between the counting pass
    and downstream consumers — a silent duplicate-id bug.
    """
    (
        src.select("url", "html" if from_html else "text")
        .repartitionByRange(parts, "url")
        .sortWithinPartitions("url")
        .withColumn("_pid", F.spark_partition_id())
        .withColumn(
            "_ord", F.monotonically_increasing_id().bitwiseAND((1 << 33) - 1)
        )
        .write.mode("overwrite")
        .option("compression", "lz4")
        .parquet(snap_path)
    )
    return docid_offsets(src.sparkSession, snap_path)


def docid_offsets(spark, snap_path: str) -> tuple[dict[int, int], int]:
    """Per-partition docid offsets from the materialized ranged snapshot,
    and the docid space: the snapshot's row count (every page gets a docid,
    including token-less ones that never reach postings or docs)."""
    snap = spark.read.parquet(snap_path)
    counts = {
        r["_pid"]: r["cnt"]
        for r in snap.groupBy("_pid").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    offsets: dict[int, int] = {}
    acc = 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    return offsets, acc


def docid_col(offsets: dict[int, int]) -> Column:
    """docid = offset[_pid] + _ord over a ranged-snapshot read: the url's
    rank, computed in the JVM."""
    offset = F.create_map(
        *[F.lit(x) for kv in offsets.items() for x in kv]
    ).cast("map<int,bigint>")
    return (offset[F.col("_pid")] + F.col("_ord")).alias("docid")


# ---------------------------------------------------------------------------
# Stage 2: tokenize → (docid, term, tf, positions, dl)
# ---------------------------------------------------------------------------

def tokenize_postings_from_snapshot(
    spark,
    snap_path: str,
    offsets: dict[int, int],
    stem: bool = True,
    cap: int | None = None,
    from_html: bool = False,
    pids: range | None = None,
) -> DataFrame:
    """Stream the ranged snapshot with its docids (:func:`docid_col`; no
    window, no extra shuffle of the text) and tokenize: one row per
    (docid, distinct term) with tf, varint positions and the doc length
    ``dl``.
    ``from_html`` runs the pinned HTML→text extraction first (the full
    Common-Crawl pipeline; reference IndexerProject.java:262-276).
    ``pids`` keeps only that range of snapshot partitions (a resumable
    build's chunk); parquet statistics skip the other files."""
    import numpy as np
    import pyarrow as pa

    from search_engine_spark.functions.codec import encode_positions
    from search_engine_spark.oracle.text import extract_text

    # column-pruned: urls are NOT read here (the (docid, url) map has its
    # own pruned read) — the content column dominates this scan, don't pay
    # a second full url decode on the biggest read of the build
    snap = spark.read.parquet(snap_path)
    if pids is not None:
        snap = snap.filter(F.col("_pid").between(pids.start, pids.stop - 1))
    snap = snap.select("html" if from_html else "text", docid_col(offsets))
    kw = {} if cap is None else {"cap": cap}

    out_schema = pa.schema(
        [
            ("docid", pa.int64()),
            ("term", pa.string()),
            ("tf", pa.int32()),
            ("positions", pa.binary()),
            ("dl", pa.int32()),
        ]
    )

    def run(batches):
        o_docid: list[int] = []
        o_term: list[str] = []
        o_tf: list[int] = []
        o_dl: list[int] = []
        o_pos: list[bytes] = []

        def flush():
            out = pa.RecordBatch.from_arrays(
                [
                    pa.array(np.asarray(o_docid, dtype=np.int64)),
                    pa.array(o_term, pa.string()),
                    pa.array(np.asarray(o_tf, dtype=np.int32)),
                    pa.array(o_pos, pa.binary()),
                    pa.array(np.asarray(o_dl, dtype=np.int32)),
                ],
                schema=out_schema,
            )
            o_docid.clear(); o_term.clear(); o_tf.clear()
            o_dl.clear(); o_pos.clear()
            return out

        for batch in batches:
            texts_in = batch.column(0).to_pylist()
            docids_in = batch.column(1).to_pylist()
            for did, txt in zip(docids_in, texts_in):
                if from_html:
                    txt = extract_text(txt or b"")
                per_term, dl = doc_postings(txt or "", stem=stem, **kw)
                for term, plist in per_term.items():
                    o_docid.append(did)
                    o_term.append(term)
                    o_tf.append(len(plist))
                    o_dl.append(dl)
                    o_pos.append(encode_positions(plist))
                # bounded output batches: one batch per input batch can hit
                # 100+ MB of arrow direct memory on the JVM reader side
                if len(o_docid) >= 131_072:
                    yield flush()
        if o_docid:
            yield flush()

    return snap.mapInArrow(run, schema=POSTINGS_SCHEMA)


# ---------------------------------------------------------------------------
# Stage 3: term statistics + heavy-term detection
# ---------------------------------------------------------------------------

def term_stats(postings: DataFrame, n_docs: int) -> DataFrame:
    """(term, df, cf, idf) — hash aggregation with map-side partials
    (reference's df/idf full-scan pass: IndexerProjectVersion1.java:781-802)."""
    return postings.groupBy("term").agg(
        F.count(F.lit(1)).alias("df"),
        F.sum("tf").alias("cf"),
    ).withColumn("idf", bm25_idf_col(n_docs, F.col("df")))


# ---------------------------------------------------------------------------
# Stage 4: posting-block build (skew-bucketed)
# ---------------------------------------------------------------------------

def build_blocks_arrow(
    postings: DataFrame,
    terms: DataFrame,
    n_docs: int,
    avgdl: float,
    postings_per_bucket: int = DEFAULT_POSTINGS_PER_BUCKET,
    block_size: int = DEFAULT_BLOCK_SIZE,
    partitions: int | None = None,
) -> DataFrame:
    """Arrow-native block build in ONE shuffle.

    ``repartitionByRange(term, bucket) → sortWithinPartitions(term, bucket,
    docid) → mapInArrow(stream encoder)``: groups arrive contiguous and
    docid-sorted, so the encoder is a zero-copy streaming pass over Arrow
    batches — positions stay a flat values+offsets ListArray end to end (no
    per-row Python lists), and the output is already term-range-laid-out
    for the parquet write (no second shuffle). Heavy terms are docid-range
    bucketed (deterministic docid ranges; see module docstring).
    """
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    from search_engine_spark.functions.codec import encode_block_posbytes
    from search_engine_spark.oracle.bm25 import B, K1

    spark = postings.sparkSession
    parts = partitions or spark.sparkContext.defaultParallelism
    bucket_span = max(1, postings_per_bucket)
    heavy = terms.filter(F.col("df") > postings_per_bucket).select("term")
    tagged = (
        postings.join(
            F.broadcast(heavy.withColumn("_heavy", F.lit(True))), "term", "left"
        )
        .withColumn(
            "bucket",
            F.when(
                F.col("_heavy").isNotNull(),
                (F.col("docid") / F.lit(bucket_span)).cast("int"),
            ).otherwise(F.lit(0)),
        )
        .select("term", "bucket", "docid", "tf", "positions", "dl")
        .repartitionByRange(parts, "term", "bucket")
        .sortWithinPartitions("term", "bucket", "docid")
    )

    out_fields = pa.schema(
        [
            ("term", pa.string()),
            ("bucket", pa.int32()),
            ("block_id", pa.int32()),
            ("first_docid", pa.int64()),
            ("last_docid", pa.int64()),
            ("n", pa.int32()),
            ("block_max", pa.float64()),
            ("block", pa.binary()),
        ]
    )

    def emit_groups(tbl: "pa.Table", starts: "np.ndarray"):
        """Encode each contiguous (term,bucket) group of a docid-sorted
        table; ``starts`` are the group start offsets (first = 0)."""
        tbl = tbl.combine_chunks()
        docid = tbl.column("docid").to_numpy()
        tf = tbl.column("tf").to_numpy().astype(np.int64, copy=False)
        dl_i = tbl.column("dl").to_numpy().astype(np.int64, copy=False)
        dl = dl_i.astype(np.float64, copy=False)
    # positions: a BinaryArray = uint8 values buffer + offsets; block
        # positions regions are raw slices of the values buffer (zero-copy,
        # no per-row Python objects)
        pos = tbl.column("positions")
        pos = pos.chunk(0) if isinstance(pos, pa.ChunkedArray) else pos
        off_buf = np.frombuffer(pos.buffers()[1], dtype=np.int32)
        offs = off_buf[pos.offset : pos.offset + len(pos) + 1].astype(np.int64)
        base = offs[0]
        offs = offs - base
        raw = np.frombuffer(pos.buffers()[2], dtype=np.uint8)
        raw = raw[base : base + offs[-1]] if len(offs) else raw[:0]
        # materialize term/bucket ONLY at group starts (a full to_numpy of
        # the string column would allocate one Python object per row)
        starts_idx = pa.array(starts, pa.int64())
        g_terms = tbl.column("term").take(starts_idx).to_pylist()
        g_buckets = tbl.column("bucket").take(starts_idx).to_pylist()
        norm = tf * (K1 + 1.0) / (tf + K1 * (1.0 - B + B * dl / avgdl))
        bounds = np.append(starts, len(tbl))
        o_term, o_bucket, o_bid, o_first, o_last, o_n, o_max, o_blob = (
            [], [], [], [], [], [], [], []
        )
        for gi in range(len(starts)):
            g0, g1 = int(bounds[gi]), int(bounds[gi + 1])
            t, bk = g_terms[gi], int(g_buckets[gi])
            for bi, s in enumerate(range(g0, g1, block_size)):
                e = min(s + block_size, g1)
                blob = encode_block_posbytes(
                    docid[s:e],
                    tf[s:e],
                    dl_i[s:e],
                    raw[offs[s] : offs[e]].tobytes(),
                )
                o_term.append(t)
                o_bucket.append(bk)
                o_bid.append(bi)
                o_first.append(int(docid[s]))
                o_last.append(int(docid[e - 1]))
                o_n.append(e - s)
                o_max.append(float(norm[s:e].max()))
                o_blob.append(blob)
        if o_term:
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(o_term, pa.string()),
                    pa.array(o_bucket, pa.int32()),
                    pa.array(o_bid, pa.int32()),
                    pa.array(o_first, pa.int64()),
                    pa.array(o_last, pa.int64()),
                    pa.array(o_n, pa.int32()),
                    pa.array(o_max, pa.float64()),
                    pa.array(o_blob, pa.binary()),
                ],
                schema=out_fields,
            )

    def group_starts(tbl: "pa.Table") -> "np.ndarray":
        n = len(tbl)
        if n <= 1:
            return np.zeros(min(n, 1), dtype=np.int64)
        term = tbl.column("term").combine_chunks()
        buck = tbl.column("bucket").combine_chunks()
        neq = pc.or_(
            pc.not_equal(term.slice(1), term.slice(0, n - 1)),
            pc.not_equal(buck.slice(1), buck.slice(0, n - 1)),
        ).to_numpy(zero_copy_only=False)
        return np.concatenate([[0], np.nonzero(neq)[0] + 1]).astype(np.int64)

    def encode_stream(batches):
        pending: "pa.Table | None" = None
        for batch in batches:
            tbl = pa.Table.from_batches([batch])
            if pending is not None:
                tbl = pa.concat_tables([pending, tbl]).combine_chunks()
            if len(tbl) == 0:
                continue
            starts = group_starts(tbl)
            last = int(starts[-1])
            head, pending = tbl.slice(0, last), tbl.slice(last)
            if len(head):
                yield from emit_groups(head, starts[:-1])
        if pending is not None and len(pending):
            yield from emit_groups(pending, group_starts(pending))

    return tagged.mapInArrow(encode_stream, schema=BLOCKS_SCHEMA)


# ---------------------------------------------------------------------------
# Full build
# ---------------------------------------------------------------------------

def build_index(
    pages: DataFrame,
    out_dir: str,
    lang: str | None = "en",
    stem: bool = True,
    cap: int | None = None,
    postings_per_bucket: int = DEFAULT_POSTINGS_PER_BUCKET,
    block_size: int = DEFAULT_BLOCK_SIZE,
    partitions: int | None = None,
    from_html: bool = False,
    versioned: bool = False,
) -> dict:
    """pages(url, warc_ts, html, text, lang) → index warehouse at out_dir.

    ``versioned=True`` commits docs/terms/postings as Warehouse snapshot
    manifests (Iceberg-style): rebuilds become new snapshots, the previous
    index stays queryable via ``read(name, version=...)`` until expired —
    rollback-able index refreshes, matching the north star's
    snapshot-commit contract without the Iceberg runtime jar.

    ``from_html`` runs the full pipeline from the raw html column (pinned
    extraction inside the tokenize stage) instead of the pre-extracted
    text column; results are identical when text == extract_text(html)
    (the corpus invariant — tested).

    Returns the stats dict (also persisted as stats.json). Every stage is a
    DataFrame transform; the only driver-side data are per-partition counts
    (docid assignment) and the final scalar stats. The scratch stages under
    ``out_dir/_stage`` are deleted once the tables commit.
    """
    spark = pages.sparkSession
    parts = partitions or spark.sparkContext.defaultParallelism
    src = pages.filter(F.col("lang") == lang) if lang else pages
    snap_path = os.path.join(out_dir, "_stage", "ranged_snapshot")
    raw_path = os.path.join(out_dir, "_stage", "postings_raw")
    # stage 1: materialize the url-range-partitioned, sorted snapshot
    offsets, docid_space = ranged_snapshot(src, snap_path, parts, from_html)
    # stage 2 (docids read straight off the snapshot — no window, no extra
    # shuffle of the text): materialize the tokenized postings ONCE as a
    # scratch parquet table (the natural checkpoint boundary): columnar
    # caching of 10^7+ rows does not scale with cores, a lz4 parquet
    # roundtrip does — and every downstream consumer (doc stats, term
    # stats, block build) reads the same snapshot.
    tokenize_postings_from_snapshot(
        spark, snap_path, offsets, stem=stem, cap=cap, from_html=from_html
    ).write.mode("overwrite").option("compression", "lz4").parquet(raw_path)
    # table commits go through the Warehouse abstraction: Iceberg snapshot
    # commits when a catalog is configured, identical parquet layout here
    stats = assemble_index(
        Warehouse(spark, out_dir, versioned=versioned),
        spark.read.parquet(raw_path), snap_path, offsets, docid_space, parts,
        postings_per_bucket, block_size, stem=stem, cap=cap, lang=lang,
    )
    # the snapshot (a full copy of the text) and the raw postings are
    # scratch once the tables commit
    shutil.rmtree(os.path.join(out_dir, "_stage"))
    return stats


def assemble_index(
    wh: Warehouse, postings: DataFrame, snap_path: str,
    offsets: dict[int, int], docid_space: int, parts: int,
    postings_per_bucket: int, block_size: int, **meta,
) -> dict:
    """Stages 3–4 of every build: tokenized ``postings`` + the ranged
    snapshot → docs/terms/postings tables committed through ``wh`` and
    ``stats.json`` (``meta`` is recorded there too); returns the stats.

    ``docid_space`` is the number of docids assigned. Token-less pages
    consume a docid but never reach postings/docs (n_docs excludes them),
    so the space can exceed n_docs — merge shifts must use the space, not
    n_docs, or shifted b-side ids collide with a-side ids."""
    spark = wh.spark
    # doc table + global stats; dl is carried on posting rows — one
    # max-aggregation against the column-pruned (docid, url) map.
    id_map = spark.read.parquet(snap_path).select(docid_col(offsets), "url")
    doc_tbl = postings.groupBy("docid").agg(F.max("dl").alias("dl")).join(
        id_map, "docid"
    )
    wh.write(
        doc_tbl.repartitionByRange(max(1, parts // 4), "docid")
        .sortWithinPartitions("docid"),
        "docs",
    )
    # NOTE: an Observation on this write is tempting (zero extra job) but
    # WRONG: repartitionByRange runs a sampling pass that re-executes the
    # child plan, double-firing observed metrics (n_docs came out 2×).
    # The read-back aggregate below is cheap (small columnar table).
    stats_row = wh.read("docs").agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl")
    ).collect()[0]
    n_docs = int(stats_row["n_docs"])
    avgdl = float(stats_row["avgdl"] or 0.0)

    terms = term_stats(postings, n_docs)
    wh.write(
        terms.repartitionByRange(max(1, parts // 4), "term")
        .sortWithinPartitions("term"),
        "terms",
    )
    terms = wh.read("terms")

    # arrow streaming encoder emits blocks already term-range-partitioned
    # and term-sorted (one shuffle total) → parquet min/max row-group
    # pruning works on term lookups with no extra exchange
    blocks = build_blocks_arrow(
        postings, terms, n_docs, avgdl,
        postings_per_bucket=postings_per_bucket, block_size=block_size,
        partitions=parts,
    )
    wh.write(blocks, "postings")
    stats = {
        "n_docs": n_docs,
        "docid_space": docid_space,
        "avgdl": avgdl,
        "block_size": block_size,
        "postings_per_bucket": postings_per_bucket,
        **meta,
    }
    os.makedirs(wh.root, exist_ok=True)
    with open(os.path.join(wh.root, "stats.json"), "w") as fh:
        json.dump(stats, fh, indent=1)
    return stats

