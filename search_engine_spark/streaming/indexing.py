"""Log-structured incremental indexing via Structured Streaming.

The reference's index is a one-shot batch artifact (jobs/IndexerProject
builds once over the whole crawl table). A web-scale engine re-indexes
continuously: crawl deliveries land as new parquet files and must become
searchable without rebuilding the world. This module adds that surface:

* ``foreachBatch`` + ``checkpointLocation`` gives exactly-once ingestion
  of new files (a restarted stream re-processes nothing).
* Each micro-batch becomes a chunk index (``build_index`` on the batch
  DataFrame — the identical code path as the batch build).
* Chunks fold into a logarithmic merge tree (Lucene-style): a chunk
  enters at level 0; whenever a level is already occupied, the two
  indexes merge (``merge_indexes``, block-level — no posting decode)
  into the next level. Per-doc write amplification is O(log n_batches)
  instead of O(n_batches) for naive "merge every batch into serving".
* The level set persists to ``LEVELS`` (write-then-rename, atomic) after
  every fold, so a crashed driver resumes with a consistent tree; the
  stream checkpoint guarantees the lost batch is replayed.

``run_ingest(availableNow)`` drains all pending files then collapses the
remaining levels into one serving index and atomically updates the
``SERVING`` pointer. Mid-stream, the level set is DIRECTLY searchable
without collapsing: ``level_segments(work_dir)`` lists the segment dirs;
``operators.query.topk_over_segments`` takes their ``load_index`` handles,
recomputes global stats over the segments and returns results identical
to the merged index (tested). A caller that keeps the handles across
queries resolves each segment's tables once.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession

from search_engine_spark.operators.indexer import build_index
from search_engine_spark.operators.merge import merge_indexes
from search_engine_spark.streaming.windows import stream_pages


def _load_state(work_dir: str) -> dict:
    p = os.path.join(work_dir, "LEVELS")
    if os.path.exists(p):
        with open(p) as fh:
            return json.load(fh)
    return {"levels": {}, "ctr": 0}


def _save_state(work_dir: str, state: dict) -> None:
    tmp = os.path.join(work_dir, "LEVELS.tmp")
    with open(tmp, "w") as fh:
        json.dump(state, fh)
    os.replace(tmp, os.path.join(work_dir, "LEVELS"))


def _fold(
    spark: SparkSession, state: dict, idx_dir: str, work_dir: str
) -> None:
    """Insert a chunk index at level 0, cascading merges upward. Older
    indexes are always the left (a) side so docids stay in arrival order.

    The on-disk state is written ONCE, after the whole cascade: a crash
    mid-cascade leaves the previous tree on disk and the stream checkpoint
    uncommitted, so the batch replays against the old tree (merge/build
    outputs are overwrite-mode, so half-written orphans are reused or
    ignored). Replaced inputs are deleted only after the state commit —
    EXCEPT the directory the committed SERVING pointer references: a
    query process resolving the pointer mid-ingest must never find a
    deleted path, so the previous serving index survives until the
    pointer moves (then ``vacuum`` or the next reclaim removes it)."""
    levels: dict = state["levels"]
    replaced: list[str] = []
    level = 0
    while str(level) in levels:
        older = levels.pop(str(level))
        state["ctr"] += 1
        out = os.path.join(work_dir, f"idx_L{level + 1}_{state['ctr']}")
        merge_indexes(spark, older, idx_dir, out)
        replaced += [older, idx_dir]
        idx_dir = out
        level += 1
    levels[str(level)] = idx_dir
    _save_state(work_dir, state)
    _reclaim(work_dir, replaced)


def _reclaim(work_dir: str, dirs: list[str]) -> None:
    """Delete merged-away index dirs, sparing the committed SERVING
    target (still resolvable by concurrent readers until the pointer is
    rewritten; reclaimed by vacuum()/a later pass afterwards)."""
    serving = _read_pointer(work_dir)
    for d in dirs:
        if d != serving:
            shutil.rmtree(d, ignore_errors=True)


def run_ingest(
    spark: SparkSession,
    pages_dir: str,
    work_dir: str,
    lang: str | None = "en",
    stem: bool = True,
    from_html: bool = False,
    max_files_per_trigger: int = 1,
) -> str | None:
    """Drain all pending page files into the merge tree, collapse, and
    return the serving index directory (None if no data yet)."""
    os.makedirs(work_dir, exist_ok=True)
    state = _load_state(work_dir)

    def ingest(batch_df: DataFrame, batch_id: int) -> None:
        # foreachBatch can replay the last uncommitted batch after a crash;
        # the fold is made idempotent by recording the last folded batch_id
        # in the same atomic state commit as the tree itself.
        if batch_id <= state.get("last_batch", -1):
            return
        if not batch_df.take(1):
            return
        state["ctr"] += 1
        chunk = os.path.join(work_dir, f"idx_L0_{state['ctr']}")
        build_index(
            batch_df, chunk, lang=lang, stem=stem, from_html=from_html
        )
        state["last_batch"] = batch_id
        _fold(spark, state, chunk, work_dir)

    q = (
        stream_pages(spark, pages_dir, max_files_per_trigger)
        .writeStream.foreachBatch(ingest)
        .option("checkpointLocation", os.path.join(work_dir, "_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    levels = state["levels"]
    if not levels:
        return _read_pointer(work_dir)
    # collapse remaining levels oldest-first (highest level = oldest docs);
    # the result keeps the highest participating level so later ingests
    # retain logarithmic merge amortization
    order = sorted((int(k) for k in levels), reverse=True)
    acc = levels[str(order[0])]
    if len(order) > 1:
        replaced = []
        for lv in order[1:]:
            state["ctr"] += 1
            out = os.path.join(work_dir, f"serving_{state['ctr']}")
            merge_indexes(spark, acc, levels[str(lv)], out)
            replaced += [acc, levels[str(lv)]]
            acc = out
        state["levels"] = {str(order[0]): acc}
        _save_state(work_dir, state)
    else:
        replaced = []
    # flip the pointer BEFORE reclaiming: the old serving index stays
    # resolvable for concurrent readers right up to the atomic rename,
    # and once the pointer moves it is no longer protected
    tmp = os.path.join(work_dir, "SERVING.tmp")
    with open(tmp, "w") as fh:
        fh.write(acc)
    os.replace(tmp, os.path.join(work_dir, "SERVING"))
    _reclaim(work_dir, replaced)
    return acc


def vacuum(work_dir: str) -> list[str]:
    """Remove orphan index dirs not referenced by the committed LEVELS
    state (left by a crash between a merge and its input deletion, or by
    a replayed batch). Safe by construction: the state file and SERVING
    pointer are the only sources of truth and both commit atomically
    BEFORE inputs are reclaimed, so anything neither references is
    garbage. Returns the removed paths."""
    state = _load_state(work_dir)
    live = set(state["levels"].values())
    serving = _read_pointer(work_dir)
    if serving:
        live.add(serving)
    removed = []
    for name in sorted(os.listdir(work_dir)):
        p = os.path.join(work_dir, name)
        if (
            os.path.isdir(p)
            and (name.startswith("idx_L") or name.startswith("serving_"))
            and p not in live
        ):
            shutil.rmtree(p, ignore_errors=True)
            removed.append(p)
    return removed


def level_segments(work_dir: str) -> list[str]:
    """The current level set as segment dirs, oldest → newest (highest
    level holds the oldest docs). Load each with
    ``operators.query.load_index`` and pass the handles to
    ``operators.query.topk_over_segments`` to search the tree MID-STREAM
    without collapsing it."""
    state = _load_state(work_dir)
    return [
        state["levels"][str(lv)]
        for lv in sorted((int(k) for k in state["levels"]), reverse=True)
    ]


def _read_pointer(work_dir: str) -> str | None:
    p = os.path.join(work_dir, "SERVING")
    if os.path.exists(p):
        with open(p) as fh:
            return fh.read().strip()
    return None
