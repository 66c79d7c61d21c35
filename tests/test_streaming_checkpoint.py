"""Structured Streaming ops + resumable-build checkpoint/lineage tests."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from search_engine_spark.corpus import gen_pages_df
from search_engine_spark.operators import query as Q
from search_engine_spark.operators.indexer import build_index
from search_engine_spark.plans.checkpoint import (
    build_metrics,
    read_lineage,
    resumable_build,
)
from search_engine_spark.streaming.windows import (
    run_stream_to_memory,
    session_windows,
    stream_pages,
    streaming_first_seen,
    windowed_event_counts,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def events(spark):
    return spark.read.parquet(f"{SF}/events.parquet").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )


def test_windowed_counts_stream_equals_batch(spark, events, tmp_path):
    src = str(tmp_path / "ev")
    events.write.parquet(src)
    stream = (
        spark.readStream.schema(events.schema).parquet(src)
    )
    run_stream_to_memory(
        windowed_event_counts(stream), "win_stream", output_mode="complete"
    )
    got = {
        (r["window_start"], r["event_type"]): (r["n"], r["sum_value"])
        for r in spark.table("win_stream").collect()
    }
    want = {
        (r["window_start"], r["event_type"]): (r["n"], r["sum_value"])
        for r in windowed_event_counts(events).collect()
    }
    assert got == want and len(want) > 10


def test_session_windows_stream_equals_batch(spark, events, tmp_path):
    src = str(tmp_path / "ev2")
    events.write.parquet(src)
    stream = spark.readStream.schema(events.schema).parquet(src)
    run_stream_to_memory(
        session_windows(stream), "sess_stream", output_mode="complete"
    )
    got = {
        (r["user_id"], r["session_start"]): (r["n_events"], r["session_end"])
        for r in spark.table("sess_stream").collect()
    }
    want = {
        (r["user_id"], r["session_start"]): (r["n_events"], r["session_end"])
        for r in session_windows(events).collect()
    }
    assert got == want and len(want) > 10


def test_streaming_first_seen_dedup(spark, tmp_path):
    """Custom stateful operator (applyInPandasWithState): only the first
    occurrence of each content hash is emitted, across micro-batches."""
    rows = [
        (0, "alpha beta gamma"),
        (1, "delta epsilon"),
        (2, "alpha beta gamma"),   # dup of 0
        (3, "unique text here"),
    ]
    late = [
        (4, "alpha beta gamma"),   # dup of 0, later file
        (5, "delta epsilon"),      # dup of 1
        (6, "brand new content"),
    ]
    src = str(tmp_path / "docs")
    spark.createDataFrame(rows, "doc_id long, text string").coalesce(1) \
        .write.parquet(src)
    spark.createDataFrame(late, "doc_id long, text string").coalesce(1) \
        .write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    run_stream_to_memory(streaming_first_seen(stream), "first_seen")
    got = {
        r["content_hash"]: r["docid"]
        for r in spark.table("first_seen").collect()
    }
    # exactly one row per distinct content, never a second emission, and
    # the survivor belongs to that content's group (micro-batch order
    # decides which file is seen first)
    groups: dict[str, set[int]] = {}
    for r in (
        spark.read.parquet(src)
        .select(F.md5("text").alias("h"), "doc_id")
        .collect()
    ):
        groups.setdefault(r["h"], set()).add(r["doc_id"])
    assert len(got) == len(groups) == 4
    for h, d in got.items():
        assert d in groups[h]


def test_resumable_build_resumes_and_matches(spark, tmp_path, monkeypatch):
    """Crash after 2 chunk commits → resume → final index identical to a
    single-shot build (term stats + query results)."""
    from search_engine_spark.plans import checkpoint

    pages = gen_pages_df(spark, 120, partitions=4)
    direct = str(tmp_path / "direct")
    build_index(pages, direct, lang="en", partitions=4)

    resum = str(tmp_path / "resum")
    append = checkpoint._append_lineage
    committed = []

    def crash_after_two(spark, out_dir, stage, *args):
        ts = append(spark, out_dir, stage, *args)
        committed.append(stage)
        if committed.count("tokenize") == 2:
            raise RuntimeError("injected failure after 2 chunk commits")
        return ts

    with monkeypatch.context() as mp:
        mp.setattr(checkpoint, "_append_lineage", crash_after_two)
        with pytest.raises(RuntimeError, match="injected failure"):
            resumable_build(pages, resum, n_chunks=4)
    lin1 = read_lineage(spark, resum)
    assert lin1.filter("stage = 'tokenize' AND status = 'ok'").count() == 2

    stats = resumable_build(pages, resum, n_chunks=4)
    lin2 = read_lineage(spark, resum)
    # only the 2 missing chunks re-ran (4 ok rows total, not 6)
    assert lin2.filter("stage = 'tokenize' AND status = 'ok'").count() == 4
    assert lin2.filter("stage = 'assemble' AND status = 'ok'").count() == 1

    a = Q.load_index(spark, direct)
    b = Q.load_index(spark, resum)
    assert a.stats["n_docs"] == b.stats["n_docs"] == stats["n_docs"]
    ta = {(r["term"], r["df"], r["cf"]) for r in a.terms.collect()}
    tb = {(r["term"], r["df"], r["cf"]) for r in b.terms.collect()}
    assert ta == tb
    for q in ("gentlemen", "prince andrew"):
        assert Q.topk_wand(a, q, k=20) == Q.topk_wand(b, q, k=20)

    m = {r["stage"]: r["n_tasks"] for r in build_metrics(spark, resum).collect()}
    assert m["tokenize"] == 4 and m["assemble"] == 1


def test_resumable_build_drops_stale_chunks(spark, tmp_path):
    """Re-running into the same out_dir with a smaller n_chunks must NOT
    fold the prior run's extra chunk=<i> directories into the assembly
    (they would double-count postings)."""
    pages = gen_pages_df(spark, 120, partitions=4)
    out = str(tmp_path / "re")
    s1 = resumable_build(pages, out, n_chunks=4)
    s2 = resumable_build(pages, out, n_chunks=2)
    assert s2["n_docs"] == s1["n_docs"]
    assert sorted(os.listdir(os.path.join(out, "raw"))) == [
        "chunk=0", "chunk=1"
    ]
    direct = str(tmp_path / "direct2")
    build_index(pages, direct, lang="en", partitions=4)
    a = Q.load_index(spark, direct)
    b = Q.load_index(spark, out)
    ta = {(r["term"], r["df"], r["cf"]) for r in a.terms.collect()}
    tb = {(r["term"], r["df"], r["cf"]) for r in b.terms.collect()}
    assert ta == tb
    for q in ("gentlemen", "prince andrew"):
        assert Q.topk_wand(a, q, k=20) == Q.topk_wand(b, q, k=20)


def test_resumable_build_snapshot_lives_under_out_dir(spark, tmp_path):
    """The ranged snapshot is the build's own stage under out_dir/_stage
    (shared storage on a cluster), not a driver-local temp dir that
    outlives the build."""
    import glob
    import tempfile

    pattern = os.path.join(tempfile.gettempdir(), "se_docids_*")
    before = set(glob.glob(pattern))
    out = str(tmp_path / "idx")
    resumable_build(gen_pages_df(spark, 40, partitions=2), out, n_chunks=2)
    assert set(glob.glob(pattern)) - before == set()
    assert os.path.isdir(os.path.join(out, "_stage", "ranged_snapshot"))


def test_resumable_build_reruns_chunks_for_new_tokenizer(spark, tmp_path):
    """Chunks tokenized with other settings are not reused: a re-run with
    stem=False re-tokenizes every chunk instead of assembling stemmed
    postings into an unstemmed index."""
    pages = gen_pages_df(spark, 40, partitions=2)
    out = str(tmp_path / "idx")
    resumable_build(pages, out, n_chunks=2)
    resumable_build(pages, out, n_chunks=2, stem=False)
    assert read_lineage(spark, out).filter("stage = 'tokenize'").count() == 4


# --- log-structured streaming incremental indexing --------------------------

def _deliver(spark, pages, dst, name, mtime):
    """Write one delivery as a single parquet file with a pinned mtime so
    the file stream ingests deliveries in order."""
    import glob
    import shutil
    import tempfile

    tmp = tempfile.mkdtemp()
    pages.repartition(1).write.mode("overwrite").parquet(tmp)
    (part,) = glob.glob(os.path.join(tmp, "*.parquet"))
    os.makedirs(dst, exist_ok=True)
    out = os.path.join(dst, name)
    shutil.copy(part, out)
    os.utime(out, times=(mtime, mtime))
    shutil.rmtree(tmp, ignore_errors=True)


def test_streaming_incremental_index(spark, tmp_path):
    """Three crawl deliveries ingested exactly-once through the log-
    structured merge tree ≡ one batch build over the union; a later run
    with the same checkpoint ingests ONLY the new delivery."""
    from search_engine_spark.streaming.indexing import run_ingest

    pages = (
        gen_pages_df(spark, 150, partitions=2)
        .withColumn("rn", F.regexp_extract("url", r"/p/(\d+)\.html", 1).cast("long"))
        .withColumn("url", F.format_string("%08d", F.col("rn")))
        .persist()
    )
    src = str(tmp_path / "deliveries")
    for i, (lo, hi) in enumerate([(0, 50), (50, 100), (100, 150)]):
        _deliver(
            spark,
            pages.filter((F.col("rn") >= lo) & (F.col("rn") < hi)).drop("rn"),
            src, f"delivery{i}.parquet", 1_000_000 + i,
        )

    work = str(tmp_path / "work")
    serving = run_ingest(spark, src, work, lang="en", stem=False)
    idx = Q.load_index(spark, serving)

    ref_dir = str(tmp_path / "ref_idx")
    build_index(pages.drop("rn").filter("url < '00000150'"), ref_dir,
                lang="en", stem=False, partitions=4)
    ref = Q.load_index(spark, ref_dir)
    assert idx.stats["n_docs"] == ref.stats["n_docs"]

    def by_url(ix, q):
        scored = Q.topk_distributed(ix, q, k=25)
        return {
            (r["url"], round(r["score"], 6))
            for r in scored.join(ix.docs, "docid").select("url", "score").collect()
        }

    for q in ["gentlemen", "prince andrew", "historic event"]:
        assert by_url(idx, q) == by_url(ref, q)

    # exactly-once across runs: drop a 4th delivery, re-run with the same
    # checkpoint — only the new file is processed, no duplicate docs
    pages2 = (
        gen_pages_df(spark, 190, partitions=2)
        .withColumn("rn", F.regexp_extract("url", r"/p/(\d+)\.html", 1).cast("long"))
        .filter(F.col("rn") >= 150)
        .withColumn("url", F.format_string("%08d", F.col("rn")))
        .drop("rn")
    )
    _deliver(spark, pages2, src, "delivery3.parquet", 1_000_003)
    serving2 = run_ingest(spark, src, work, lang="en", stem=False)
    idx2 = Q.load_index(spark, serving2)
    n_en = (
        spark.read.parquet(src).filter("lang = 'en'").select("url").distinct().count()
    )
    assert idx2.stats["n_docs"] == n_en
    assert idx2.docs.select("docid").distinct().count() == n_en
    pages.unpersist()


def test_vacuum_removes_only_orphans(tmp_path):
    """vacuum drops crash remnants but never a LEVELS-referenced segment."""
    import json

    from search_engine_spark.streaming.indexing import vacuum

    work = tmp_path / "work"
    work.mkdir()
    (work / "idx_L0_1").mkdir()      # live (referenced)
    (work / "idx_L1_2").mkdir()      # orphan
    (work / "serving_9").mkdir()     # orphan
    (work / "_ckpt").mkdir()         # never touched
    (work / "LEVELS").write_text(
        json.dumps({"levels": {"0": str(work / "idx_L0_1")}, "ctr": 3})
    )
    removed = vacuum(str(work))
    assert sorted(os.path.basename(p) for p in removed) == [
        "idx_L1_2", "serving_9"
    ]
    assert (work / "idx_L0_1").exists() and (work / "_ckpt").exists()


def test_serving_pointer_never_dangles(spark, tmp_path):
    """The committed SERVING pointer must stay resolvable while later
    ingests merge its target away (review finding: _fold rmtree'd the
    pointer's directory mid-cascade, and vacuum() would too)."""
    import os

    from search_engine_spark.streaming import indexing as SI

    pages = (
        gen_pages_df(spark, 80, partitions=2)
        .withColumn("rn", F.regexp_extract("url", r"/p/(\d+)\.html", 1).cast("long"))
        .withColumn("url", F.format_string("%08d", F.col("rn")))
        .persist()
    )
    src = str(tmp_path / "deliveries")
    _deliver(spark, pages.filter("rn < 40").drop("rn"), src,
             "d0.parquet", 1_000_000)
    work = str(tmp_path / "work")
    serving1 = SI.run_ingest(spark, src, work, lang="en", stem=False)
    assert SI._read_pointer(work) == serving1 and os.path.isdir(serving1)

    # the old serving index is now a tree level; fold a new chunk so the
    # cascade MERGES it — the pointer target must survive the reclaim
    state = SI._load_state(work)
    assert serving1 in state["levels"].values()
    chunk = str(tmp_path / "chunk")
    build_index(pages.filter("rn >= 40").drop("rn"), chunk,
                lang="en", stem=False, partitions=2)
    SI._fold(spark, state, chunk, work)
    assert os.path.isdir(serving1), "SERVING target deleted mid-ingest"
    # vacuum also spares it while the pointer still references it
    removed = SI.vacuum(work)
    assert serving1 not in removed and os.path.isdir(serving1)
    # a full second run flips the pointer, after which the old serving
    # index becomes reclaimable garbage
    _deliver(spark, pages.filter("rn >= 40").drop("rn"), src,
             "d1.parquet", 1_000_001)
    serving2 = SI.run_ingest(spark, src, work, lang="en", stem=False)
    assert os.path.isdir(serving2) and SI._read_pointer(work) == serving2
    SI.vacuum(work)
    assert not os.path.isdir(serving1)  # unreferenced now → reclaimed
    pages.unpersist()


def test_view_click_join_stream_equals_batch(spark, events, tmp_path):
    """Stream-stream interval join (per-side watermarks, time-bounded
    condition): availableNow streaming execution produces exactly the
    batch interval-join result."""
    from search_engine_spark.streaming.windows import view_click_join

    src = str(tmp_path / "ev3")
    events.write.parquet(src)
    stream = spark.readStream.schema(events.schema).parquet(src)
    run_stream_to_memory(
        view_click_join(stream, "12 hours"), "vcj_stream",
        output_mode="append",
    )
    got = sorted(tuple(r) for r in spark.table("vcj_stream").collect())
    want = sorted(
        tuple(r) for r in view_click_join(events, "12 hours").collect()
    )
    assert got == want and len(want) > 10
    # every delay is within the bound and non-negative
    assert all(0 <= r[3] <= 12 * 3_600_000_000 for r in want)
