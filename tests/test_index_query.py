"""End-to-end index build + query parity vs the pure-Python oracle.

Builds the block index over the deterministic synthetic corpus and requires:
- identical doc stats (n_docs, dl per doc, avgdl)
- rank-identical BM25 top-k (docids) with scores equal to 1e-9, for BOTH
  the distributed Spark plan and the driver-side block-max top-k
- identical phrase-search doc sets
- skew-bucketing invariance: tiny bucket size (forces heavy-term splits)
  produces identical results to the unbucketed build
"""

from __future__ import annotations

import itertools
import math
import os

import pytest

from search_engine_spark.corpus import PLANTED_PHRASES, gen_pages_df, page_record
from search_engine_spark.operators.indexer import build_index
from search_engine_spark.operators import query as Q
from search_engine_spark.oracle.bm25 import OracleIndex

N_DOCS = 300

QUERIES = [
    "demosthenes prince andrew",
    "bloodthirsty soldier",
    "gentlemen",
    "solemn affair",
    "historic event",
    "commerce handicraft gardening",
    "the and of",          # stopword-only → empty
    "marching solemnly",   # stem-variant matches
    "zzzzmissing prince",  # one zero-hit term
]


@pytest.fixture(scope="module")
def corpus():
    """docid→text mapping exactly as the engine assigns ids (url rank over
    the lang=='en' subset)."""
    recs = [page_record(d) for d in range(N_DOCS)]
    en = sorted((r for r in recs if r["lang"] == "en"), key=lambda r: r["url"])
    return {i: r["text"] for i, r in enumerate(en)}


@pytest.fixture(scope="module")
def oracle(corpus):
    return OracleIndex.build(corpus, stem=True)


@pytest.fixture(scope="module")
def index(spark, tmp_path_factory, corpus):
    out = str(tmp_path_factory.mktemp("idx") / "main")
    pages = gen_pages_df(spark, N_DOCS, partitions=4)
    stats = build_index(pages, out, lang="en", stem=True, partitions=4)
    assert stats["n_docs"] == len(corpus)
    return Q.load_index(spark, out)


def test_build_index_removes_its_scratch(index):
    """The url-range snapshot (a full copy of the text) and the raw
    postings under _stage/ are gone once the tables commit."""
    assert not os.path.exists(os.path.join(index.path, "_stage"))


def test_doc_stats_match_oracle(index, oracle):
    assert index.stats["n_docs"] == oracle.n_docs
    assert abs(index.stats["avgdl"] - oracle.avgdl) < 1e-9
    engine_dl = {
        r["docid"]: r["dl"] for r in index.docs.select("docid", "dl").collect()
    }
    assert engine_dl == oracle.doclen


def test_term_stats_match_oracle(index, oracle):
    rows = index.terms.collect()
    assert len(rows) == len(oracle.postings)
    for r in rows[:500]:
        assert r["df"] == oracle.df(r["term"])
        expect_idf = math.log(
            (oracle.n_docs - r["df"] + 0.5) / (r["df"] + 0.5) + 1.0
        )
        assert abs(r["idf"] - expect_idf) < 1e-12


@pytest.mark.parametrize("q", QUERIES)
def test_topk_distributed_matches_oracle(index, oracle, q):
    got = [(r["docid"], r["score"]) for r in Q.topk_distributed(index, q, k=50).collect()]
    want = oracle.topk(q, k=50)
    assert [d for d, _ in got] == [d for d, _ in want]
    for (gd, gs), (wd, ws) in zip(got, want):
        assert gs == pytest.approx(ws, abs=1e-9)


@pytest.mark.parametrize("q", QUERIES)
def test_topk_wand_matches_oracle(index, oracle, q):
    got = Q.topk_wand(index, q, k=50)
    want = oracle.topk(q, k=50)
    assert [d for d, _ in got] == [d for d, _ in want]
    for (gd, gs), (wd, ws) in zip(got, want):
        assert gs == pytest.approx(ws, abs=1e-9)


def test_topk_batch_matches_oracle(index, oracle):
    """One plan for many queries ≡ per-query oracle top-k, at BOTH
    emission precisions: the library default (SCORE_ROUND) and the
    6-dp variant the cross-engine gate ranks on."""
    batch = {i: q for i, q in enumerate(QUERIES[:6])}
    for decimals in (Q.SCORE_ROUND, 6):
        rows = Q.topk_batch(index, batch, k=25, decimals=decimals).collect()
        got: dict[int, list[tuple[int, float]]] = {}
        for r in sorted(rows, key=lambda r: (r["qid"], r["rank"])):
            got.setdefault(r["qid"], []).append((r["docid"], r["score"]))
        for qid, q in batch.items():
            want = [(d, round(s, decimals)) for d, s in oracle.topk(q, k=25)]
            assert got.get(qid, []) == want, (q, decimals)


def test_wand_small_k_prunes_but_exact(index, oracle):
    for q in ("gentlemen", "bloodthirsty soldier", "prince andrew"):
        got = Q.topk_wand(index, q, k=5)
        want = oracle.topk(q, k=5)
        assert [d for d, _ in got] == [d for d, _ in want]


def test_topk_wand_driver_guard_falls_back(index, oracle, monkeypatch):
    """Above ``DRIVER_POSTINGS_MAX`` the interactive path must NEVER
    collect block bytes — it hands off to topk_distributed with an
    identical result. _fetch_term_blocks is poisoned to prove the bytes
    collect does not run when the guard fires."""
    q = "bloodthirsty soldier"
    want = Q.topk_wand(index, q, k=25)  # normal path (under the threshold)
    monkeypatch.setattr(
        Q, "_fetch_term_blocks",
        lambda *a, **k: pytest.fail("guard did not fire: bytes collected"),
    )
    monkeypatch.setattr(Q, "DRIVER_POSTINGS_MAX", 0)
    got = Q.topk_wand(index, q, k=25)
    assert got == want
    assert [d for d, _ in got] == [d for d, _ in oracle.topk(q, k=25)]


def test_phrase_docs_driver_guard_falls_back(index, oracle, monkeypatch):
    """phrase_docs above the postings threshold must return the
    distributed plan's result — identical doc set."""
    ph = PLANTED_PHRASES[0]
    monkeypatch.setattr(Q, "DRIVER_POSTINGS_MAX", 0)
    assert Q.phrase_docs(index, ph) == (
        oracle.phrase_docs(ph)
    )


def test_topk_distributed_ranks_at_requested_decimals(index, oracle):
    """decimals=6 rounds BEFORE the (score desc, docid asc) ranking: every
    emitted score is a 6-dp value and the order is consistent with
    comparing at 6 dp (the cross-engine gate's contract)."""
    # k far above the match-set size: the FULL set, so the oracle
    # comparison has no k-boundary ambiguity of its own
    rows = Q.topk_distributed(
        index, "bloodthirsty soldier", k=10_000, decimals=6
    ).collect()
    got = [(r["docid"], r["score"]) for r in rows]
    assert all(s == round(s, 6) for _d, s in got)
    ranked = sorted(got, key=lambda x: (-x[1], x[0]))
    assert got == ranked
    # rank-consistent with the oracle rounded at the same precision
    want = sorted(
        ((d, round(s, 6)) for d, s in oracle.topk("bloodthirsty soldier",
                                                  k=10_000)),
        key=lambda x: (-x[1], x[0]),
    )
    assert got == want


@pytest.mark.parametrize("ph", PLANTED_PHRASES[:5])
def test_phrase_matches_oracle(index, oracle, ph):
    assert Q.phrase_docs(index, ph) == oracle.phrase_docs(ph)


@pytest.mark.parametrize("ph", PLANTED_PHRASES[:3])
def test_phrase_distributed_matches_oracle(index, oracle, ph):
    got = sorted(
        r["docid"] for r in Q.phrase_docs_distributed(index, ph).collect()
    )
    assert got == oracle.phrase_docs(ph)


def test_phrase_with_frequent_term(index, oracle, corpus):
    """Phrases containing a stopword-frequency term: the driver path must
    prune that term's blocks to candidate ranges (not pull its whole
    posting list) and still return the exact doc set."""
    from collections import Counter

    from search_engine_spark.oracle.text import tokenize

    cnt: Counter[str] = Counter()
    bigrams: Counter[tuple[str, str]] = Counter()
    for text in corpus.values():
        toks = [t for t, _ in tokenize(text, stem=False, cap=None)]
        cnt.update(toks)
        bigrams.update(zip(toks, toks[1:]))
    top = cnt.most_common(1)[0][0]  # highest-df valid term in the corpus
    # a real bigram containing the frequent term, and a rare-word pairing
    ph_real = next(
        " ".join(bg) for bg, _n in bigrams.most_common() if top in bg
    )
    for ph in (ph_real, f"{top} {top}"):
        assert Q.phrase_docs(index, ph) == oracle.phrase_docs(ph)
        got = sorted(
            r["docid"] for r in Q.phrase_docs_distributed(index, ph).collect()
        )
        assert got == oracle.phrase_docs(ph)


def test_skew_bucketing_invariance(spark, tmp_path_factory, oracle):
    """Tiny postings_per_bucket forces every frequent term through the
    docid-range bucket path; results must be identical (north_rule: skew
    handled explicitly, provably result-preserving)."""
    out = str(tmp_path_factory.mktemp("idx") / "bucketed")
    pages = gen_pages_df(spark, N_DOCS, partitions=4)
    build_index(
        pages, out, lang="en", stem=True, partitions=4,
        postings_per_bucket=20, block_size=16,
    )
    idx = Q.load_index(spark, out)
    # heavy terms really did split into multiple buckets
    from pyspark.sql import functions as F
    nbuckets = (
        idx.postings.groupBy("term")
        .agg(F.countDistinct("bucket").alias("nb"))
        .agg(F.max("nb"))
        .collect()[0][0]
    )
    assert nbuckets > 1
    for q in ("gentlemen", "prince andrew", "historic event"):
        got = Q.topk_wand(idx, q, k=30)
        want = oracle.topk(q, k=30)
        assert [d for d, _ in got] == [d for d, _ in want]
        for (gd, gs), (wd, ws) in zip(got, want):
            assert gs == pytest.approx(ws, abs=1e-9)


def test_stats_correct_with_many_partitions(spark, tmp_path_factory, corpus):
    """Regression: repartitionByRange's sampling pass re-executes the child
    plan; stats must not double-count when the docs write has >1 partition
    (Observation-based metrics did — n_docs came out 2×)."""
    out = str(tmp_path_factory.mktemp("idx") / "manyparts")
    pages = gen_pages_df(spark, N_DOCS, partitions=16)
    stats = build_index(pages, out, lang="en", stem=True, partitions=16)
    assert stats["n_docs"] == len(corpus)


def test_from_html_build_identical(spark, tmp_path_factory, oracle):
    """Full-pipeline build from the raw html column equals the text-column
    build (corpus invariant: text == extract_text(html) per url)."""
    out = str(tmp_path_factory.mktemp("idx") / "fromhtml")
    pages = gen_pages_df(spark, N_DOCS, partitions=4)
    stats = build_index(
        pages, out, lang="en", stem=True, partitions=4, from_html=True
    )
    idx = Q.load_index(spark, out)
    assert stats["n_docs"] == oracle.n_docs
    for q in ("gentlemen", "prince andrew"):
        got = Q.topk_wand(idx, q, k=30)
        want = oracle.topk(q, k=30)
        assert [d for d, _ in got] == [d for d, _ in want]


def test_versioned_index_rebuild_time_travel(spark, tmp_path_factory):
    """versioned=True: an index REBUILD is a snapshot commit — the new
    build serves, and the previous index snapshot still answers queries
    (rollback-able refreshes, the north star's Iceberg-commit contract)."""
    from search_engine_spark.catalog import Warehouse

    out = str(tmp_path_factory.mktemp("vidx") / "main")
    small = gen_pages_df(spark, 120, partitions=2)
    big = gen_pages_df(spark, 240, partitions=2)
    build_index(small, out, lang="en", stem=False, partitions=2,
                versioned=True)
    idx1 = Q.load_index(spark, out)
    q = "the gentlemen"
    v1_top = [(r["docid"], r["score"])
              for r in Q.topk_distributed(idx1, q, k=10).collect()]
    n1 = idx1.docs.count()
    build_index(big, out, lang="en", stem=False, partitions=2,
                versioned=True)                       # rebuild → v2
    idx2 = Q.load_index(spark, out)
    assert idx2.docs.count() > n1                     # serving the rebuild
    wh = Warehouse(spark, out)
    assert wh.current_version("postings") == 2
    # the v1 snapshot of every table still reads — and the doc count
    # matches what the v1 build served
    assert wh.read("docs", version=1).count() == n1
    assert len(wh.snapshots("postings")) == 2
    # ROLLBACK proof: an index handle pointed at the v1 snapshots answers
    # the query EXACTLY as the v1 build did before the rebuild
    from types import SimpleNamespace

    idx_v1 = SimpleNamespace(
        spark=spark,
        stats=idx1.stats,  # captured at v1 load time
        postings=wh.read("postings", version=1),
        terms=wh.read("terms", version=1),
        docs=wh.read("docs", version=1),
    )
    rolled_back = [(r["docid"], r["score"])
                   for r in Q.topk_distributed(idx_v1, q, k=10).collect()]
    assert rolled_back == v1_top
    # SNAPSHOT proof: the handle loaded before the rebuild keeps answering
    # from the v1 tables it resolved, consistent with its v1 stats
    still_v1 = [(r["docid"], r["score"])
                for r in Q.topk_distributed(idx1, q, k=10).collect()]
    assert still_v1 == v1_top
    assert idx1.docs.count() == n1


def test_inplace_rebuild_fails_stale_handle_loudly(spark, tmp_path_factory):
    """A non-versioned rebuild overwrites the tables in place. A handle
    loaded before it lists files that no longer exist: its next scan must
    raise (not read the new tables with the old stats); a fresh
    load_index serves the rebuild."""
    out = str(tmp_path_factory.mktemp("ridx") / "main")
    build_index(gen_pages_df(spark, 120, partitions=2), out, lang="en",
                stem=False, partitions=2)
    old = Q.load_index(spark, out)
    q = "the gentlemen"
    assert Q.topk_distributed(old, q, k=10).collect()
    build_index(gen_pages_df(spark, 240, partitions=2), out, lang="en",
                stem=False, partitions=2)
    with pytest.raises(Exception, match="(?i)not exist|FileNotFound"):
        Q.topk_distributed(old, q, k=10).collect()
    new = Q.load_index(spark, out)
    assert new.stats["n_docs"] > old.stats["n_docs"]
    assert new.docs.count() == new.stats["n_docs"]


_JOB_GROUPS = itertools.count()


def _spark_jobs(spark, fn):
    """(fn(), number of Spark jobs it ran), counted by job group."""
    sc = spark.sparkContext
    group = f"job-budget-{next(_JOB_GROUPS)}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # job-start events reach the status store through the asynchronous
    # listener bus; drain it before counting
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_reused_handle_job_budget(spark, index, oracle):
    """A handle resolves each table (file listing + schema-inference job)
    once and reuses it, so on a warm handle the interactive paths run only
    their own collects: topk_wand a terms lookup and one block fetch,
    a 3-term phrase_docs a metadata scan and one block fetch per term."""
    idx = Q.load_index(spark, index.path)
    ph = PLANTED_PHRASES[0]
    assert len(ph.split()) == 3
    Q.topk_wand(idx, ph, k=10)  # first use resolves terms + postings
    got, n_wand = _spark_jobs(spark, lambda: Q.topk_wand(idx, ph, k=10))
    assert [d for d, _ in got] == [d for d, _ in oracle.topk(ph, k=10)]
    assert n_wand <= 2
    docs, n_phrase = _spark_jobs(spark, lambda: Q.phrase_docs(idx, ph))
    assert docs and docs == oracle.phrase_docs(ph)
    assert n_phrase <= 4


def test_reused_segment_handles_job_budget(spark, index):
    """topk_over_segments takes index handles, so a caller that keeps them
    pays each segment's table resolution once: from the second call on,
    a 2-segment query runs one terms lookup plus the scoring plan."""
    segs = [Q.load_index(spark, index.path) for _ in range(2)]
    q = "demosthenes prince andrew"
    first = Q.topk_over_segments(spark, segs, q, k=10).collect()
    got, n_jobs = _spark_jobs(
        spark, lambda: Q.topk_over_segments(spark, segs, q, k=10).collect()
    )
    assert got and got == first
    assert n_jobs <= 5


_TOPK_ENTRY_POINTS = {
    "topk_wand": lambda ix, q, k: Q.topk_wand(ix, q, k=k),
    "topk_distributed": lambda ix, q, k: Q.topk_distributed(ix, q, k=k).collect(),
    "topk_batch": lambda ix, q, k: Q.topk_batch(ix, {0: q}, k=k).collect(),
    "topk_with_deletes": lambda ix, q, k: Q.topk_with_deletes(
        ix, ix.spark.createDataFrame([], "docid long"), q, k=k
    ).collect(),
    "topk_over_segments": lambda ix, q, k: Q.topk_over_segments(
        ix.spark, [ix], q, k=k
    ).collect(),
}


@pytest.mark.parametrize("entry", sorted(_TOPK_ENTRY_POINTS))
def test_topk_rejects_negative_k(index, entry):
    """k < 0 is the same ValueError on every top-k entry point; k = 0
    returns no hits."""
    run = _TOPK_ENTRY_POINTS[entry]
    q = "gentlemen"
    assert len(run(index, q, 3)) == 3
    assert run(index, q, 0) == []
    with pytest.raises(ValueError, match="k must be >= 0"):
        run(index, q, -1)


def test_build_job_budget(spark, tmp_path_factory):
    """Docids are a JVM expression over stored snapshot columns: a build
    runs no separate docid pass and no global docid check job."""
    pages = gen_pages_df(spark, 1000, partitions=4)
    out = str(tmp_path_factory.mktemp("budget") / "main")
    stats, n_jobs = _spark_jobs(
        spark, lambda: build_index(pages, out, partitions=4)
    )
    assert stats["n_docs"] > 0
    assert n_jobs <= 25


def test_docids_survive_split_snapshot_files(
    spark, tmp_path_factory, corpus, oracle, monkeypatch
):
    """A session that reads the ranged snapshot in 32 KiB splits, with
    several row groups per file, still gets docid = url rank; the build
    reads the session's split size as it finds it and leaves it alone."""
    import pyarrow.parquet as pq

    from search_engine_spark.operators import indexer

    split_key = "spark.sql.files.maxPartitionBytes"
    seen, layout = [], []
    real_assemble = indexer.assemble_index

    def spy(wh, postings, snap_path, *a, **kw):
        # read the snapshot here: build_index deletes it after assembly
        seen.append(spark.conf.get(split_key))
        snap = spark.read.parquet(snap_path)
        files = snap.inputFiles()
        n_groups = sum(pq.ParquetFile(f[len("file:"):]).num_row_groups
                       for f in files)
        layout.append((len(files), n_groups, snap.rdd.getNumPartitions()))
        return real_assemble(wh, postings, snap_path, *a, **kw)

    monkeypatch.setattr(indexer, "assemble_index", spy)
    out = str(tmp_path_factory.mktemp("split") / "main")
    # small row groups: a split can only start at a row-group boundary
    conf = {split_key: "32k", "parquet.block.size": "16384",
            "parquet.page.size.row.check.min": "10",
            "parquet.page.size.row.check.max": "10"}
    saved = {key: spark.conf.get(key, None) for key in conf}
    for key, value in conf.items():
        spark.conf.set(key, value)
    try:
        stats = build_index(gen_pages_df(spark, N_DOCS, partitions=4), out,
                            lang="en", stem=True, partitions=4)
        after = spark.conf.get(split_key)
    finally:
        for key, value in saved.items():
            if value is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, value)
    assert seen == ["32k"] and after == "32k"
    [(n_files, n_groups, n_splits)] = layout
    assert n_groups > n_files and n_splits > n_files
    en_urls = sorted(
        r["url"] for r in map(page_record, range(N_DOCS)) if r["lang"] == "en"
    )
    assert stats["docid_space"] == len(en_urls) == len(corpus)
    idx = Q.load_index(spark, out)
    docs = {r["docid"]: r["url"] for r in idx.docs.collect()}
    assert docs == {d: en_urls[d] for d in oracle.doclen}
    q = "demosthenes prince andrew"
    got, want = Q.topk_wand(idx, q, k=10), oracle.topk(q, k=10)
    assert [d for d, _ in got] == [d for d, _ in want]


def test_topk_with_urls_stopword_stem_query(spark, index):
    """Query 'was': every raw token is a stopword but the dual-indexed
    stem 'wa' scores — snippet term list is then EMPTY and snippet_expr
    previously crashed on F.least() with zero columns (review finding).
    The snippet must fall back to the document head."""
    corpus = gen_pages_df(spark, N_DOCS, partitions=4)
    out = Q.topk_with_urls(index, corpus, "was", k=5)
    rows = out.collect()
    assert rows, "'was' occurs in the synthetic corpus"
    for r in rows:
        assert r["snippet"]           # head-of-document fallback
        assert r["url"]
    # the SQL mirror of the empty-terms snippet is valid SQL too
    import duckdb

    assert duckdb.connect().execute(
        f"SELECT {Q.snippet_sql([], 't')} FROM (SELECT 'hello world' AS t)"
    ).fetchone()[0] == "hello world"
