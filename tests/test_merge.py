"""merge_indexes(A, B) ≡ build(A ∪ B) — term stats, doc stats, and query
results identical (MergeIndexes semantics, reference
jobs/MergeIndexes.java:45-127).

Corpora are constructed with lexically increasing urls so the union
build's docid assignment coincides with [A docids, B docids + |A|]."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from search_engine_spark.corpus import gen_pages_df
from search_engine_spark.operators import query as Q
from search_engine_spark.operators.indexer import build_index
from search_engine_spark.operators.merge import merge_indexes

N_A, N_B = 120, 80


@pytest.fixture(scope="module")
def dirs(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("merge")
    # deterministic, lexically-ordered urls aligned with generation order
    pages = (
        gen_pages_df(spark, N_A + N_B, partitions=4)
        .withColumn("rn", F.regexp_extract("url", r"/p/(\d+)\.html", 1).cast("long"))
        .withColumn("url", F.format_string("%08d", F.col("rn")))
        .drop("rn")
    )
    pages.persist()
    a = pages.filter(F.col("url") < f"{N_A:08d}")
    b = pages.filter(F.col("url") >= f"{N_A:08d}")
    d = {
        "a": str(base / "a"), "b": str(base / "b"),
        "m": str(base / "m"), "u": str(base / "u"),
    }
    build_index(a, d["a"], lang="en", partitions=4)
    build_index(b, d["b"], lang="en", partitions=4)
    build_index(pages, d["u"], lang="en", partitions=4)
    merge_indexes(spark, d["a"], d["b"], d["m"])
    pages.unpersist()
    return d


def test_merged_stats_match_union(spark, dirs):
    m = Q.load_index(spark, dirs["m"])
    u = Q.load_index(spark, dirs["u"])
    assert m.stats["n_docs"] == u.stats["n_docs"]
    assert m.stats["avgdl"] == pytest.approx(u.stats["avgdl"], abs=1e-9)
    tm = {(r["term"], r["df"], r["cf"]) for r in m.terms.collect()}
    tu = {(r["term"], r["df"], r["cf"]) for r in u.terms.collect()}
    assert tm == tu


def test_merged_docs_match_union(spark, dirs):
    m = Q.load_index(spark, dirs["m"])
    u = Q.load_index(spark, dirs["u"])
    dm = {(r["docid"], r["dl"]) for r in m.docs.select("docid", "dl").collect()}
    du = {(r["docid"], r["dl"]) for r in u.docs.select("docid", "dl").collect()}
    assert dm == du


@pytest.mark.parametrize(
    "q", ["gentlemen", "prince andrew", "historic event", "solemn affair"]
)
def test_merged_queries_match_union(spark, dirs, q):
    m = Q.load_index(spark, dirs["m"])
    u = Q.load_index(spark, dirs["u"])
    got = Q.topk_wand(m, q, k=30)
    want = Q.topk_wand(u, q, k=30)
    assert [d for d, _ in got] == [d for d, _ in want]
    for (gd, gs), (wd, ws) in zip(got, want):
        assert gs == pytest.approx(ws, abs=1e-9)
    # distributed path too
    gd2 = [(r["docid"], r["score"]) for r in Q.topk_distributed(m, q, k=30).collect()]
    assert [d for d, _ in gd2] == [d for d, _ in want]


def test_merged_phrases_match_union(spark, dirs):
    m = Q.load_index(spark, dirs["m"])
    u = Q.load_index(spark, dirs["u"])
    for ph in ("prince andrew", "bloodthirsty soldier"):
        assert Q.phrase_docs(m, ph) == Q.phrase_docs(u, ph)


def test_segment_query_matches_merged(spark, dirs):
    """topk_over_segments searches the un-collapsed segment set with
    recomputed global stats — identical result to the merged index."""
    segs = [Q.load_index(spark, dirs[s]) for s in ("a", "b")]
    for q in ["gentlemen", "prince andrew", "historic event"]:
        got = [
            (r["docid"], r["score"])
            for r in Q.topk_over_segments(spark, segs, q, k=30).collect()
        ]
        want = [
            (r["docid"], r["score"])
            for r in Q.topk_distributed(Q.load_index(spark, dirs["m"]), q, k=30).collect()
        ]
        assert [d for d, _ in got] == [d for d, _ in want]
        for (gd, gs), (wd, ws) in zip(got, want):
            assert gs == pytest.approx(ws, abs=1e-9)


def test_three_segment_query_matches_union_build(spark, dirs, tmp_path_factory):
    """Offset accumulation holds beyond two segments: splitting A into two
    sub-segments (A1, A2, B) must still reproduce the union build."""
    base = tmp_path_factory.mktemp("seg3")
    pages = (
        gen_pages_df(spark, N_A + N_B, partitions=4)
        .withColumn("rn", F.regexp_extract("url", r"/p/(\d+)\.html", 1).cast("long"))
        .withColumn("url", F.format_string("%08d", F.col("rn")))
    )
    a1 = str(base / "a1"); a2 = str(base / "a2")
    build_index(pages.filter(F.col("rn") < 60).drop("rn"), a1, lang="en", partitions=4)
    build_index(
        pages.filter((F.col("rn") >= 60) & (F.col("rn") < N_A)).drop("rn"),
        a2, lang="en", partitions=4,
    )
    u = Q.load_index(spark, dirs["u"])
    segs = [Q.load_index(spark, d) for d in (a1, a2, dirs["b"])]
    for q in ["gentlemen", "historic event"]:
        got = [
            (r["docid"], r["score"])
            for r in Q.topk_over_segments(spark, segs, q, k=30).collect()
        ]
        want = [
            (r["docid"], r["score"])
            for r in Q.topk_distributed(u, q, k=30).collect()
        ]
        assert [d for d, _ in got] == [d for d, _ in want]
        for (gd, gs), (wd, ws) in zip(got, want):
            assert gs == pytest.approx(ws, abs=1e-9)


def _pages(spark, rows):
    return spark.createDataFrame(
        [(u, "2024-01-01T00:00:00Z", "", t, "en") for u, t in rows],
        "url string, warc_ts string, html string, text string, lang string",
    )


def test_merge_shift_uses_docid_space_not_n_docs(spark, tmp_path_factory):
    """A token-less page consumes a docid but never reaches docs/postings
    (n_docs < docid space). Shifting the b side by n_docs collided b's
    first doc with a's last (review finding); the shift must use the
    assigned docid SPACE."""
    base = tmp_path_factory.mktemp("space")
    a_dir, b_dir, m_dir = str(base / "a"), str(base / "b"), str(base / "m")
    sa = build_index(
        _pages(spark, [("u0", "alpha beta"), ("u1", "..."),  # token-less!
                       ("u2", "alpha gamma")]),
        a_dir, stem=False, partitions=2,
    )
    assert sa["n_docs"] == 2 and sa["docid_space"] == 3
    build_index(
        _pages(spark, [("v0", "delta epsilon"), ("v1", "beta delta")]),
        b_dir, stem=False, partitions=2,
    )
    stats = merge_indexes(spark, a_dir, b_dir, m_dir)
    assert stats["docid_space"] == 5
    idx = Q.load_index(spark, m_dir)
    docs = idx.docs.collect()
    ids = [r["docid"] for r in docs]
    assert len(ids) == len(set(ids)) == 4          # no collisions
    by_url = {r["url"]: r["docid"] for r in docs}
    assert by_url["v0"] == 3 and by_url["v1"] == 4  # shifted past the SPACE
    # the b-side postings landed at the shifted ids: query proves it
    got = {d for d, _s in Q.topk_wand(idx, "delta", k=10)}
    assert got == {3, 4}
    got = {d for d, _s in Q.topk_wand(idx, "alpha", k=10)}
    assert got == {0, 2}


def test_merge_versioned_indexes(spark, tmp_path_factory):
    """merge_indexes must resolve tables through the Warehouse so indexes
    built with versioned=True (snapshot manifests, no parquet at the table
    root) merge too (review finding: raw parquet reads found nothing)."""
    base = tmp_path_factory.mktemp("vmerge")
    a_dir, b_dir, m_dir = str(base / "a"), str(base / "b"), str(base / "m")
    build_index(_pages(spark, [("u0", "alpha beta beta")]),
                a_dir, stem=False, partitions=2, versioned=True)
    build_index(_pages(spark, [("v0", "beta gamma")]),
                b_dir, stem=False, partitions=2, versioned=True)
    merge_indexes(spark, a_dir, b_dir, m_dir)
    idx = Q.load_index(spark, m_dir)
    assert idx.docs.count() == 2
    got = {d for d, _s in Q.topk_wand(idx, "beta", k=10)}
    assert got == {0, 1}


def test_segment_query_shifts_by_docid_space(spark, tmp_path_factory):
    """A token-less page consumes a docid but not a doc count, so segment
    b must start past a's docid SPACE (as merge_indexes shifts it): with
    an n_docs shift b's first doc landed on a's last one and two
    documents summed into one docid."""
    base = tmp_path_factory.mktemp("segspace")
    a_dir, b_dir, m_dir = str(base / "a"), str(base / "b"), str(base / "m")
    build_index(
        _pages(spark, [("u0", "alpha beta"), ("u1", "..."),  # token-less!
                       ("u2", "alpha gamma")]),
        a_dir, stem=False, partitions=2,
    )
    build_index(
        _pages(spark, [("v0", "delta epsilon"), ("v1", "beta delta")]),
        b_dir, stem=False, partitions=2,
    )
    merge_indexes(spark, a_dir, b_dir, m_dir)
    segs = [Q.load_index(spark, d) for d in (a_dir, b_dir)]
    q = "alpha delta"
    got = [tuple(r) for r in Q.topk_over_segments(spark, segs, q, k=10).collect()]
    want = [
        tuple(r)
        for r in Q.topk_distributed(Q.load_index(spark, m_dir), q, k=10).collect()
    ]
    assert len(want) == 4
    assert got == want


def test_merge_resumable_segment_shifts_by_docid_space(spark, tmp_path_factory):
    """A resumable-built segment records its docid space like a
    build_index one: without it the merge shifted b by n_docs and two
    documents were summed into one docid."""
    from search_engine_spark.plans.checkpoint import resumable_build

    base = tmp_path_factory.mktemp("rspace")
    a_dir, b_dir, m_dir = str(base / "a"), str(base / "b"), str(base / "m")
    resumable_build(
        _pages(spark, [("u0", "alpha beta"), ("u1", "..."),  # token-less!
                       ("u2", "alpha gamma")]),
        a_dir, n_chunks=2, stem=False,
    )
    build_index(
        _pages(spark, [("v0", "delta epsilon"), ("v1", "beta delta")]),
        b_dir, stem=False, partitions=2,
    )
    merge_indexes(spark, a_dir, b_dir, m_dir)
    got = Q.topk_wand(Q.load_index(spark, m_dir), "alpha delta", k=10)
    assert sorted(d for d, _s in got) == [0, 2, 3, 4]
    assert {round(s, 6) for _d, s in got} == {round(got[0][1], 6)}
