"""PageRank: reference-semantics rank loop + link extraction.

Reference parity target: jobs/PageRank.java:223-449 — classic damped
update rank = 0.15 + 0.85·Σ contrib, init 1.0, convergence on max delta.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from search_engine_spark.operators import pagerank as PR


def _py_pagerank(edges, iters=10, damping=0.85, nodes=None):
    """Driver-side mirror: classic unnormalized PageRank."""
    if nodes is None:
        nodes = sorted({u for u, _ in edges} | {v for _, v in edges})
    out = {}
    for u, v in edges:
        out.setdefault(u, []).append(v)
    rank = {n: 1.0 for n in nodes}
    for _ in range(iters):
        contrib = {n: 0.0 for n in nodes}
        for u, targets in out.items():
            share = rank[u] / len(targets)
            for v in targets:
                contrib[v] += share
        rank = {n: (1 - damping) + damping * contrib[n] for n in nodes}
    return rank


def test_symmetric_cycle_stays_uniform(spark):
    edges = [(0, 1), (1, 2), (2, 0)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["id"]: r["rank"] for r in PR.pagerank(df, iters=5).collect()}
    assert got == pytest.approx({0: 1.0, 1: 1.0, 2: 1.0})


def test_matches_python_mirror(spark):
    edges = [(0, 1), (0, 2), (1, 2), (2, 0), (3, 2), (3, 0), (1, 3)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["id"]: r["rank"] for r in PR.pagerank(df, iters=10).collect()}
    want = _py_pagerank(edges, iters=10)
    assert got == pytest.approx(want, rel=1e-9)


def test_source_only_node_settles_at_one_minus_d(spark):
    edges = [(5, 1), (1, 2), (2, 1)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["id"]: r["rank"] for r in PR.pagerank(df, iters=20).collect()}
    assert got[5] == pytest.approx(0.15)


def test_dangling_redistribution_conserves_mass(spark):
    # node 2 has no outlinks: without redistribution mass leaks; with it,
    # total rank stays == n_nodes every round.
    edges = [(0, 1), (0, 2), (1, 2)]
    df = spark.createDataFrame(edges, "src long, dst long")
    out = PR.pagerank(df, iters=15, redistribute_dangling=True)
    total = out.agg(F.sum("rank")).collect()[0][0]
    assert total == pytest.approx(3.0, rel=1e-9)


def test_tol_early_exit_matches_fixed_iters(spark):
    edges = [(0, 1), (1, 0), (1, 2), (2, 0)]
    df = spark.createDataFrame(edges, "src long, dst long")
    a = {r["id"]: r["rank"]
         for r in PR.pagerank(df, iters=200, tol=1e-12).collect()}
    b = {r["id"]: r["rank"] for r in PR.pagerank(df, iters=60).collect()}
    assert a == pytest.approx(b, abs=1e-9)


def test_outlinks_from_corpus_html(spark):
    from search_engine_spark.corpus import gen_pages_df

    pages = gen_pages_df(spark, 40)
    edges = PR.outlinks(pages)
    rows = edges.collect()
    assert rows, "synthetic corpus pages embed one anchor each"
    for r in rows:
        assert r["src"] != r["dst"]
        assert r["dst"].startswith("http://site")
    # every page has exactly one anchor → edges ≤ pages, > 0
    assert 0 < len(rows) <= 40


def test_outlinks_fragments_and_quotes(spark):
    """Fragment-bearing hrefs contribute their fragment-STRIPPED target
    (reference normalizeURL semantics), single-quoted hrefs are harvested,
    and fragment-only anchors are dropped (review finding: the old char
    class silently lost every href containing '#')."""
    html = (
        '<p><a href="http://s/x.html#top">x</a>'
        "<a href='http://s/y.html'>y</a>"
        '<a href="#local">skip</a>'
        '<a href="http://s/x.html">dup after strip</a></p>'
    )
    df = spark.createDataFrame(
        [("http://me/", html)], "url string, html string"
    )
    got = sorted(r["dst"] for r in PR.outlinks(df).collect())
    assert got == ["http://s/x.html", "http://s/y.html"]


def test_synthetic_edges_no_self_loops_no_dangling(spark):
    docs = spark.range(0, 97).withColumnRenamed("id", "doc_id")
    e = PR.synthetic_edges(docs, 97)
    assert e.filter(F.col("src") == F.col("dst")).count() == 0
    assert e.select("src").distinct().count() == 97  # outdeg ≥ 1 everywhere
    assert e.count() <= 3 * 97


# ---------------------------------------------------------------------------
# HITS hubs & authorities (Kleinberg 1999; operators/pagerank.py hits())
# ---------------------------------------------------------------------------


def _py_hits(edges, iters=5, nodes=None):
    """Driver-side mirror: mutual recurrence with L1×N normalization,
    hub step uses the CURRENT round's normalized auth."""
    if nodes is None:
        nodes = sorted({u for u, _ in edges} | {v for _, v in edges})
    n = len(nodes)
    hub = {v: 1.0 for v in nodes}
    auth = {v: 1.0 for v in nodes}
    for _ in range(iters):
        auth = {v: sum(hub[u] for u, w in edges if w == v) for v in nodes}
        s = sum(auth.values())
        auth = {v: a * n / s if s else 0.0 for v, a in auth.items()}
        hub = {u: sum(auth[v] for x, v in edges if x == u) for u in nodes}
        s = sum(hub.values())
        hub = {u: h * n / s if s else 0.0 for u, h in hub.items()}
    return auth, hub


def test_hits_matches_python_mirror(spark):
    edges = [(0, 1), (0, 2), (1, 2), (2, 0), (3, 2), (3, 0), (1, 3), (4, 2)]
    df = spark.createDataFrame(edges, "src long, dst long")
    rows = PR.hits(df, iters=5).collect()
    want_a, want_h = _py_hits(edges, iters=5)
    assert {r["id"]: r["auth"] for r in rows} == pytest.approx(
        want_a, rel=1e-9
    )
    assert {r["id"]: r["hub"] for r in rows} == pytest.approx(
        want_h, rel=1e-9
    )


def test_hits_normalization_and_hub_authority_split(spark):
    # star: 0,1,2 all point at 9 — 9 is the pure authority (hub 0),
    # the pointers are pure hubs (auth 0)
    edges = [(0, 9), (1, 9), (2, 9)]
    df = spark.createDataFrame(edges, "src long, dst long")
    rows = PR.hits(df, iters=3).collect()
    auth = {r["id"]: r["auth"] for r in rows}
    hub = {r["id"]: r["hub"] for r in rows}
    n = len(rows)
    assert auth[9] == pytest.approx(n) and hub[9] == 0.0
    for v in (0, 1, 2):
        assert hub[v] == pytest.approx(n / 3) and auth[v] == 0.0
    assert sum(auth.values()) == pytest.approx(n)
    assert sum(hub.values()) == pytest.approx(n)


def test_hits_fixed_nodes_universe(spark):
    # isolated node 7 (in `nodes`, no edges) carries zero in both scores
    edges = [(0, 1), (1, 0)]
    df = spark.createDataFrame(edges, "src long, dst long")
    nodes = spark.createDataFrame([(0,), (1,), (7,)], "id long")
    rows = {r["id"]: r for r in PR.hits(df, nodes=nodes, iters=4).collect()}
    assert set(rows) == {0, 1, 7}
    assert rows[7]["auth"] == 0.0 and rows[7]["hub"] == 0.0
    assert rows[0]["auth"] == pytest.approx(1.5)


@pytest.mark.parametrize(
    "edges, has_mass",
    [([], False), ([(0, 1), (1, 0), (1, 7)], True), ([(5, 6)], False)],
    ids=["no_edges", "small_graph", "edges_outside_nodes"],
)
def test_hits_spark_equals_duckdb_on_injected_graph(spark, edges, has_mass):
    """hits ≡ hits_sql on a given node universe {0, 1, 7}, including link
    relations with no mass inside it (an empty edge set; an edge between
    two nodes outside it): the L1 normalizer is then 0 and every score is
    a defined 0 in both engines, not NULL/NaN."""
    import duckdb

    nodes = [0, 1, 7]
    df = spark.createDataFrame(edges, "src long, dst long")
    ndf = spark.createDataFrame([(v,) for v in nodes], "id long")
    got = sorted(
        (r["id"], round(r["auth"], 6), round(r["hub"], 6))
        for r in PR.hits(df, nodes=ndf, iters=3).collect()
    )
    values = ", ".join(f"({u}, {v})" for u, v in edges)
    edges_cte = (
        f"SELECT * FROM (VALUES {values}) t(src, dst)" if edges
        else "SELECT NULL::BIGINT AS src, NULL::BIGINT AS dst WHERE false"
    )
    nodes_cte = (
        "SELECT * FROM (VALUES "
        + ", ".join(f"({v})" for v in nodes) + ") t(id)"
    )
    want = sorted(
        duckdb.sql(
            PR.hits_sql(iters=3, edges_cte=edges_cte, nodes_cte=nodes_cte)
        ).fetchall()
    )
    assert got == want
    mirror_a, mirror_h = _py_hits(edges, iters=3, nodes=nodes)
    assert got == [
        (v, round(mirror_a[v], 6), round(mirror_h[v], 6)) for v in nodes
    ]
    assert any(a or h for _v, a, h in got) == has_mass


def test_pagerank_custom_graph_matches_mirror(spark):
    """pagerank over an arbitrary coarsened graph (host-graph shape)
    still matches the Python mirror — guards the nodes/edges injection
    path the host_rank gate row uses."""
    edges = [(0, 1), (1, 2), (2, 0), (2, 1)]
    nodes = spark.createDataFrame([(0,), (1,), (2,), (3,)], "id long")
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["id"]: r["rank"]
           for r in PR.pagerank(df, nodes=nodes, iters=8).collect()}
    want = _py_pagerank(edges, iters=8, nodes=[0, 1, 2, 3])
    assert got == pytest.approx(want, rel=1e-9)
    assert got[3] == pytest.approx(0.15)  # isolated node
