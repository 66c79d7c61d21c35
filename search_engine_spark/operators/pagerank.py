"""PageRank over a link graph, as iterative DataFrame jobs.

Re-expresses the reference's iterative link-graph rank
(/root/reference/src/cis5550/jobs/PageRank.java:223-449: per-url state
string "curRank,prevRank,links...", join-transfer-aggregate loop over KVS
tables with a convergence table) Spark-first:

* edges are a real ``(src, dst)`` DataFrame — no string-encoded state;
* each iteration is ONE keyed shuffle: contributions =
  ``edges ⋈ ranks`` grouped by ``dst`` with map-side partial sums
  (the reference's `transfer` table join, PageRank.java:344-371);
* out-degrees are folded into the edge relation ONCE up front
  (``weight = 1/outdeg``), so the loop joins a static weighted edge table
  against a rank table keyed the same way — at scale both sides hash-
  partition on ``src`` and the exchange is reused across iterations;
* ``localCheckpoint`` truncates lineage per iteration (the reference's
  eager KVS materialization gave it this for free);
* convergence: fixed iteration count (mirrorable in SQL) or a driver-side
  max-delta check like the reference's `convergence` table
  (PageRank.java:388-425).

Semantics follow the reference ranker: init rank 1.0, update
``rank(v) = (1-d) + d * Σ_{u→v} rank(u)/outdeg(u)`` (classic
unnormalized PageRank; damping d = 0.85, PageRank.java:253-260, 355-369).
Dangling nodes (no outlinks) simply leak mass, exactly as the reference's
transfer phase does — enable ``redistribute_dangling`` for the
mass-conserving variant.

HTML outlink extraction (the Crawler's URL harvest,
/root/reference/src/cis5550/jobs/Crawler.java:560-650) is a JVM-side
``regexp_extract_all`` over the anchor tags — no Python in the loop.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

DAMPING = 0.85

# href capture over anchor tags; mirrors the reference's anchor-scan
# (Crawler.java:560-584) without the per-char state machine. Captures the
# WHOLE attribute value (single- or double-quoted) — a '#fragment' must be
# stripped afterwards like the reference's normalizeURL does, not used to
# reject the link (an excluding char class would silently drop every
# fragment-bearing anchor).
_HREF_RE = r"""<a\s+[^>]*href=["']([^"']+)["']"""


def outlinks_col(html_col: str | Column) -> Column:
    """array<string> of href targets from anchor tags (JVM regex),
    fragments stripped, fragment-only links ('#top') dropped."""
    c = F.col(html_col) if isinstance(html_col, str) else html_col
    raw = F.regexp_extract_all(c, F.lit(_HREF_RE), 1)
    return F.filter(
        F.transform(raw, lambda u: F.regexp_replace(u, "#.*$", "")),
        lambda u: u != "",
    )


def outlinks(
    pages: DataFrame, url: str = "url", html: str = "html"
) -> DataFrame:
    """(src, dst) edge table from raw pages; html may be binary or string.
    Self-loops dropped (they only dampen their own rank), duplicates kept
    out by distinct — matching the reference's per-page link-set semantics
    (Crawler.java stores the harvested set per page)."""
    h = F.col(html)
    htyp = dict(pages.dtypes)[html]
    if htyp == "binary":
        h = h.cast("string")
    return (
        pages.select(
            F.col(url).alias("src"), F.explode(outlinks_col(h)).alias("dst")
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def pagerank(
    edges: DataFrame,
    nodes: DataFrame | None = None,
    iters: int = 10,
    damping: float = DAMPING,
    src: str = "src",
    dst: str = "dst",
    redistribute_dangling: bool = False,
    tol: float | None = None,
    checkpoint_every: int = 5,
) -> DataFrame:
    """(id, rank) after ``iters`` rounds (or earlier if ``tol`` is set and
    max |Δrank| falls below it — the reference's convergence check,
    PageRank.java:388-425).

    ``nodes`` (one ``id`` column) fixes the vertex universe; default =
    every endpoint appearing in ``edges``. Sink-only nodes keep receiving
    rank; source-only nodes settle at ``1 - damping``.

    Iterations build ONE lazy plan (each round = two chained shuffle
    stages inside a single job) — the reference materialized a KVS table
    per round by construction; here only every ``checkpoint_every``-th
    round localCheckpoints to bound lineage depth. The per-round paths
    that must observe intermediate ranks (``tol``,
    ``redistribute_dangling``) force a checkpoint each round.
    """
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    if nodes is None:
        nodes = (
            e.select(F.col("src").alias("id"))
            .unionByName(e.select(F.col("dst").alias("id")))
            .distinct()
        )
    else:
        nodes = nodes.select(F.col(nodes.columns[0]).alias("id"))
    nodes = nodes.localCheckpoint()
    n_nodes = nodes.count()
    # fold 1/outdeg into the edges once; the loop then only re-joins ranks
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    w_edges = (
        e.join(deg, "src")
        .select("src", "dst", (F.lit(1.0) / F.col("outdeg")).alias("w"))
        .localCheckpoint()
    )
    eager = tol is not None or redistribute_dangling
    ranks = nodes.withColumn("rank", F.lit(1.0))
    for it in range(1, iters + 1):
        contribs = (
            w_edges.join(ranks, w_edges["src"] == ranks["id"])
            .groupBy("dst")
            .agg(F.sum(F.col("rank") * F.col("w")).alias("m"))
        )
        base = F.lit(1.0 - damping)
        if redistribute_dangling:
            dangling = (
                ranks.join(deg, ranks["id"] == deg["src"], "left_anti")
                .agg(F.sum("rank"))
                .collect()[0][0]
                or 0.0
            )
            base = base + F.lit(damping * dangling / n_nodes)
        new = (
            nodes.join(contribs, nodes["id"] == contribs["dst"], "left")
            .select(
                "id",
                (base + F.lit(damping) * F.coalesce("m", F.lit(0.0))).alias(
                    "rank"
                ),
            )
        )
        if eager or it % checkpoint_every == 0:
            new = new.localCheckpoint()
        if tol is not None:
            delta = (
                new.join(ranks.withColumnRenamed("rank", "prev"), "id")
                .agg(F.max(F.abs(F.col("rank") - F.col("prev"))))
                .collect()[0][0]
            )
            ranks = new
            if delta is not None and delta < tol:
                break
        else:
            ranks = new
    return ranks


# ---------------------------------------------------------------------------
# Deterministic synthetic link graph over a (doc_id) table — the gate shape
# ---------------------------------------------------------------------------

LINK_PRIMES = (7, 13, 31)


def synthetic_edges(
    docs: DataFrame, n_docs: int, docid: str = "doc_id"
) -> DataFrame:
    """(src, dst): doc d links to ``d + 1 + (d*P_j + j) mod (N-1)  (mod N)``
    for each prime P_j — offset ∈ [1, N-1] guarantees no self-loops and
    out-degree ≥ 1 (no dangling nodes), so the rank mirror needs no
    dangling-mass term. Exactly mirrorable in SQL."""
    d = F.col(docid).cast("bigint")
    parts = []
    for j, p in enumerate(LINK_PRIMES):
        off = (d * p + F.lit(j)) % F.lit(n_docs - 1) + 1
        parts.append(
            docs.select(
                d.alias("src"), ((d + off) % F.lit(n_docs)).alias("dst")
            )
        )
    out = parts[0]
    for pt in parts[1:]:
        out = out.unionByName(pt)
    return out.distinct()


def synthetic_edges_sql(table: str = "documents", docid: str = "doc_id") -> str:
    """DuckDB CTE body producing the same edge relation (needs a scalar
    ``n`` CTE in scope: ``n AS (SELECT count(*) AS n FROM documents)``)."""
    parts = []
    for j, p in enumerate(LINK_PRIMES):
        parts.append(
            f"SELECT {docid}::BIGINT AS src, "
            f"(({docid}::BIGINT + (({docid}::BIGINT * {p} + {j}) % (n.n - 1)) + 1) % n.n)::BIGINT AS dst "
            f"FROM {table}, n"
        )
    return " UNION ".join(parts)


def pagerank_sql(
    iters: int = 10, damping: float = DAMPING, table: str = "documents",
    docid: str = "doc_id",
    edges_cte: str | None = None,
    nodes_cte: str | None = None,
) -> str:
    """Full DuckDB mirror: synthetic edges + ``iters`` unrolled rank CTEs,
    final rank rounded to 6 dp (both engines sum ~3 in-contributions per
    node per round in doubles; the drift stays ~1e-14, far inside 6 dp).

    ``edges_cte`` / ``nodes_cte`` inject a custom (src, dst) edge body and
    (id) node body — e.g. the host-coarsened graph — in place of the
    default synthetic doc graph."""
    edges_body = edges_cte or synthetic_edges_sql(table, docid)
    nodes_body = nodes_cte or f"SELECT {docid}::BIGINT AS id FROM {table}"
    ctes = [
        f"n AS (SELECT count(*) AS n FROM {table})",
        f"edges AS ({edges_body})",
        f"nodes AS ({nodes_body})",
        "deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src)",
        "r0 AS (SELECT id, 1.0::DOUBLE AS rank FROM nodes)",
    ]
    for i in range(1, iters + 1):
        ctes.append(
            f"""r{i} AS (
  SELECT d.id,
         {1 - damping} + {damping} * coalesce(s.m, 0) AS rank
  FROM nodes d LEFT JOIN (
    SELECT e.dst, sum(r.rank / deg.outdeg) AS m
    FROM edges e JOIN r{i - 1} r ON r.id = e.src JOIN deg ON deg.src = e.src
    GROUP BY e.dst) s ON s.dst = d.id)"""
        )
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT id AS docid, round(rank, 6) AS rank FROM r{iters}"
    )


# ---------------------------------------------------------------------------
# Q8: rank fusion (reference jobs/IndexerProjectVersion1.java:307-328)
# ---------------------------------------------------------------------------


def rank_fusion(
    scores: DataFrame,
    ranks: DataFrame,
    k: int = 100,
    decimals: int = 6,
) -> DataFrame:
    """(docid, score): harmonic fusion ``2·pr·s / (pr + s)`` of a text
    relevance score and a PageRank — the reference's combineRanks
    (jobs/IndexerProjectVersion1.java:307-328; invocation commented out
    there, active here).

    ``scores`` is (docid, score) — the complete BM25 match set, not a
    pre-truncated top-k, so documents whose fused rank rises on the link
    signal are not lost. ``ranks`` is (id, rank) from :func:`pagerank`.

    Both inputs are rounded to ``decimals`` BEFORE fusing so the fusion
    arithmetic sees bit-identical operands in Spark and the SQL oracle;
    the fused score is rounded the same way before the tie-broken top-k
    (score desc, docid asc → TakeOrderedAndProject). One equi-join on the
    doc key — at scale both sides hash-partition on it; pr ≥ 1−d > 0 and
    s > 0, so the denominator never vanishes."""
    pr = ranks.select(
        F.col("id").alias("docid"), F.round("rank", decimals).alias("_pr")
    )
    s = scores.select("docid", F.round("score", decimals).alias("_s"))
    fused = s.join(pr, "docid").select(
        "docid",
        F.round(
            F.lit(2.0) * F.col("_pr") * F.col("_s")
            / (F.col("_pr") + F.col("_s")),
            decimals,
        ).alias("score"),
    )
    return fused.orderBy(F.col("score").desc(), F.col("docid").asc()).limit(k)


def rank_fusion_sql(
    scores_sql: str,
    iters: int = 10,
    k: int = 100,
    decimals: int = 6,
    table: str = "documents",
    docid: str = "doc_id",
) -> str:
    """DuckDB mirror of :func:`rank_fusion` over :func:`pagerank_sql`'s
    rank relation and ``scores_sql`` (any SELECT yielding (docid, score))."""
    pr_sql = pagerank_sql(iters=iters, table=table, docid=docid)
    return f"""
WITH pr AS ({pr_sql}),
sc AS (SELECT docid, round(score, {decimals}) AS s FROM ({scores_sql}))
SELECT sc.docid AS docid,
       round(2.0 * pr.rank * sc.s / (pr.rank + sc.s), {decimals}) AS score
FROM sc JOIN pr ON sc.docid = pr.docid
ORDER BY score DESC, sc.docid ASC LIMIT {k}
"""


# ---------------------------------------------------------------------------
# HITS hubs & authorities (Kleinberg 1999) — the off-page companion signal
# to PageRank over the same link graph
# ---------------------------------------------------------------------------


def hits(
    edges: DataFrame,
    nodes: DataFrame | None = None,
    iters: int = 5,
    src: str = "src",
    dst: str = "dst",
    checkpoint_every: int = 2,
) -> DataFrame:
    """(id, auth, hub) after ``iters`` HITS rounds (Kleinberg, JACM 1999).

    The reference ships PageRank as its only link-analysis job
    (jobs/PageRank.java); HITS is the standard second query-independent
    signal over the SAME edge relation, so it reuses this module's graph
    contract (``outlinks`` / ``synthetic_edges``).

    Update per round (standard mutual recurrence):
      ``auth(v) = Σ_{u→v} hub(u)``  then normalize,
      ``hub(u)  = Σ_{u→v} auth(v)`` (the *current* round's auth) then
      normalize. Normalization is L1 scaled by N (mean 1.0, like
      PageRank's unnormalized ranks) — values stay O(1) so a 6-dp final
      round is meaningful and the cross-engine double drift (~1e-13
      after ``iters`` global sums) stays far inside it.

    Scale shape: the edge table is pre-hash-partitioned TWICE up front —
    once by ``src`` (auth step joins hubs on src) and once by ``dst``
    (hub step joins auths on dst) — and both partitionings are reused by
    every round, so each round is two co-partitioned joins + two keyed
    aggs with map-side partial sums + two scalar aggs. No per-round
    driver collect: the normalizer is a 1-row DataFrame cross-joined in
    (broadcast of a scalar), keeping the whole loop one lazy plan
    between checkpoints.
    """
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    if nodes is None:
        nodes = (
            e.select(F.col("src").alias("id"))
            .unionByName(e.select(F.col("dst").alias("id")))
            .distinct()
        )
    else:
        nodes = nodes.select(F.col(nodes.columns[0]).alias("id"))
    nodes = nodes.localCheckpoint()
    n_nodes = nodes.count()
    e_by_src = e.repartition("src").localCheckpoint()
    e_by_dst = e.repartition("dst").localCheckpoint()

    def _l1_scaled(df: DataFrame, col: str) -> DataFrame:
        # a round with no link mass (no edge between two nodes of the
        # universe) has a 0 normalizer: every score is then 0, not 0/0
        total = df.agg(F.sum(col).alias("_t"))
        return df.crossJoin(F.broadcast(total)).select(
            "id",
            F.when(F.col("_t") == 0, F.lit(0.0))
            .otherwise(F.col(col) * F.lit(float(n_nodes)) / F.col("_t"))
            .alias(col),
        )

    hub = nodes.withColumn("hub", F.lit(1.0))
    auth = nodes.withColumn("auth", F.lit(1.0))
    for it in range(1, iters + 1):
        a_raw = (
            e_by_src.join(hub, e_by_src["src"] == hub["id"])
            .groupBy("dst")
            .agg(F.sum("hub").alias("_m"))
        )
        auth = _l1_scaled(
            nodes.join(a_raw, nodes["id"] == a_raw["dst"], "left").select(
                "id", F.coalesce("_m", F.lit(0.0)).alias("auth")
            ),
            "auth",
        )
        h_raw = (
            e_by_dst.join(auth, e_by_dst["dst"] == auth["id"])
            .groupBy("src")
            .agg(F.sum("auth").alias("_m"))
        )
        hub = _l1_scaled(
            nodes.join(h_raw, nodes["id"] == h_raw["src"], "left").select(
                "id", F.coalesce("_m", F.lit(0.0)).alias("hub")
            ),
            "hub",
        )
        if it % checkpoint_every == 0 and it < iters:
            auth = auth.localCheckpoint()
            hub = hub.localCheckpoint()
    return auth.join(hub, "id")


def hits_sql(
    iters: int = 5, table: str = "documents", docid: str = "doc_id",
    edges_cte: str | None = None,
    nodes_cte: str | None = None,
) -> str:
    """Full DuckDB mirror of :func:`hits` over :func:`synthetic_edges_sql`'s
    edge relation — ``iters`` unrolled (auth-raw, auth-norm, hub-raw,
    hub-norm) CTE quadruples, final 6-dp round. ``edges_cte`` /
    ``nodes_cte`` inject a custom (src, dst) edge body and (id) node body
    in place of the synthetic doc graph, as in :func:`pagerank_sql`."""
    edges_body = edges_cte or synthetic_edges_sql(table, docid)
    nodes_body = nodes_cte or f"SELECT {docid}::BIGINT AS id FROM {table}"
    ctes = [
        f"nodes AS MATERIALIZED ({nodes_body})",
        "n AS MATERIALIZED (SELECT count(*) AS n FROM nodes)",
        f"edges AS MATERIALIZED ({edges_body})",
        "h0 AS MATERIALIZED (SELECT id, 1.0::DOUBLE AS hub FROM nodes)",
    ]

    def norm(step: str, col: str) -> str:
        # 0 normalizer (no link mass): every score 0, like hits()
        return (
            f"{step} AS MATERIALIZED (SELECT id, CASE WHEN s.t = 0 THEN 0.0 "
            f"ELSE {col} * (SELECT n FROM n) / s.t END AS {col} "
            f"FROM {step}r, (SELECT sum({col}) AS t FROM {step}r) s)"
        )

    for i in range(1, iters + 1):
        ctes.append(
            f"""a{i}r AS MATERIALIZED (
  SELECT d.id, coalesce(s._m, 0)::DOUBLE AS auth
  FROM nodes d LEFT JOIN (
    SELECT e.dst, sum(h.hub) AS _m
    FROM edges e JOIN h{i - 1} h ON h.id = e.src GROUP BY e.dst) s
  ON s.dst = d.id)"""
        )
        ctes.append(norm(f"a{i}", "auth"))
        ctes.append(
            f"""h{i}r AS MATERIALIZED (
  SELECT d.id, coalesce(s._m, 0)::DOUBLE AS hub
  FROM nodes d LEFT JOIN (
    SELECT e.src, sum(a.auth) AS _m
    FROM edges e JOIN a{i} a ON a.id = e.dst GROUP BY e.src) s
  ON s.src = d.id)"""
        )
        ctes.append(norm(f"h{i}", "hub"))
    return (
        "WITH " + ",\n".join(ctes)
        + f"""
SELECT a.id AS docid, round(a.auth, 6) AS auth, round(h.hub, 6) AS hub
FROM a{iters} a JOIN h{iters} h ON a.id = h.id"""
    )
