"""Crawler machinery as declarative batch operators (reference T11).

The crawl's network side is out of scope (the input table IS the crawl's
output, per the engine contract), but everything the reference crawler
does BETWEEN fetches is pure relational algebra, and expressing it that
way is exactly how a web-scale recrawl is planned:

* :func:`frontier_step` — ONE wave: harvest → resolve → canonicalize →
  filter → URL-pattern blacklist → seen anti-join → robots rules →
  per-host politeness cap.
* :func:`blacklist_regex` — the reference's configurable glob blacklist
  (``*`` wildcard, full-url match) compiled to one anchored regex.
* :func:`apply_robots` — robots.txt rules as a filter: Disallow-prefix
  table, or first-match-wins (host, rule, allow, rule_order).
* :func:`bfs_hops` — the crawl LOOP's reachability semantics: min link
  distance from seeds, Pregel-style frontier-only expansion.
* :func:`resolve_redirects` — 301-chain resolution by pointer doubling
  (O(log chain) rounds; cycles flagged, never mis-resolved).
* :func:`anchor_texts` / :func:`anchor_bm25_topk` — inbound anchor-text
  aggregation per target and BM25 over the anchor bags (the off-page
  relevance signal; the field-combined scorer is text_ops.bm25f_topk).

Each has an exact DuckDB mirror (``*_sql``) for the correctness gate.

Reference semantics covered (/root/reference/src/cis5550/jobs/Crawler.java):

* anchor-href harvest (:560-584)                  → ``pagerank.outlinks``
* relative-link resolution against the page URL (:228-251): root-relative
  (``/path``), path-relative (``rel/x``), leading-``..`` collapse
                                                  → :func:`resolve_href`
* scheme filter — http/https only (:182-183)      → :func:`frontier_step`
* binary-extension blacklist ``.jpg .jpeg .gif .png .txt`` on the
  lowercased NORMALIZED url (:219-223)            → :func:`frontier_step`
* ``normalizeURL`` canonicalization (:121-307)    → ``urls.canonical_url``
* seen-set check — skip URLs already in the crawl table (:706-778)
                                                  → anti-join on ``seen``
* configurable URL-pattern blacklist, ``*``→``.*``, full match,
  any-pattern-drops (:104-118, :571-586)          → :func:`blacklist_regex`
* robots first-match-wins incl. Allow (:260-275 breaks on the first
  matching prefix)                                → :func:`apply_robots`
* per-host politeness (:441-497 hosts-table crawl delay): in a batch
  frontier step, time-per-host becomes COUNT-per-host — ``per_host_cap``
  keeps the next wave polite and kills host skew in the same stroke.

Scale shape: extract+resolve+canonicalize is a pure map stage (JVM regex
built-ins, whole-stage codegen, zero Python); ``distinct`` is one keyed
exchange on the candidate url; the seen-check is a left_anti hash join
(broadcast when the seen set is a bloom-filter-sized digest, shuffle join
against the full crawl table otherwise); the politeness cap is one window
over ``host`` — which is exactly the skew guard: no host contributes more
than ``per_host_cap`` rows downstream no matter how link-spammy it is.

Every step is mirrored in DuckDB SQL (``*_sql`` helpers) so the frontier
is correctness-gated like every other operator. RE2-safe regex only (no
lookaround, no backreferences in patterns).

Contract notes (documented deltas from the reference's imperative code):
``..`` collapse is bounded at 3 passes per resolution (covers nesting
depth 3 — extend ``_COLLAPSE_PASSES`` for deeper trees); query strings on
the BASE url do not participate in relative resolution (RFC 3986 — the
reference inherits this from its URLParser).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from search_engine_spark.operators.pagerank import outlinks_col
from search_engine_spark.operators.urls import (
    _PREFIX_RE,
    canonical_url,
    canonical_url_sql,
    url_host,
    url_host_sql,
)

# absolute-reference test: ANY scheme makes an href absolute (RFC 3986;
# 'mailto:u@h' must pass through to the scheme filter, not resolve as a
# relative path against the base directory)
_ABS_RE = r"^[A-Za-z][A-Za-z0-9+.-]*:"
# scheme of the base url (group 1)
_SCHEME_RE = r"^([A-Za-z][A-Za-z0-9+.-]*):"
# one '/segment/../' hop; [^/]+ also matches '..' so chained hops reduce
_DOTDOT_RE = r"/[^/]+/\.\./"
_COLLAPSE_PASSES = 3
# reference blacklist, tested on lower(normalized url) (Crawler.java:219)
_EXT_BLACKLIST_RE = r"\.(jpg|jpeg|gif|png|txt)$"


def blacklist_regex(patterns: list[str]) -> str:
    """One anchored alternation implementing the reference's configurable
    URL-pattern blacklist (jobs/Crawler.java:104-118 ``isBlacklisted``:
    ``*`` → ``.*``, ``Matcher.matches()`` = FULL-url match, ANY matching
    pattern drops the url; :571-586 loads patterns from a table).

    Patterns here are GLOBS: every regex metacharacter except ``*`` is
    escaped before the star expansion, so a literal ``?`` or ``.`` in a
    pattern cannot shift semantics between the JVM and RE2 engines (the
    reference compiles the raw string and would interpret them)."""
    import re as _re

    parts = [_re.escape(p).replace(r"\*", ".*") for p in patterns]
    return "^(?:" + "|".join(parts) + ")$"


def blacklist_pred(patterns: list[str]) -> Column:
    """TRUE where the url hits any blacklist pattern — same semantics as
    :func:`blacklist_regex` (full-url glob match) but compiled to the
    cheapest JVM predicate each pattern admits: a star-free pattern is an
    equality, a single trailing ``*`` is ``startswith``, a single leading
    ``*`` is ``endswith``; only patterns with interior/multiple stars pay
    for a regex. Measured on the sf0.1 frontier, the regex form costs
    ~2 s (~60% of the whole wave) because it runs per HARVESTED link —
    string prefix compare is ~free. The DuckDB mirror keeps the one-regex
    form (oracle clarity; its perf is not the product)."""
    preds: list[Column] = []
    regex_left: list[str] = []
    for p in patterns:
        body = p.replace("*", "")
        if "*" not in p:
            preds.append(F.col("url") == p)
        elif p.count("*") == 1 and p.endswith("*"):
            preds.append(F.col("url").startswith(body))
        elif p.count("*") == 1 and p.startswith("*"):
            preds.append(F.col("url").endswith(body))
        else:
            regex_left.append(p)
    if regex_left:
        preds.append(F.col("url").rlike(blacklist_regex(regex_left)))
    out = preds[0]
    for c in preds[1:]:
        out = out | c
    return out
# level-1 politeness-cap fanout (see frontier_step): bounds the per-task
# input of the per-host window without changing its result
SALT_BUCKETS = 64


def _strip_to_dir(base: Column) -> Column:
    """``scheme://host[:port]/a/b.html?q`` → ``scheme://host[:port]/a/``
    (the resolution directory of the base url; query/fragment dropped,
    '/' when the base has no path)."""
    noq = F.regexp_replace(base, r"[?#].*$", "")
    origin = F.regexp_extract(noq, _PREFIX_RE, 1)
    path = F.regexp_replace(noq, _PREFIX_RE, "")
    dir_path = F.when(path == "", F.lit("/")).otherwise(
        F.regexp_replace(path, r"/[^/]*$", "/")
    )
    return F.concat(origin, dir_path)


def _collapse_dotdot(url: Column) -> Column:
    """Collapse ``/seg/../`` hops in the PATH (origin never touched: the
    path of a resolved url always starts with '/')."""
    origin = F.regexp_extract(url, _PREFIX_RE, 1)
    path = F.regexp_replace(url, _PREFIX_RE, "")
    for _ in range(_COLLAPSE_PASSES):
        path = F.regexp_replace(path, _DOTDOT_RE, "/")
    # hops left dangling at the path root ('/../x') clamp to the root
    path = F.regexp_replace(path, r"^(/\.\.)+/", "/")
    return F.concat(origin, path)


def resolve_href(base: Column, href: Column) -> Column:
    """RFC-3986-style reference resolution, the declarative subset the
    reference crawler implements (Crawler.java:228-251): absolute hrefs
    pass through; ``//host/p`` inherits the base scheme; ``/p`` resolves
    against the base origin; anything else resolves against the base
    directory with bounded ``..`` collapse."""
    origin = F.regexp_extract(base, _PREFIX_RE, 1)
    scheme = F.regexp_extract(base, _SCHEME_RE, 1)
    return (
        F.when(href.rlike(_ABS_RE), href)
        .when(href.startswith("//"), F.concat(scheme, F.lit(":"), href))
        .when(href.startswith("/"), F.concat(origin, href))
        .otherwise(_collapse_dotdot(F.concat(_strip_to_dir(base), href)))
    )


def frontier_step(
    pages: DataFrame,
    seen: DataFrame | None = None,
    per_host_cap: int | None = None,
    url: str = "url",
    html: str = "html",
    robots: DataFrame | None = None,
    blacklist: list[str] | None = None,
) -> DataFrame:
    """(host, url) — the next crawl wave: every NEW, fetchable, canonical
    URL reachable from ``pages``, at most ``per_host_cap`` per host.

    ``seen`` is a 1-column DataFrame of already-crawled canonical URLs
    (pass the crawl table's own canonicalized url column to avoid
    refetching); ``per_host_cap`` keeps the wave polite per host
    (lowest-url-first within a host, deterministic). ``blacklist`` is the
    reference's configurable URL-pattern blacklist (glob ``*`` wildcards,
    full-url match, see :func:`blacklist_regex`) applied to the CANONICAL
    url alongside the extension filter — a tiny driver-side list compiled
    into one JVM regex, zero extra jobs.

    The harvest inlines ``outlinks_col`` instead of reusing the
    ``pagerank.outlinks`` edge table: the edge-level distinct there is a
    full shuffle of the largest intermediate, and the url-level distinct
    below subsumes it for frontier purposes."""
    h = F.col(html)
    if dict(pages.dtypes)[html] == "binary":
        h = h.cast("string")
    links = pages.select(
        F.col(url).alias("src"), F.explode(outlinks_col(h)).alias("dst")
    ).filter(F.col("src") != F.col("dst"))
    # explode(array(expr)) is a deliberate PUSHDOWN BARRIER: the scheme/
    # extension/blacklist filters below would otherwise be pushed through
    # the Project and re-substitute the whole canonicalize∘resolve regex
    # chain into every predicate (the r4 plan showed 161 regexp_replace
    # occurrences — the chain re-derived once per filter per harvested
    # link). Filters cannot cross a Generate's own output, so the chain
    # evaluates exactly once per link and the predicates test the
    # materialized string. Measured at sf0.1: 4.11 s → 1.92 s best-of-3,
    # rows identical. Laziness is preserved (no checkpoint, no cache).
    cand = (
        links.select(
            F.explode(
                F.array(
                    canonical_url(resolve_href(F.col("src"), F.col("dst")))
                )
            ).alias("url")
        )
        .filter(F.col("url").rlike(r"^https?://"))
        .filter(~F.lower(F.col("url")).rlike(_EXT_BLACKLIST_RE))
    )
    if blacklist:
        # before the distinct: dropped urls never enter the shuffle
        cand = cand.filter(~blacklist_pred(blacklist))
    cand = cand.distinct()
    if seen is not None:
        seen_urls = seen.select(F.col(seen.columns[0]).alias("url"))
        cand = cand.join(seen_urls, "url", "left_anti")
    cand = cand.select(url_host("url").alias("host"), "url")
    if robots is not None:
        # robots BEFORE the cap: politeness budget is not spent on urls
        # the crawler would refuse to fetch anyway
        cand = apply_robots(cand, robots)
    if per_host_cap is not None:
        # two-level cap: a hot host (link-spam hub) would otherwise send
        # its WHOLE candidate set to one window task. Level 1 caps within
        # (host, url-hash salt) buckets — bounded skew by construction —
        # so level 2's per-host window sees ≤ SALT_BUCKETS·cap rows per
        # host. Result-identical to the single window (every global
        # smallest-cap url survives its own bucket's local cap); the SQL
        # mirror keeps the one-window form.
        salt = F.pmod(F.xxhash64(F.col("url")), F.lit(SALT_BUCKETS))
        w1 = Window.partitionBy("host", salt).orderBy(F.col("url").asc())
        w2 = Window.partitionBy("host").orderBy(F.col("url").asc())
        cand = (
            cand.withColumn("_rn1", F.row_number().over(w1))
            .filter(F.col("_rn1") <= per_host_cap)
            .withColumn("_rn2", F.row_number().over(w2))
            .filter(F.col("_rn2") <= per_host_cap)
            .drop("_rn1", "_rn2")
        )
    return cand


def politeness_schedule(
    frontier: DataFrame,
    default_delay_s: float = 1.0,
    delays: DataFrame | None = None,
    host: str = "host",
    url: str = "url",
) -> DataFrame:
    """(host, url, slot, not_before_s) — the wave planner: turn a capped
    frontier wave into a concrete per-host fetch schedule. ``slot`` is the
    url's 0-based position within its host (lowest-url-first, the same
    deterministic order the cap used); ``not_before_s`` = slot x the
    host's crawl delay — fetch slot i of a host no earlier than i·delay
    seconds after wave start. This is the batch artifact of the
    reference's elapsed-time rate limit (Crawler.java:460-473
    ``hosts.timeStamp`` — there an in-memory last-fetch timestamp per
    host; here the schedule the fetch tier enforces, see the POLITENESS
    CONTRACT in README).

    ``delays`` is an optional (host, delay_s) table (robots Crawl-delay
    values); hosts absent from it fall back to ``default_delay_s``. It is
    robots-sized, so it broadcasts. The slot window partitions by host on
    a frontier that the per-host cap has already bounded to <= cap rows
    per host — no skew by construction; scheduling an UNCAPPED frontier
    should cap first (that is the planner's politeness input contract)."""
    w = Window.partitionBy(host).orderBy(F.col(url).asc())
    out = frontier.select(host, url).withColumn(
        "slot", (F.row_number().over(w) - 1).cast("long")
    )
    if delays is not None:
        d = delays.select(
            F.col(delays.columns[0]).alias(host),
            F.col(delays.columns[1]).cast("double").alias("_delay_s"),
        )
        out = out.join(F.broadcast(d), host, "left")
        delay = F.coalesce(F.col("_delay_s"), F.lit(float(default_delay_s)))
    else:
        delay = F.lit(float(default_delay_s))
    return out.withColumn(
        "not_before_s", F.round(F.col("slot") * delay, 6)
    ).select(host, url, "slot", "not_before_s")


def apply_robots(
    cand: DataFrame,
    robots: DataFrame,
    url: str = "url",
    host: str = "host",
) -> DataFrame:
    """Drop candidates the robots rules forbid — the reference's
    robots.txt honoring (Crawler.java:310-375 parse, :260-275 prefix
    check: it walks the parsed rules IN FILE ORDER and breaks on the
    FIRST prefix that matches, so an Allow listed before a Disallow wins)
    as a batch filter. Two rule-table shapes:

    * ``(host, disallow)`` — Disallow-only prefixes. First-match-wins
      degenerates to any-match (every rule blocks), so no order column is
      needed.
    * ``(host, rule, allow, rule_order)`` — the full first-match-wins
      semantics: per candidate, the matching rule with the smallest
      ``rule_order`` (its position in robots.txt) decides; ``allow``
      true keeps the url. No matching rule → allowed.

    Candidates on hosts with no rules pass through either way.

    Shape: rules tables are small (one fetch per host) → broadcast join on
    host, prefix test; the first-match pick is a ``min_by`` hash
    aggregation keyed by url (no window). Pure built-ins."""
    path = F.regexp_replace(F.col(url), _PREFIX_RE, "")
    if "allow" in robots.columns:
        matched = cand.join(
            F.broadcast(robots), cand[host] == robots["host"], "inner"
        ).filter(path.startswith(F.col("rule")))
        blocked = (
            matched.groupBy(F.col(url))
            .agg(F.min_by("allow", "rule_order").alias("_first_allow"))
            .filter(~F.col("_first_allow"))
            .select(F.col(url))
        )
        return cand.join(blocked, url, "left_anti")
    hits = (
        cand.join(F.broadcast(robots), cand[host] == robots["host"], "inner")
        .filter(path.startswith(F.col("disallow")))
        .select(F.col(url))
        .distinct()
    )
    return cand.join(hits, url, "left_anti")


def apply_robots_fmw_sql(cand_select: str, robots_sql: str) -> str:
    """DuckDB mirror of the first-match-wins branch of
    :func:`apply_robots`: ``robots_sql`` yields
    (host, rule, allow, rule_order); the matching rule with the smallest
    rule_order decides each url."""
    return f"""
WITH cand AS ({cand_select}),
robots AS ({robots_sql}),
blocked AS (
  SELECT c.url
  FROM cand c JOIN robots r ON c.host = r.host
  WHERE starts_with(regexp_replace(c.url, '{_PREFIX_RE}', ''), r.rule)
  GROUP BY c.url
  HAVING NOT arg_min(r.allow, r.rule_order)
)
SELECT host, url FROM cand WHERE url NOT IN (SELECT url FROM blocked)
"""


def bfs_hops(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int = 10,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """(node, hop) — minimum link distance from any seed, bounded at
    ``max_hops``: the reference crawler's frontier LOOP semantics
    (Crawler.java:604-787, ``while count>0: frontier.flatMap(crawl)``) as
    iterative BFS over a harvested edge table. One :func:`frontier_step`
    is a single wave; this is the closure — what a crawl scheduler uses
    as its depth/priority signal (and robots-style budget analyses use as
    "reachable within k clicks").

    Pregel-style frontier expansion: each wave joins ONLY the urls first
    reached last wave against the edge table, anti-joins the visited set,
    and tags survivors with the wave number — so a node's hop is its BFS
    level (provably minimal: levels are explored in order and a node is
    never revisited). Wave results are localCheckpoint'ed to truncate the
    growing lineage; per-wave driver traffic is one count. Work per wave
    ∝ frontier out-edges, not graph size — the scalable BFS shape. Stops
    early when a wave is empty; a bounded crawl is the normal case so
    exhausting ``max_hops`` is NOT an error (unlike connected components,
    where a fixpoint is required for correctness)."""
    visited = (
        seeds.select(F.col(seeds.columns[0]).alias("node"))
        .distinct()
        .withColumn("hop", F.lit(0))
        .localCheckpoint()
    )
    frontier = visited.select("node")
    for h in range(1, max_hops + 1):
        nxt = (
            edges.join(frontier, edges[src] == frontier["node"])
            .select(edges[dst].alias("node"))
            .distinct()
            .join(visited, "node", "left_anti")
            .withColumn("hop", F.lit(h))
            .localCheckpoint()
        )
        if not nxt.take(1):
            break
        visited = visited.unionByName(nxt).localCheckpoint()
        frontier = nxt.select("node")
    return visited


def bfs_hops_sql(
    edges_sql: str, seeds_sql: str, max_hops: int = 10, prelude: str = ""
) -> str:
    """DuckDB recursive-CTE mirror of :func:`bfs_hops` — UNION (distinct)
    recursion over (node, hop) pairs is cycle-safe and bounded by
    |V|·max_hops rows; min(hop) per node equals the BFS level.
    ``prelude`` may add helper CTEs the edge relation references
    (e.g. ``"n AS (SELECT count(*) AS n FROM documents),"``)."""
    # wrap both relations: under WITH RECURSIVE, DuckDB gives ANY
    # union-bodied CTE recursive (no-dedup) semantics
    return f"""
WITH RECURSIVE
{prelude}
edges AS (SELECT DISTINCT * FROM ({edges_sql}) AS _e),
seeds AS (SELECT DISTINCT * FROM ({seeds_sql}) AS _s),
reach(node, hop) AS (
  SELECT node, 0 FROM seeds
  UNION
  SELECT e.dst, r.hop + 1
  FROM reach r JOIN edges e ON e.src = r.node
  WHERE r.hop < {max_hops}
)
SELECT node, min(hop)::INT AS hop FROM reach GROUP BY node
"""


# whole plain-text anchors: href (either quote style) + [^<]* inner text.
# Anchors whose text contains nested markup are skipped — the honest
# contract of a regex harvest (a DOM walk belongs in the Arrow extractor).
_ANCHOR_RE = r"""<a\s+[^>]*href=["'][^"']+["'][^>]*>[^<]*</a>"""
_ANCHOR_HREF_RE = r"""<a\s+[^>]*href=["']([^"']+)["']"""
_ANCHOR_TEXT_RE = r">([^<]*)</a>$"


def anchor_texts(
    pages: DataFrame, url: str = "url", html: str = "html"
) -> DataFrame:
    """(dst, term, tf) — aggregated inbound anchor text per canonical
    target url: the classic off-page relevance signal (a page is best
    described by the words OTHER pages link to it with — it ranks pages
    for terms they never contain). At index time these rows union into
    the posting build as extra (docid, term) occurrences, field-weighted
    à la BM25F.

    Same resolution/canonicalization chain as :func:`frontier_step`;
    anchor text goes through the engine tokenizer; one keyed shuffle
    aggregates (dst, term) across all pages — partial counts map-side,
    so a page linked by 10^9 others costs its true distinct-term width,
    not 10^9 rows at the reducer."""
    from search_engine_spark.operators.text_ops import tokens_col

    h = F.col(html)
    if dict(pages.dtypes)[html] == "binary":
        h = h.cast("string")
    anchors = pages.select(
        F.col(url).alias("src"),
        F.explode(
            F.regexp_extract_all(h, F.lit(_ANCHOR_RE), 0)
        ).alias("anchor"),
    )
    resolved = (
        anchors.withColumn(
            "href",
            F.regexp_replace(
                F.regexp_extract(F.col("anchor"), _ANCHOR_HREF_RE, 1),
                "#.*$",
                "",
            ),
        )
        .filter(F.col("href") != "")
        .select(
            canonical_url(
                resolve_href(F.col("src"), F.col("href"))
            ).alias("dst"),
            F.regexp_extract(F.col("anchor"), _ANCHOR_TEXT_RE, 1).alias("atext"),
        )
        .filter(F.col("dst").rlike(r"^https?://"))
    )
    return (
        resolved.select(
            "dst", F.explode(tokens_col(F.col("atext"))).alias("term")
        )
        .groupBy("dst", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


def anchor_bm25_topk(
    anchors: DataFrame, query: str, k: int = 20
) -> DataFrame:
    """(dst, score) — BM25 over the INBOUND-ANCHOR bag: each link target
    is scored as the pseudo-document of all words other pages link to it
    with. This ranks pages for query terms they may never contain — the
    off-page half of classic web ranking (the on-page half is
    ``text_ops.bm25_topk``; blend at score level like
    ``pagerank.rank_fusion``). Same constants (k1, b), idf form, 6-dp
    rounding, and (score desc, dst asc) tie-break as the body scorer.

    ``anchors`` is the (dst, term, tf) relation from :func:`anchor_texts`
    — already one row per (target, term), so document length is one keyed
    sum, per-term df is an exact row count, and scoring joins only the
    query terms' rows (a pushed-down IN filter) against a broadcast stats
    row + broadcast per-term dfs. Nothing corpus-sized shuffles twice."""
    from search_engine_spark.operators.text_ops import (
        SCORE_DECIMALS,
        bm25_idf_col,
        query_terms,
    )
    from search_engine_spark.oracle.bm25 import B, K1

    terms = query_terms(query)
    if not terms:
        return anchors.sparkSession.createDataFrame(
            [], "dst string, score double"
        )
    anchors = anchors.localCheckpoint(eager=False)
    dl = anchors.groupBy("dst").agg(F.sum("tf").alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    hits = anchors.filter(F.col("term").isin(terms))
    dfs = hits.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    denom_norm = F.lit(K1) * (
        F.lit(1.0 - B) + F.lit(B) * F.col("dl") / F.col("avgdl")
    )
    part = (
        bm25_idf_col(F.col("n_docs"), F.col("df"))
        * F.col("tf") * F.lit(K1 + 1.0) / (F.col("tf") + denom_norm)
    )
    return (
        hits.join(F.broadcast(dfs), "term")
        .join(dl, "dst")
        .crossJoin(F.broadcast(stats))
        .groupBy("dst")
        .agg(F.round(F.sum(part), SCORE_DECIMALS).alias("score"))
        .orderBy(F.col("score").desc(), F.col("dst").asc())
        .limit(k)
    )


def anchor_bm25_sql(pages_cte: str, query: str, k: int = 20) -> str:
    """DuckDB mirror of the full pages → anchors → anchor-BM25 chain."""
    from search_engine_spark.operators.text_ops import query_terms
    from search_engine_spark.oracle.bm25 import B, K1

    terms = query_terms(query)
    if not terms:  # all-stopword query: same empty shape as the operator
        return "SELECT '' AS dst, 0.0 AS score WHERE false"
    in_list = ", ".join(f"'{t}'" for t in terms)
    return f"""
WITH {_anchor_ctes(pages_cte)},
agg AS (SELECT dst, term, count(*)::BIGINT AS tf FROM atoks GROUP BY dst, term),
dl AS (SELECT dst, sum(tf)::DOUBLE AS dl FROM agg GROUP BY dst),
stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
dfs AS (
  SELECT term, count(*)::BIGINT AS df FROM agg
  WHERE term IN ({in_list}) GROUP BY term
)
SELECT a.dst,
       round(sum(
         ln((stats.n_docs - dfs.df + 0.5) / (dfs.df + 0.5) + 1.0)
         * a.tf * {K1 + 1.0}
         / (a.tf + {K1} * ({1.0 - B} + {B} * dl.dl / stats.avgdl))
       ), 6) AS score
FROM agg a
JOIN dfs USING (term) JOIN dl USING (dst), stats
GROUP BY a.dst
ORDER BY score DESC, a.dst ASC
LIMIT {k}
"""


def resolve_redirects(
    aliases: DataFrame,
    max_rounds: int = 16,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """(src, final, resolved) — terminal target of every redirect chain.

    ``aliases`` is a functional redirect map (one ``dst`` per ``src`` —
    a crawl's 301/302 table). The reference follows redirects one hop at
    a time by re-enqueuing (Crawler.java:534-540); at batch scale the
    operator you want is full chain resolution — rewrite every stored
    link to where it finally lands.

    POINTER DOUBLING, not hop-at-a-time: each round self-joins the map
    and jumps every pointer through the (already-compressed) pointer of
    its target, so the longest chain HALVES per round — chains up to
    2^max_rounds resolve in ``max_rounds`` keyed joins (a 10-hop chain
    costs 4 rounds, not 10). Rows still pointing at a redirecting url
    after the loop are cycles (or chains past the bound): returned with
    ``resolved = false`` and NULL ``final`` rather than a wrong target.
    Early-exits when every pointer is terminal."""
    m = aliases.select(
        F.col(src).alias("src"), F.col(dst).alias("cur")
    ).localCheckpoint()
    for _ in range(max_rounds):
        hop = m.select(F.col("src").alias("_k"), F.col("cur").alias("_nxt"))
        m = (
            m.join(hop, m["cur"] == hop["_k"], "left")
            .select("src", F.coalesce("_nxt", "cur").alias("cur"))
            .localCheckpoint()
        )
        pending = m.join(
            aliases.select(F.col(src).alias("cur")), "cur", "left_semi"
        )
        if not pending.take(1):
            break
    keys = aliases.select(F.col(src).alias("_k2")).distinct()
    return (
        m.join(keys, m["cur"] == keys["_k2"], "left")
        .select(
            "src",
            F.when(F.col("_k2").isNull(), F.col("cur")).alias("final"),
            F.col("_k2").isNull().alias("resolved"),
        )
    )


def resolve_redirects_sql(
    aliases_sql: str, depth_bound: int = 64
) -> str:
    """DuckDB recursive-CTE mirror of :func:`resolve_redirects` — walks
    chains hop-by-hop (UNION-distinct over (src, cur, depth) is cycle-
    safe); a src with no terminal within ``depth_bound`` (cycles) comes
    back unresolved. Equivalent to the pointer-doubling result whenever
    acyclic chains fit both bounds (chain ≤ min(2^max_rounds,
    depth_bound) — pick bounds accordingly)."""
    # under WITH RECURSIVE, DuckDB executes ANY union-bodied CTE with
    # recursive semantics (seed branch kept verbatim, no set-dedup) — wrap
    # the alias relation so its top level is a plain SELECT DISTINCT
    return f"""
WITH RECURSIVE
aliases AS (SELECT DISTINCT * FROM ({aliases_sql}) AS _a),
walk(src, cur, depth) AS (
  SELECT src, dst, 1 FROM aliases
  UNION
  SELECT w.src, a.dst, w.depth + 1
  FROM walk w JOIN aliases a ON a.src = w.cur
  WHERE w.depth < {depth_bound}
),
term AS (
  SELECT w.src, w.cur FROM walk w
  WHERE w.cur NOT IN (SELECT src FROM aliases)
)
SELECT a.src, t.cur AS final, t.cur IS NOT NULL AS resolved
FROM aliases a LEFT JOIN term t ON t.src = a.src
"""


# ---------------------------------------------------------------------------
# DuckDB SQL mirrors
# ---------------------------------------------------------------------------

def _strip_to_dir_sql(base: str) -> str:
    noq = f"regexp_replace({base}, '[?#].*$', '')"
    origin = f"regexp_extract({noq}, '{_PREFIX_RE}', 1)"
    path = f"regexp_replace({noq}, '{_PREFIX_RE}', '')"
    return (
        f"concat({origin}, CASE WHEN {path} = '' THEN '/' "
        f"ELSE regexp_replace({path}, '/[^/]*$', '/') END)"
    )


def _collapse_dotdot_sql(u: str) -> str:
    origin = f"regexp_extract({u}, '{_PREFIX_RE}', 1)"
    path = f"regexp_replace({u}, '{_PREFIX_RE}', '')"
    for _ in range(_COLLAPSE_PASSES):
        path = f"regexp_replace({path}, '{_DOTDOT_RE}', '/', 'g')"
    path = f"regexp_replace({path}, '^(/\\.\\.)+/', '/')"
    return f"concat({origin}, {path})"


def resolve_href_sql(base: str, href: str) -> str:
    origin = f"regexp_extract({base}, '{_PREFIX_RE}', 1)"
    scheme = f"regexp_extract({base}, '{_SCHEME_RE}', 1)"
    joined = f"concat({_strip_to_dir_sql(base)}, {href})"
    return f"""CASE
  WHEN regexp_matches({href}, '{_ABS_RE}') THEN {href}
  WHEN {href} LIKE '//%' THEN concat({scheme}, ':', {href})
  WHEN {href} LIKE '/%' THEN concat({origin}, {href})
  ELSE {_collapse_dotdot_sql(joined)}
END"""


# anchor-href harvest (group 1), single- or double-quoted; fragment
# stripped and fragment-only links dropped — mirror of
# ``pagerank.outlinks_col``. SQL single quotes doubled.
_HREF_RE_SQL = "'<a\\s+[^>]*href=[\"'']([^\"'']+)[\"'']'"


def _sql_lit(pattern: str) -> str:
    """Regex pattern → DuckDB string literal (single quotes doubled)."""
    return "'" + pattern.replace("'", "''") + "'"


def _anchor_ctes(pages_cte: str) -> str:
    """CTE chain ending in ``atoks(dst, term)`` — shared by the
    anchor_texts and anchor_bm25 mirrors."""
    resolved = resolve_href_sql("src", "href")
    return f"""{pages_cte},
anch AS (
  SELECT p.url AS src, t.anchor AS anchor
  FROM pages p,
       unnest(regexp_extract_all(p.html, {_sql_lit(_ANCHOR_RE)}, 0)) AS t(anchor)
),
hrefs AS (
  SELECT src,
         regexp_replace(
           regexp_extract(anchor, {_sql_lit(_ANCHOR_HREF_RE)}, 1),
           '#.*$', '') AS href,
         regexp_extract(anchor, {_sql_lit(_ANCHOR_TEXT_RE)}, 1) AS atext
  FROM anch
),
resolved AS (
  SELECT {canonical_url_sql(resolved)} AS dst, atext
  FROM hrefs WHERE href <> ''
),
atoks AS (
  SELECT dst, t.term FROM (
    SELECT dst,
           list_filter(string_split_regex(lower(atext), '[^a-z0-9]+'),
                       x -> x <> '') AS tt
    FROM resolved WHERE regexp_matches(dst, '^https?://')
  ), unnest(tt) AS t(term)
)"""


def anchor_texts_sql(pages_cte: str) -> str:
    """DuckDB mirror of :func:`anchor_texts` over a ``pages(url, html)``
    relation supplied by ``pages_cte``."""
    return (
        f"WITH {_anchor_ctes(pages_cte)}\n"
        "SELECT dst, term, count(*)::BIGINT AS tf "
        "FROM atoks GROUP BY dst, term"
    )


def frontier_sql(
    pages_cte: str,
    seen_sql: str | None = None,
    per_host_cap: int | None = None,
    robots_sql: str | None = None,
    blacklist: list[str] | None = None,
    robots_fmw_sql: str | None = None,
) -> str:
    """Full-pipeline DuckDB mirror of :func:`frontier_step` over a pages
    relation named ``pages`` supplied by ``pages_cte`` (a WITH body
    defining ``pages(url, html)``); ``seen_sql`` is a SELECT yielding one
    canonical-url column; ``robots_sql`` a SELECT yielding
    (host, disallow) prefix rules (applied before the cap, like the
    operator); ``robots_fmw_sql`` instead yields
    (host, rule, allow, rule_order) first-match-wins rules;
    ``blacklist`` the same glob patterns passed to
    :func:`frontier_step`. ``robots_sql`` and ``robots_fmw_sql`` are
    mutually exclusive — both branches define CTEs named robots/allowed,
    so combining them would emit duplicate CTE names (review finding);
    pick one robots semantics per wave, as :func:`frontier_step` does."""
    if robots_sql is not None and robots_fmw_sql is not None:
        raise ValueError(
            "frontier_sql: pass robots_sql OR robots_fmw_sql, not both "
            "(the branches share CTE names; pick one robots semantics)"
        )
    resolved = resolve_href_sql("src", "href")
    bl_pred = (
        f"\n    AND NOT regexp_matches(url, "
        f"{_sql_lit(blacklist_regex(blacklist))})"
        if blacklist else ""
    )
    cand = f"""
links AS (
  SELECT DISTINCT p.url AS src,
         regexp_replace(u.href, '#.*$', '') AS href
  FROM pages p, unnest(regexp_extract_all(p.html, {_HREF_RE_SQL}, 1)) AS u(href)
),
cand AS (
  SELECT DISTINCT {canonical_url_sql(resolved)} AS url
  FROM links
  WHERE href <> '' AND href <> src
),
kept AS (
  SELECT url FROM cand
  WHERE regexp_matches(url, '^https?://')
    AND NOT regexp_matches(lower(url), '{_EXT_BLACKLIST_RE}'){bl_pred}
)"""
    base = f"{pages_cte},{cand}"
    src = "kept"
    if seen_sql is not None:
        base += f",\nnew_urls AS (SELECT url FROM kept WHERE url NOT IN ({seen_sql}))"
        src = "new_urls"
    base += (
        f",\nhosted AS (SELECT {url_host_sql('url')} AS host, url FROM {src})"
    )
    src = "hosted"
    if robots_sql is not None:
        base += f""",
robots AS ({robots_sql}),
allowed AS (
  SELECT host, url FROM hosted WHERE url NOT IN (
    SELECT DISTINCT c.url FROM hosted c JOIN robots r ON c.host = r.host
    WHERE starts_with(regexp_replace(c.url, '{_PREFIX_RE}', ''), r.disallow)))"""
        src = "allowed"
    if robots_fmw_sql is not None:
        base += f""",
robots AS ({robots_fmw_sql}),
allowed AS (
  SELECT host, url FROM {src} WHERE url NOT IN (
    SELECT c.url FROM {src} c JOIN robots r ON c.host = r.host
    WHERE starts_with(regexp_replace(c.url, '{_PREFIX_RE}', ''), r.rule)
    GROUP BY c.url HAVING NOT arg_min(r.allow, r.rule_order)))"""
        src = "allowed"
    ranked = (
        f"SELECT host, url, row_number() OVER (PARTITION BY host"
        f" ORDER BY url ASC) AS _rn FROM {src}"
    )
    cap = f"WHERE _rn <= {per_host_cap}" if per_host_cap is not None else ""
    return f"WITH {base}\nSELECT host, url FROM ({ranked}) {cap}"


def politeness_schedule_sql(
    frontier_select: str,
    default_delay_s: float = 1.0,
    delays_sql: str | None = None,
) -> str:
    """DuckDB mirror of :func:`politeness_schedule` over a frontier
    relation given by ``frontier_select`` (any SELECT/WITH query yielding
    (host, url)); ``delays_sql`` optionally yields (host, delay_s)."""
    if delays_sql is not None:
        join = f"LEFT JOIN (SELECT host, delay_s FROM ({delays_sql})) d USING (host)"
        delay = f"COALESCE(d.delay_s, {float(default_delay_s)})"
    else:
        join = ""
        delay = str(float(default_delay_s))
    return f"""
WITH fr AS ({frontier_select}),
slotted AS (
  SELECT host, url,
         row_number() OVER (PARTITION BY host ORDER BY url ASC) - 1 AS slot
  FROM fr
)
SELECT slotted.host, slotted.url, slot::BIGINT AS slot,
       round(slot * ({delay})::DOUBLE, 6)::DOUBLE AS not_before_s
FROM slotted {join}
"""


# ---------------------------------------------------------------------------
# Sitemap parsing (sitemaps.org protocol) — the push-side frontier seed
# ---------------------------------------------------------------------------

_SITEMAP_LOC_RE = r"<loc>\s*([^<\s][^<]*?)\s*</loc>"
_SITEMAP_LASTMOD_RE = r"<lastmod>\s*([^<]*?)\s*</lastmod>"


def sitemap_entries(
    sitemaps: DataFrame, url: str = "url", xml: str = "xml"
) -> DataFrame:
    """(src, kind, loc, lastmod) — parse sitemaps.org documents: the
    crawl-seed channel the reference's pull-only crawler
    (jobs/Crawler.java) lacks; at web scale most fresh URLs arrive via
    sitemaps, not link discovery.

    ``kind`` is ``'url'`` for a ``<urlset>`` page entry and ``'sitemap'``
    for a ``<sitemapindex>`` child-sitemap entry (the caller recurses on
    those — fetch is out of engine scope, same contract as the frontier's
    network side). ``loc`` is whitespace-trimmed per the protocol;
    ``lastmod`` is '' when absent (feeds :func:`crawl_delta` /
    recrawl-scheduling when present).

    JVM-regex split + per-chunk extracts over arrays — one narrow
    projection, no Python, embarrassingly parallel. Malformed chunks
    (no <loc>) drop out. Compose: ``sitemap_entries >> canonicalize >>
    seen anti-join >> politeness cap`` is the push-side twin of
    :func:`frontier_step`."""
    x = F.col(xml)
    kind = F.when(x.contains("<sitemapindex"), F.lit("sitemap")).when(
        x.contains("<urlset"), F.lit("url")
    )
    chunks = F.split(x, "</url>|</sitemap>")
    entries = F.filter(
        F.transform(
            chunks,
            lambda c: F.struct(
                F.regexp_extract(c, _SITEMAP_LOC_RE, 1).alias("loc"),
                F.regexp_extract(c, _SITEMAP_LASTMOD_RE, 1).alias(
                    "lastmod"
                ),
            ),
        ),
        lambda e: e["loc"] != "",
    )
    return (
        sitemaps.select(
            F.col(url).alias("src"),
            kind.alias("kind"),
            F.explode(entries).alias("e"),
        )
        .filter(F.col("kind").isNotNull())
        .select("src", "kind", F.col("e.loc").alias("loc"),
                F.col("e.lastmod").alias("lastmod"))
    )


def sitemap_entries_sql(sitemaps_cte: str) -> str:
    """DuckDB mirror of :func:`sitemap_entries` over a CTE body yielding
    (url, xml)."""
    return f"""
WITH sm AS ({sitemaps_cte}),
chunks AS (
  SELECT url AS src,
         CASE WHEN contains(xml, '<sitemapindex') THEN 'sitemap'
              WHEN contains(xml, '<urlset') THEN 'url' END AS kind,
         c.chunk
  FROM sm, unnest(string_split_regex(xml, '</url>|</sitemap>'))
       AS c(chunk)
)
SELECT src, kind,
       regexp_extract(chunk, '{_SITEMAP_LOC_RE}', 1) AS loc,
       regexp_extract(chunk, '{_SITEMAP_LASTMOD_RE}', 1) AS lastmod
FROM chunks
WHERE kind IS NOT NULL
  AND regexp_extract(chunk, '{_SITEMAP_LOC_RE}', 1) <> ''
"""
