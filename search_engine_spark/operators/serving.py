"""Result-serving operators: query-aware snippets, recency-fused ranking,
and per-host result collapsing.

The reference frontend assembles each hit as (title, description, url)
where the "description" is a blind page prefix — frontend/Master.java:74
stores the first quarter of every page at startup and Master.java:215-239
returns `page.substring(0, 200)`-style prefixes per hit. These operators
are the query-aware upgrades a production serving tier needs:

* :func:`snippets` — per-hit extract window centred on the FIRST query-term
  occurrence, query terms highlighted with ``<b>``/``</b>``. Deterministic
  (token window, fixed width), built-ins only, exactly SQL-mirrorable.
* :func:`recency_rerank` — freshness fusion: BM25 score divided by a
  hyperbolic age decay ``1 + age_days/scale_days`` (the warc_ts column of
  the input contract is the age source). Applied to a top-``pool``
  candidate set, never the full corpus.
* :func:`host_collapse` — site collapsing: keep only the best-scoring hit
  per host before the final top-k, so one domain cannot monopolise the
  page (the classic web-search diversity rule).

All three are re-ranking layers over an already-pruned candidate pool
(top-N from the index), so at 100 TB their input is O(pool), not O(corpus):
the expensive part stays in the top-k/index tier, and these run as a
broadcast-sized tail on the driver-adjacent stage. No Python UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from search_engine_spark.operators.text_ops import (
    SCORE_DECIMALS,
    query_terms,
    tokens_col,
)
from search_engine_spark.session import widen_small_input

# Sentinel "not found" position — larger than any real document length.
NOT_FOUND = 1 << 30


def _first_hit_pos(toks: Column, terms: list[str]) -> Column:
    """1-based position of the first occurrence of ANY query term, or
    NOT_FOUND. Spark's array_position returns 0 for "absent"; DuckDB's
    list_position returns NULL — both normalise to the sentinel so the
    least() is engine-portable (Spark's least ignores nulls, DuckDB's
    semantics differ version-to-version; a sentinel sidesteps both)."""
    pos = [
        F.coalesce(
            F.nullif(F.array_position(toks, t), F.lit(0)),
            F.lit(NOT_FOUND).cast("long"),
        )
        for t in terms
    ]
    return pos[0] if len(pos) == 1 else F.least(*pos)


def snippets(
    docs: DataFrame,
    query: str,
    before: int = 3,
    width: int = 12,
    docid: str = "doc_id",
    text: str = "text",
) -> DataFrame:
    """(docid, snippet) for every document containing ≥1 query term.

    Snippet = the ``width``-token window starting ``before`` tokens before
    the first query-term occurrence, each query term wrapped in
    ``<b>…</b>``, joined by single spaces. Whole-stage codegen end to end;
    join it to a top-k result to cap output at serving size.
    """
    terms = query_terms(query)
    if not terms:
        return docs.sparkSession.createDataFrame(
            [], "docid long, snippet string"
        )
    d = widen_small_input(docs, light=True).select(
        F.col(docid).alias("docid"), tokens_col(text).alias("_toks")
    )
    p = _first_hit_pos(F.col("_toks"), terms)
    start = F.greatest(F.lit(1).cast("long"), p - F.lit(before))
    window = F.slice(F.col("_toks"), start, width)
    marked = F.transform(
        window,
        lambda x: F.when(
            x.isin(terms), F.concat(F.lit("<b>"), x, F.lit("</b>"))
        ).otherwise(x),
    )
    return (
        d.select("docid", p.alias("_p"), F.array_join(marked, " ").alias("snippet"))
        .filter(F.col("_p") < NOT_FOUND)
        .select("docid", "snippet")
    )


def snippets_sql(
    query: str,
    before: int = 3,
    width: int = 12,
    table: str = "documents",
    docid: str = "doc_id",
    text: str = "text",
) -> str:
    """DuckDB mirror of :func:`snippets` — same window, same sentinel."""
    terms = query_terms(query)
    # nullif-guarded: DuckDB's list_position returns 0 for "absent"
    # (like Spark's array_position), NOT NULL — without the nullif an
    # absent term would anchor every snippet at position 0 (caught by
    # tests/test_serving.py crafted parity).
    least_args = ", ".join(
        f"coalesce(nullif(list_position(toks, '{t}'), 0), {NOT_FOUND})"
        for t in terms
    )
    p = least_args if len(terms) == 1 else f"least({least_args})"
    in_list = ", ".join(f"'{t}'" for t in terms)
    return f"""
WITH stoks AS (
  SELECT {docid} AS docid,
         list_filter(string_split_regex(lower({text}), '[^a-z0-9]+'),
                     x -> x <> '') AS toks
  FROM {table}
),
hit AS (SELECT docid, toks, {p} AS p FROM stoks)
SELECT docid,
       array_to_string(
         list_transform(
           toks[greatest(1, p - {before}) :
                greatest(1, p - {before}) + {width} - 1],
           x -> CASE WHEN x IN ({in_list})
                     THEN '<b>' || x || '</b>' ELSE x END),
         ' ') AS snippet
FROM hit WHERE p < {NOT_FOUND}
"""


def recency_rerank(
    hits: DataFrame,
    ages: DataFrame,
    k: int = 10,
    scale_days: float = 30.0,
    decimals: int = SCORE_DECIMALS,
) -> DataFrame:
    """Freshness-fused top-k: ``fscore = score / (1 + age_days/scale_days)``.

    ``hits``   — (docid, score): a top-``pool`` candidate set (already
    rounded to ``decimals``; rounding first keeps the fusion input
    identical across engines).
    ``ages``   — (docid, age_secs): document age in seconds (from the
    ``warc_ts`` column of the page contract: ``now - warc_ts``).

    The join is pool-sized × corpus-sided — Spark broadcasts the hits side
    automatically under AQE; the division order (``/86400.0`` then
    ``/scale_days``) is pinned so the doubles are bit-identical to the SQL
    mirror before the final rounding. Output (docid, score, fscore),
    ordered (fscore desc, docid asc), limited to k.
    """
    decay = (
        F.lit(1.0)
        + F.col("age_secs") / F.lit(86400.0) / F.lit(float(scale_days))
    )
    fused = hits.join(ages, "docid").select(
        "docid",
        "score",
        F.round(F.col("score") / decay, decimals).alias("fscore"),
    )
    return fused.orderBy(
        F.col("fscore").desc(), F.col("docid").asc()
    ).limit(k)


def recency_rerank_sql(
    hits_sql: str,
    ages_sql: str,
    k: int = 10,
    scale_days: float = 30.0,
    decimals: int = SCORE_DECIMALS,
) -> str:
    """DuckDB mirror of :func:`recency_rerank`; ``hits_sql``/``ages_sql``
    are complete SELECTs yielding (docid, score) / (docid, age_secs)."""
    return f"""
WITH rhits AS ({hits_sql}),
rages AS ({ages_sql})
SELECT rhits.docid, score,
       round(score / (1.0 + age_secs / 86400.0 / {float(scale_days)}),
             {decimals}) AS fscore
FROM rhits JOIN rages ON rhits.docid = rages.docid
ORDER BY fscore DESC, rhits.docid ASC
LIMIT {k}
"""


def host_collapse(
    hits: DataFrame,
    k: int = 10,
    host: str = "host",
    docid: str = "docid",
    score: str = "score",
) -> DataFrame:
    """Site-collapsed top-k: best hit per host, then global top-k.

    ``hits`` — (docid, host, score) candidate pool. One window pass
    (partition by host, order score desc / docid asc) keeps rank-1 per
    host; the final ordering is the usual (score desc, docid asc). The
    input is a top-``pool`` result set, so the window runs on O(pool)
    rows regardless of corpus size.
    """
    w = Window.partitionBy(host).orderBy(
        F.col(score).desc(), F.col(docid).asc()
    )
    return (
        hits.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
        .orderBy(F.col(score).desc(), F.col(docid).asc())
        .limit(k)
    )


def host_collapse_sql(
    hits_sql: str, k: int = 10, host: str = "host"
) -> str:
    """DuckDB mirror of :func:`host_collapse`; ``hits_sql`` yields
    (docid, host, score)."""
    return f"""
WITH pool AS ({hits_sql}),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY {host} ORDER BY score DESC, docid ASC) AS rn
  FROM pool
)
SELECT docid, {host}, score FROM ranked WHERE rn = 1
ORDER BY score DESC, docid ASC
LIMIT {k}
"""


def facet_counts(
    hits: DataFrame, facets: list[str], k: int = 10
) -> DataFrame:
    """(facet, value, n) — top-k attribute counts per facet column over a
    candidate pool (the filter sidebar of every search UI). One narrow
    pass per facet over the pool (UNION of small hash aggs), then one
    window for the per-facet top-k; at any corpus scale the input is the
    pool, so this is broadcast-sized work."""
    parts = [
        hits.groupBy(F.col(c).cast("string").alias("value"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit(c).alias("facet"), "value", "n")
        for c in facets
    ]
    pool = parts[0]
    for p in parts[1:]:
        pool = pool.unionByName(p)
    w = Window.partitionBy("facet").orderBy(
        F.col("n").desc(), F.col("value").asc()
    )
    return (
        pool.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
        .orderBy("facet", F.col("n").desc(), F.col("value").asc())
    )


def facet_counts_sql(hits_sql: str, facets: list[str], k: int = 10) -> str:
    """DuckDB mirror of :func:`facet_counts`."""
    unions = " UNION ALL ".join(
        f"SELECT '{c}' AS facet, {c}::VARCHAR AS value, count(*) AS n "
        f"FROM pool GROUP BY {c}"
        for c in facets
    )
    return f"""
WITH pool AS ({hits_sql}),
fc AS ({unions}),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY facet ORDER BY n DESC, value ASC) AS rn
  FROM fc
)
SELECT facet, value, n FROM ranked WHERE rn <= {k}
ORDER BY facet, n DESC, value ASC
"""


def page_after(
    hits: DataFrame,
    after_score: float,
    after_docid,
    k: int = 10,
    docid: str = "docid",
    score: str = "score",
) -> DataFrame:
    """Keyset pagination: the next ``k`` results strictly after the
    (score, docid) cursor in the canonical (score desc, docid asc) order.

    The stateless deep-paging contract — unlike OFFSET, cost does not grow
    with page depth: the cursor predicate prunes before the top-k, so page
    50 costs the same as page 1 (with a score-sorted index layout it also
    prunes at the scan)."""
    s, d = F.col(score), F.col(docid)
    nxt = (s < F.lit(after_score)) | (
        (s == F.lit(after_score)) & (d > F.lit(after_docid))
    )
    return (
        hits.filter(nxt)
        .orderBy(s.desc(), d.asc())
        .limit(k)
    )


# ---------------------------------------------------------------------------
# Proximity-boosted ranking (2-term min-span bonus)
# ---------------------------------------------------------------------------

def proximity_rerank(
    docs: DataFrame,
    hits: DataFrame,
    term_a: str,
    term_b: str,
    k: int = 10,
    docid: str = "doc_id",
    text: str = "text",
    decimals: int = SCORE_DECIMALS,
) -> DataFrame:
    """Proximity-fused top-k: ``pscore = score * (1 + 1/(1 + minspan))``
    where ``minspan`` is the smallest token distance between any
    occurrence of ``term_a`` and any occurrence of ``term_b`` in the
    document (the classic term-proximity ranking signal; docs where the
    query terms are adjacent get up to a 1.5× boost, docs where they are
    far apart asymptote to the plain BM25 order).

    Shape: the position explode is restricted to the two query terms AND
    semi-joined to the ``hits`` pool before the pair join, so the
    quadratic min-span step runs on O(pool × per-doc term occurrences)
    rows — never the corpus. Docs containing only one of the terms keep
    their BM25 score (minspan = ∞ ⇒ bonus → identity via left join +
    coalesce). Output (docid, score, minspan, pscore) ordered
    (pscore desc, docid asc) limited to k.
    """
    pool = hits.select("docid", "score")
    pos = (
        widen_small_input(docs, light=True)
        .select(
            F.col(docid).alias("docid"),
            F.posexplode(tokens_col(text)).alias("pos0", "term"),
        )
        .filter(F.col("term").isin([term_a, term_b]))
        .join(pool.select("docid"), "docid")
    )
    pa = pos.filter(F.col("term") == term_a).select(
        "docid", F.col("pos0").alias("pa")
    )
    pb = pos.filter(F.col("term") == term_b).select(
        "docid", F.col("pos0").alias("pb")
    )
    spans = (
        pa.join(pb, "docid")
        .groupBy("docid")
        .agg(F.min(F.abs(F.col("pa") - F.col("pb"))).alias("minspan"))
    )
    fused = pool.join(spans, "docid", "left").select(
        "docid",
        "score",
        F.coalesce(F.col("minspan"), F.lit(None).cast("long")).alias(
            "minspan"
        ),
        F.round(
            F.col("score")
            * (
                F.lit(1.0)
                + F.when(
                    F.col("minspan").isNotNull(),
                    F.lit(1.0) / (F.lit(1.0) + F.col("minspan")),
                ).otherwise(F.lit(0.0))
            ),
            decimals,
        ).alias("pscore"),
    )
    return fused.orderBy(F.col("pscore").desc(), F.col("docid").asc()).limit(k)


def proximity_rerank_sql(
    hits_sql: str,
    term_a: str,
    term_b: str,
    k: int = 10,
    table: str = "documents",
    docid: str = "doc_id",
    text: str = "text",
    decimals: int = SCORE_DECIMALS,
) -> str:
    """DuckDB mirror of :func:`proximity_rerank` (positions are 0-based in
    both engines: Spark posexplode and the generate_series offset here)."""
    return f"""
WITH pool AS ({hits_sql}),
ptoks AS (
  SELECT {docid} AS docid,
         list_filter(string_split_regex(lower({text}), '[^a-z0-9]+'),
                     x -> x <> '') AS toks
  FROM {table}
),
pos AS (
  SELECT docid, g.i - 1 AS pos0, list_extract(toks, g.i) AS term
  FROM ptoks JOIN pool USING (docid),
       unnest(generate_series(1, len(toks))) AS g(i)
  WHERE list_extract(toks, g.i) IN ('{term_a}', '{term_b}')
),
spans AS (
  SELECT a.docid, min(abs(a.pos0 - b.pos0)) AS minspan
  FROM (SELECT docid, pos0 FROM pos WHERE term = '{term_a}') a
  JOIN (SELECT docid, pos0 FROM pos WHERE term = '{term_b}') b
    ON a.docid = b.docid
  GROUP BY a.docid
)
SELECT pool.docid, score, spans.minspan,
       round(score * (1.0 + CASE WHEN spans.minspan IS NOT NULL
                                 THEN 1.0 / (1.0 + spans.minspan)
                                 ELSE 0.0 END),
             {decimals}) AS pscore
FROM pool LEFT JOIN spans ON pool.docid = spans.docid
ORDER BY pscore DESC, pool.docid ASC
LIMIT {k}
"""
