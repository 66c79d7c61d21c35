"""Count-Min Sketch term statistics (Cormode & Muthukrishnan 2005).

The streaming-sketch family the engine's exact aggregations replace at
query time but cannot replace at INGEST time: a 100-TB firehose cannot
afford a full term aggregation per monitoring tick, while a d x w counter
grid (here 4 x 256 by default) is a fixed-size mergeable state whose
per-row cost is d hash-bucket increments. This module builds the sketch
RELATIONALLY — counters are rows, not driver arrays — so the same code is
the batch mirror of the streaming update and every stage stays a keyed
aggregation with map-side combine.

Hashing uses the Kirsch-Mitzenmacher two-hash family
(functions/hashing.py): d bucket functions ``(h1 + j*h2) % width`` from
ONE md5 digest per term, deterministic and identical in Spark, DuckDB,
and Python — which is what makes even the sketch ESTIMATES
oracle-checkable, not just the exact counts.

CMS guarantees: estimate >= exact always (counters only over-count on
collisions); with width w and depth d, the over-count exceeds
2N/w with probability at most 2^-d.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, functions as F

from search_engine_spark.functions.hashing import (
    md5_two_hash_cols,
    md5_two_hash_sql,
)
from search_engine_spark.operators.text_ops import tokens_col

CMS_DEPTH = 4
CMS_WIDTH = 256


def _probes(
    df: DataFrame, text: str, depth: int, width: int
) -> DataFrame:
    """(term, exact, row, bucket) — each term's corpus-wide token count,
    once per counter it hashes into: the one aggregation both the
    counter grid and the heavy-hitter estimates derive from."""
    h0, h1 = md5_two_hash_cols(F.col("term"), 2)[:2]
    tf = (
        df.select(F.explode(tokens_col(text)).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("exact"))
        .select("term", "exact", h0.alias("_h1"), (h1 - h0).alias("_h2"))
    )
    return tf.select(
        "term", "exact", "_h1", "_h2",
        F.explode(F.sequence(F.lit(0), F.lit(depth - 1))).alias("row"),
    ).select(
        "term", "exact", "row",
        ((F.col("_h1") + F.col("row") * F.col("_h2")) % width).alias(
            "bucket"
        ),
    )


def _grid(probes: DataFrame) -> DataFrame:
    return probes.groupBy("row", "bucket").agg(F.sum("exact").alias("c"))


def cms_counters(
    df: DataFrame,
    docid: str = "doc_id",
    text: str = "text",
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
) -> DataFrame:
    """(row, bucket, c) — the d x w counter grid as rows. Built from the
    per-term counts (one keyed agg with map-side combine), then d
    bucket-keyed partial sums; the grid is a mergeable monoid, so
    incremental ingest is a union + re-agg of grids."""
    return _grid(_probes(df, text, depth, width))


def cms_heavy_hitters(
    df: DataFrame,
    k: int = 25,
    docid: str = "doc_id",
    text: str = "text",
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
) -> DataFrame:
    """(term, est, exact, overcount) — top-``k`` terms by CMS estimate
    (min over the d counters each term hashes into), with the exact count
    alongside: ``overcount = est - exact >= 0`` ALWAYS (a negative value
    would mean a broken sketch — pytest-pinned). Ties broken by term so
    the row set is deterministic.

    The per-term counts are aggregated ONCE: the probes materialize on
    first use (lazy local checkpoint) and both the counter grid and the
    probe side read them. The grid is d*w rows, broadcast to the probe
    side regardless of corpus size."""
    probes = _probes(df, text, depth, width).localCheckpoint(eager=False)
    est = (
        probes.join(F.broadcast(_grid(probes)), ["row", "bucket"])
        .groupBy("term", "exact")
        .agg(F.min("c").alias("est"))
    )
    return (
        est.select(
            "term", "est", "exact", (F.col("est") - F.col("exact")).alias(
                "overcount"
            )
        )
        .orderBy(F.col("est").desc(), F.col("term").asc())
        .limit(k)
    )


def cms_heavy_hitters_sql(
    k: int = 25,
    table: str = "documents",
    docid: str = "doc_id",
    text: str = "text",
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
) -> str:
    """DuckDB mirror of :func:`cms_heavy_hitters`."""
    h1, h2 = md5_two_hash_sql("term")
    return f"""
WITH toks AS (
  SELECT list_filter(string_split_regex(lower({text}), '[^a-z0-9]+'),
                     x -> x <> '') AS toks
  FROM {table}
),
tf AS (
  SELECT t.term, count(*) AS c, {h1} AS h1v, {h2} AS h2v
  FROM toks, unnest(toks.toks) AS t(term)
  GROUP BY t.term
),
probes AS (
  SELECT term, c AS exact, g.j AS row,
         (h1v + g.j * h2v) % {width} AS bucket
  FROM tf, unnest(generate_series(0, {depth - 1})) AS g(j)
),
grid AS (
  SELECT row, bucket, sum(exact)::BIGINT AS c
  FROM probes GROUP BY row, bucket
),
est AS (
  SELECT p.term, p.exact, min(grid.c) AS est
  FROM probes p JOIN grid USING (row, bucket)
  GROUP BY p.term, p.exact
)
SELECT term, est::BIGINT AS est, exact::BIGINT AS exact,
       (est - exact)::BIGINT AS overcount
FROM est
ORDER BY est DESC, term ASC LIMIT {k}
"""


# ---------------------------------------------------------------------------
# Bloom filter as a relational bit-position set
# ---------------------------------------------------------------------------

BLOOM_BITS = 4096
BLOOM_HASHES = 4


def bloom_build(
    keys: DataFrame,
    key: str = "term",
    bits: int = BLOOM_BITS,
    num_hashes: int = BLOOM_HASHES,
) -> DataFrame:
    """(pos) — the set bit positions of a Bloom filter over ``keys``
    (Bloom 1970), as rows: the relational form is mergeable (union +
    distinct), broadcastable (<= ``bits`` rows regardless of key count),
    and — because positions come from the md5 two-hash family — exactly
    reproducible in any engine. The classic join-pruning side structure:
    broadcast the positions, semi-join probes before an expensive join."""
    h0, h1 = md5_two_hash_cols(F.col("_k"), 2)[:2]
    base = keys.select(F.col(key).alias("_k")).distinct().select(
        "_k", h0.alias("_h1"), (h1 - h0).alias("_h2")
    )
    return (
        base.select(
            F.explode(
                F.sequence(F.lit(0), F.lit(num_hashes - 1))
            ).alias("j"),
            "_h1", "_h2",
        )
        .select(((F.col("_h1") + F.col("j") * F.col("_h2")) % bits)
                .alias("pos"))
        .distinct()
    )


def bloom_probe(
    probes: DataFrame,
    filter_bits: DataFrame,
    truth: DataFrame | None = None,
    key: str = "term",
    bits: int = BLOOM_BITS,
    num_hashes: int = BLOOM_HASHES,
) -> DataFrame:
    """(term, maybe_present[, actually_present, false_positive]) — probe
    membership: a key "maybe" belongs iff ALL its ``num_hashes`` bit
    positions are set (no false negatives, by construction). With
    ``truth`` (the original key relation) the output also carries the
    ground truth and the false-positive flag — the accounting that sizes
    bits/hashes for a target FP rate.

    Shape: the filter is broadcast (<= bits rows); each probe explodes to
    ``num_hashes`` membership lookups and re-aggregates — no shuffle of
    the probe side beyond its own key agg."""
    fb = F.broadcast(filter_bits)
    h0, h1 = md5_two_hash_cols(F.col("term"), 2)[:2]
    pr = probes.select(F.col(key).alias("term")).distinct().select(
        "term", h0.alias("_h1"), (h1 - h0).alias("_h2")
    )
    hit_counts = (
        pr.select(
            "term",
            F.explode(
                F.sequence(F.lit(0), F.lit(num_hashes - 1))
            ).alias("j"),
            "_h1", "_h2",
        )
        .select(
            "term",
            ((F.col("_h1") + F.col("j") * F.col("_h2")) % bits).alias("pos"),
        )
        .join(fb, "pos", "left_semi")
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("_hits"))
    )
    out = (
        pr.select("term")
        .join(hit_counts, "term", "left")
        .select(
            "term",
            (F.coalesce("_hits", F.lit(0)) == num_hashes).alias(
                "maybe_present"
            ),
        )
    )
    if truth is None:
        return out
    t = truth.select(F.col(key).alias("term")).distinct().withColumn(
        "actually_present", F.lit(True)
    )
    return out.join(t, "term", "left").select(
        "term",
        "maybe_present",
        F.coalesce("actually_present", F.lit(False)).alias(
            "actually_present"
        ),
        (
            F.col("maybe_present")
            & ~F.coalesce("actually_present", F.lit(False))
        ).alias("false_positive"),
    )


def bloom_probe_sql(
    keys_sql: str,
    probes_sql: str,
    bits: int = BLOOM_BITS,
    num_hashes: int = BLOOM_HASHES,
) -> str:
    """DuckDB mirror of bloom_build + bloom_probe(truth=keys) over CTE
    bodies each yielding a ``term`` column."""
    h1, h2 = md5_two_hash_sql("term")
    return f"""
WITH keys AS MATERIALIZED (SELECT DISTINCT term FROM ({keys_sql})),
kb AS (SELECT term, {h1} AS h1v, {h2} AS h2v FROM keys),
fbits AS MATERIALIZED (
  SELECT DISTINCT (h1v + g.j * h2v) % {bits} AS pos
  FROM kb, unnest(generate_series(0, {num_hashes - 1})) AS g(j)
),
probes AS MATERIALIZED (SELECT DISTINCT term FROM ({probes_sql})),
pb AS (SELECT term, {h1} AS h1v, {h2} AS h2v FROM probes),
hits AS (
  SELECT pb.term, count(*) AS n_hits
  FROM pb, unnest(generate_series(0, {num_hashes - 1})) AS g(j)
  WHERE (pb.h1v + g.j * pb.h2v) % {bits} IN (SELECT pos FROM fbits)
  GROUP BY pb.term
)
SELECT p.term,
       coalesce(h.n_hits, 0) = {num_hashes} AS maybe_present,
       (k.term IS NOT NULL) AS actually_present,
       (coalesce(h.n_hits, 0) = {num_hashes} AND k.term IS NULL)
         AS false_positive
FROM probes p
LEFT JOIN hits h ON h.term = p.term
LEFT JOIN keys k ON k.term = p.term
"""


# ---------------------------------------------------------------------------
# Fixed-grid histogram quantile sketch
# ---------------------------------------------------------------------------


def hist_counters(
    df: DataFrame,
    col: str,
    lo: float,
    hi: float,
    buckets: int = 128,
) -> DataFrame:
    """(bucket, c) — fixed-grid histogram over ``[lo, hi)``: the third
    mergeable sketch beside the CMS grid and the Bloom bit set (union +
    re-agg merges shards/ticks). Values are clamped into the edge
    buckets, so the sketch never drops rows; bucket assignment is integer
    arithmetic over ``(v - lo) * buckets / (hi - lo)`` with both engines
    flooring the same double."""
    v = F.col(col).cast("double")
    b = F.floor(
        (v - F.lit(float(lo)))
        * F.lit(float(buckets))
        / F.lit(float(hi - lo))
    ).cast("long")
    b = F.least(F.greatest(b, F.lit(0)), F.lit(buckets - 1))
    return (
        df.select(b.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("c"))
    )


def _check_quantiles(qs: list[int]) -> None:
    if not qs or any(int(q) != q or not 1 <= q <= 100 for q in qs):
        raise ValueError(
            f"quantiles must be a non-empty list of whole percents in "
            f"1..100, got {qs!r}"
        )


def hist_quantiles(
    df: DataFrame,
    col: str,
    qs: list[int],
    lo: float,
    hi: float,
    buckets: int = 128,
) -> DataFrame:
    """(q_pct, est, exact, abs_err) — quantile estimates from the
    histogram sketch next to the exact rank-based answer: for quantile
    q, the estimate is the UPPER EDGE of the first bucket whose
    cumulative count reaches ``ceil(q/100 * n)``, and ``exact`` is the
    value at that rank in sort order (ties broken by value only — rank
    over equal values picks the same value either way). ``abs_err`` is
    bounded by one grid cell when the sketch covers the data range —
    the accuracy contract a monitoring tick relies on.

    ``qs`` must be whole percents in 1..100 and ``df`` non-empty, else
    ``ValueError``: a target rank of 0 (``q_pct=0`` or no rows) is held
    by no row, and its result row would silently vanish in the join.

    Shape: the sketch is a <= ``buckets``-row agg (mergeable, broadcast
    for the cum pass); exact goes through one sort-based window — the
    expensive verifier the sketch exists to avoid at ingest time."""
    _check_quantiles(qs)
    n = df.count()
    if n == 0:
        raise ValueError("hist_quantiles over an empty input: no rank exists")
    hist = hist_counters(df, col, lo, hi, buckets)
    from pyspark.sql import Window

    wcum = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = hist.select(
        "bucket", F.sum("c").over(wcum).alias("cum")
    )  # <= buckets rows: the single-partition window is bounded, not a
    # data-sized sort
    targets = df.sparkSession.createDataFrame(
        [(int(q), math.ceil(int(q) * n / 100.0)) for q in qs],
        "q_pct long, rank long",
    )
    cell = (hi - lo) / buckets
    est = (
        targets.join(
            F.broadcast(cum), F.col("cum") >= F.col("rank"), "left"
        )
        .groupBy("q_pct", "rank")
        .agg(F.min("bucket").alias("b"))
        .select(
            "q_pct", "rank",
            (F.lit(float(lo)) + (F.col("b") + 1) * F.lit(float(cell)))
            .alias("est"),
        )
    )
    ranked = df.select(
        F.col(col).cast("double").alias("_v")
    ).select("_v", F.row_number().over(Window.orderBy("_v")).alias("_r"))
    exact = est.join(
        ranked, est["rank"] == ranked["_r"]
    ).select(
        "q_pct", "est", F.col("_v").alias("exact"),
        F.abs(F.col("est") - F.col("_v")).alias("abs_err"),
    )
    return exact


def hist_quantiles_sql(
    col: str,
    qs: list[int],
    lo: float,
    hi: float,
    buckets: int = 128,
    table: str = "documents",
) -> str:
    """DuckDB mirror of :func:`hist_quantiles` — same literal injection
    (the Python-computed cell width appears verbatim in both engines) and
    the same operation order in the bucket expression. Rejects the same
    ``qs`` as :func:`hist_quantiles`; an empty table yields no rows here
    (the SQL text cannot check it), where the Spark path raises."""
    _check_quantiles(qs)
    cell = (hi - lo) / buckets
    vals = ", ".join(f"({int(q)})" for q in qs)
    bucket_expr = (
        f"least(greatest(floor((({col})::DOUBLE - {float(lo)!r}) * "
        f"{float(buckets)!r} / {float(hi - lo)!r})::BIGINT, 0), "
        f"{buckets - 1})"
    )
    return f"""
WITH n AS (SELECT count(*) AS n FROM {table}),
hist AS (
  SELECT {bucket_expr} AS bucket, count(*) AS c FROM {table} GROUP BY 1
),
cum AS (SELECT bucket, sum(c) OVER (ORDER BY bucket) AS cum FROM hist),
targets AS (
  SELECT q.q_pct::BIGINT AS q_pct,
         ceil(q.q_pct * n.n / 100.0)::BIGINT AS rank
  FROM (VALUES {vals}) AS q(q_pct), n
),
est AS (
  SELECT t.q_pct, t.rank, min(cum.bucket) AS b
  FROM targets t JOIN cum ON cum.cum >= t.rank
  GROUP BY t.q_pct, t.rank
),
ranked AS (
  SELECT ({col})::DOUBLE AS v,
         row_number() OVER (ORDER BY ({col})::DOUBLE) AS r
  FROM {table}
)
SELECT e.q_pct,
       ({float(lo)!r}::DOUBLE + (e.b + 1) * {cell!r}::DOUBLE) AS est,
       rk.v AS exact,
       abs(({float(lo)!r}::DOUBLE + (e.b + 1) * {cell!r}::DOUBLE) - rk.v)
         AS abs_err
FROM est e JOIN ranked rk ON rk.r = e.rank
"""
