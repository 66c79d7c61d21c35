"""Query-side engine: BM25 top-k over the block index.

Two execution paths, both exact (no posting-list sampling — the reference
randomly sampled 2000 docs per term, frontend/Master.java:356-391; the
north star replaces that with exact block-max pruning):

* ``topk_distributed`` — a declarative Spark plan: partition-pruned scan of
  the postings table for the query's terms, block decode inside
  ``mapInPandas`` (Arrow-batched), per-(doc,term) BM25 partials, then
  ``groupBy(docid).sum → ORDER BY score DESC LIMIT k``
  (TakeOrderedAndProject). Scales with the cluster; used for batch query
  workloads (thousands of queries per job).

* ``topk_wand`` — driver-side exact top-k for interactive queries over
  the fetched posting blocks: block-max pruning (Ding & Suel, SIGIR 2011)
  applied block-at-a-time with numpy. Blocks decode in descending-bound
  batches, and no block decodes whose bound cannot beat the current
  k-th score. Verified rank-identical to the exhaustive oracle in tests.

Phrase search (reference jobs/IndexerProjectPhraseSearch.java:328-475)
intersects posting lists in df-ascending order and verifies adjacency with
the stored positions via a two-pointer offset merge.
"""

from __future__ import annotations

import bisect
import json
import os
from collections.abc import Iterator
from dataclasses import dataclass
from functools import cached_property, reduce

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window, functions as F
from pyspark.sql.types import LongType, StructField, StructType

from search_engine_spark.catalog import Warehouse
from search_engine_spark.functions.codec import decode_block_np
from search_engine_spark.oracle.bm25 import B, K1
from search_engine_spark.oracle.text import STOPWORDS, tokenize

# Final scores round to this many decimals before the (score desc,
# docid asc) ordering. BM25 doubles reproduce only to ~1 ulp across
# physical plans (partition sum order, stored vs recomputed avgdl, seed/
# remainder score splits), and two docs with DIFFERENT (tf, dl) inputs can
# land on the same double — a 1-ulp drift then breaks that coincidental tie
# in one plan but not another and flips the emitted ranking. 9 dp is far
# below any meaningful score difference yet ~10^7 ulps wide, so the
# tie-break — and therefore the ranking — is identical for every plan and
# parallelism level. The driver kernel's threshold theta is a ROUNDED
# score too (so its k-boundary tie semantics match the declarative
# paths): its prune test is slackened by SCORE_SLACK so a block holding a
# doc whose rounded score could still tie theta is never skipped —
# pruning stays exact under the contract.
SCORE_ROUND = 9
SCORE_SLACK = 10.0 ** -SCORE_ROUND


@dataclass
class Index:
    """Handles to one index warehouse (see operators/indexer.py layout).
    Tables resolve through the Warehouse abstraction: Iceberg when a
    catalog is configured, the parquet layout otherwise.

    A handle is a SNAPSHOT of one index commit: ``stats`` are read at
    :func:`load_index`, and each table is resolved (file listing + schema)
    on first use and reused by every later query on the handle — a
    long-lived server pays the listing and schema-inference job once per
    table, not once per query. Filters still push down into the cached
    scan, so partition and row-group pruning are unchanged. After a
    rebuild, call :func:`load_index` again: a versioned rebuild leaves the
    old handle answering from its own snapshot, and a non-versioned
    in-place rebuild deletes the files the old handle lists, so its next
    scan fails instead of mixing two commits."""

    spark: SparkSession
    path: str
    stats: dict
    iceberg_catalog: str | None = None

    def _wh(self) -> Warehouse:
        return Warehouse(self.spark, self.path, self.iceberg_catalog)

    @cached_property
    def postings(self) -> DataFrame:
        return self._wh().read("postings")

    @cached_property
    def terms(self) -> DataFrame:
        return self._wh().read("terms")

    @cached_property
    def docs(self) -> DataFrame:
        return self._wh().read("docs")


def load_index(
    spark: SparkSession, path: str, iceberg_catalog: str | None = None
) -> Index:
    with open(os.path.join(path, "stats.json")) as fh:
        stats = json.load(fh)
    return Index(
        spark=spark, path=path, stats=stats, iceberg_catalog=iceberg_catalog
    )


def parse_query(query: str, stem: bool = True) -> list[str]:
    """Query terms: document tokenizer + stopword filter + ordered dedup
    (reference frontend/Master.java:283-296). Dual-indexing means stemmed
    variants match without query-side expansion beyond the stem itself."""
    seen: list[str] = []
    for term, _pos in tokenize(query, stem=stem, cap=None):
        if term in STOPWORDS or term in seen:
            continue
        seen.append(term)
    return seen


# ---------------------------------------------------------------------------
# Distributed exact top-k
# ---------------------------------------------------------------------------

def _decode_postings(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """(block, *carry) batches → (docid, tf, dl, *carry) posting rows. Each
    carried column (idf, term, ...) repeats once per posting of its block,
    so one Python loop over the blobs serves every distributed BM25 plan."""
    for pdf in batches:
        if pdf.empty:
            continue
        ds, tfs, dls = zip(
            *(decode_block_np(bytes(blob)) for blob in pdf["block"])
        )
        counts = [len(d) for d in ds]
        out = {
            "docid": np.concatenate(ds),
            "tf": np.concatenate(tfs),
            "dl": np.concatenate(dls),
        }
        for col in pdf.columns:
            if col != "block":
                out[col] = np.repeat(pdf[col].to_numpy(), counts)
        yield pd.DataFrame(out)


def _decode(blocks: DataFrame) -> DataFrame:
    """Decode the ``block`` column of ``blocks`` into posting rows; every
    other column is carried through (see :func:`_decode_postings`)."""
    carry = [f for f in blocks.schema.fields if f.name != "block"]
    schema = StructType(
        [StructField(c, LongType()) for c in ("docid", "tf", "dl")] + carry
    )
    return blocks.mapInPandas(_decode_postings, schema=schema)


def _bm25_scores(
    postings: DataFrame, avgdl: float, decimals: int, keys=("docid",)
) -> DataFrame:
    """Sum the BM25 partials of (docid, tf, dl, idf) posting rows per
    ``keys``. The sum is rounded to ``decimals`` BEFORE any ranking — a
    post-hoc round can disagree with a consumer that ranks at the rounded
    precision (two docs 1e-9 apart straddling the k boundary)."""
    part = (
        F.col("idf") * F.col("tf") * F.lit(K1 + 1.0)
        / (
            F.col("tf")
            + F.lit(K1)
            * (F.lit(1.0 - B) + F.lit(B) * F.col("dl") / F.lit(avgdl))
        )
    )
    return postings.groupBy(*keys).agg(
        F.round(F.sum(part), decimals).alias("score")
    )


def _check_k(k: int) -> None:
    if k < 0:
        raise ValueError(f"k must be >= 0, got {k}")


def _top_k(scored: DataFrame, k: int, per: str | None = None) -> DataFrame:
    """The k best rows by (score desc, docid asc): one global
    ORDER BY ... LIMIT (TakeOrderedAndProject), or, with ``per``, the k
    best of each ``per`` group with their 1-based ``rank``."""
    _check_k(k)
    order = (F.col("score").desc(), F.col("docid").asc())
    if per is None:
        return scored.orderBy(*order).limit(k)
    w = Window.partitionBy(per).orderBy(*order)
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(per, "docid", "score", "rank")
    )


def _no_hits(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame([], "docid long, score double")


def topk_distributed(
    index: Index, query: str, k: int = 100, decimals: int = SCORE_ROUND
) -> DataFrame:
    """(docid, score) top-k as a Spark plan. The term filter is pushed into
    the parquet scan (term-sorted layout → row-group pruning).

    ``decimals``: the precision scores are rounded to before the (score
    desc, docid asc) ranking. Pass the precision the consumer compares at
    (the cross-engine gate uses 6)."""
    terms = parse_query(query, stem=index.stats.get("stem", True))
    if not terms:
        return _no_hits(index.spark)
    tstats = index.terms.filter(F.col("term").isin(terms)).select("term", "idf")
    blocks = (
        index.postings.filter(F.col("term").isin(terms))
        .join(F.broadcast(tstats), "term")
        .select("block", "idf")
    )
    # decode blocks → (docid, tf, dl, idf) rows → exact BM25 partial → sum
    # per doc. dl is colocated in the block (codec v3), so the query plan
    # needs NO join against the docs table — at 10^12 docs that join was a
    # postings-sized shuffle; now the only shuffle is the final groupBy.
    scored = _bm25_scores(_decode(blocks), index.stats["avgdl"], decimals)
    return _top_k(scored, k)


def topk_with_deletes(
    index: Index,
    deleted: DataFrame,
    query: str,
    k: int = 100,
    decimals: int = SCORE_ROUND,
) -> DataFrame:
    """Tombstone-masked top-k: query the index as if the docids in
    ``deleted`` (1-column DataFrame) had never been indexed. Results AND
    ranking statistics (per-term df, n_docs, avgdl) reflect only live
    documents — pytest proves the output identical to rebuilding the
    index from scratch over the survivors.

    This is Lucene-style delete semantics without segment rewrites, the
    piece that completes index maintenance around the incremental indexer
    (streaming/indexing.py) and ``crawl_delta``: added/changed pages →
    new segment; removed/changed pages → tombstones; segments compact on
    the indexer's own merge schedule. Cost over a plain query: one
    anti-join of the decoded QUERY-TERM postings against the tombstone
    set (never the full index) + one scalar stats adjustment (count and
    dl-sum of tombstoned docs, a pruned broadcast-sized aggregate); the
    postings/terms tables are untouched. Per-term idf is recomputed from
    the LIVE df, so a term whose occurrences were all deleted simply
    vanishes — exactly as a rebuild would have it.
    """
    from search_engine_spark.operators.text_ops import bm25_idf_col

    terms = parse_query(query, stem=index.stats.get("stem", True))
    spark = index.spark
    if not terms:
        return _no_hits(spark)
    dele = (
        deleted.select(
            F.col(deleted.columns[0]).cast("long").alias("docid")
        ).distinct()
    )
    # scalar stats adjustment: only tombstones that exist in THIS index
    adj = (
        index.docs.join(dele, "docid")
        .agg(
            F.count(F.lit(1)).alias("n_del"),
            F.coalesce(F.sum("dl"), F.lit(0)).alias("dl_del"),
        )
        .collect()[0]
    )
    n_live = int(index.stats["n_docs"]) - int(adj["n_del"])
    if n_live <= 0:
        return _no_hits(spark)
    sum_dl_live = (
        float(index.stats["avgdl"]) * int(index.stats["n_docs"])
        - float(adj["dl_del"])
    )
    avgdl_live = sum_dl_live / n_live

    blocks = index.postings.filter(F.col("term").isin(terms)).select(
        "term", "block"
    )
    live = _decode(blocks).join(dele, "docid", "left_anti")
    df_live = live.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    tstats = df_live.select(
        "term", bm25_idf_col(n_live, F.col("df")).alias("idf")
    )
    scored = _bm25_scores(
        live.join(F.broadcast(tstats), "term"), avgdl_live, decimals
    )
    return _top_k(scored, k)


def topk_over_segments(
    spark: SparkSession, segments: list[Index], query: str, k: int = 100
) -> DataFrame:
    """Search a log-structured LEVEL SET without collapsing it — the
    mid-stream query path for the incremental indexer
    (streaming/indexing.py): each segment stays as-built; only global
    statistics are recomputed.

    ``segments`` are index handles ordered oldest → newest. Docids shift
    by each earlier segment's docid space, in that order — the shift
    :func:`~search_engine_spark.operators.merge.merge_indexes` applies, so
    a token-less page (a docid with no postings) cannot make two
    segments' docids collide. Global n_docs/avgdl come from segment
    stats; global per-term df is the sum over the segments' terms tables
    (one pruned, tiny collect) → global idf driver-side. Each segment's
    pruned postings decode with the GLOBAL idf/avgdl; one union + one
    groupBy scores everything. Result is identical to querying the
    collapsed index (tested to 1e-9). Handles are snapshots (see
    :class:`Index`): a caller that reuses them across queries pays each
    segment's table resolution once."""
    from search_engine_spark.oracle.bm25 import bm25_idf

    if not segments:
        return _no_hits(spark)
    terms = parse_query(query, stem=segments[0].stats.get("stem", True))
    if not terms:
        return _no_hits(spark)
    n_docs = sum(ix.stats["n_docs"] for ix in segments)
    avgdl = (
        sum(ix.stats["avgdl"] * ix.stats["n_docs"] for ix in segments)
        / n_docs
        if n_docs
        else 0.0
    )
    lookups = [
        ix.terms.filter(F.col("term").isin(terms)).select("term", "df")
        for ix in segments
    ]
    df_global: dict[str, int] = {}
    for r in reduce(DataFrame.unionByName, lookups).collect():
        df_global[r["term"]] = df_global.get(r["term"], 0) + int(r["df"])
    if not df_global:
        return _no_hits(spark)
    idf_rows = [(t, bm25_idf(n_docs, d)) for t, d in sorted(df_global.items())]
    tstats = F.broadcast(
        spark.createDataFrame(idf_rows, "term string, idf double")
    )
    offset = 0
    parts = []
    for ix in segments:
        blocks = (
            ix.postings.filter(F.col("term").isin(list(df_global)))
            .join(tstats, "term")
            .select("block", "idf")
        )
        parts.append(
            _decode(blocks).withColumn("docid", F.col("docid") + F.lit(offset))
        )
        offset += ix.stats.get("docid_space", ix.stats["n_docs"])
    postings = reduce(DataFrame.unionByName, parts)
    return _top_k(_bm25_scores(postings, avgdl, SCORE_ROUND), k)


def topk_batch(
    index: Index, queries: dict[int, str], k: int = 100,
    decimals: int = SCORE_ROUND,
) -> DataFrame:
    """(qid, docid, score, rank) — top-k for MANY queries in ONE Spark plan.

    Bulk query evaluation: the postings scan is pruned to the UNION of all
    queries' terms and decoded once; a broadcast (term → qid) expansion
    fans each posting out to the queries that contain its term; one
    aggregation scores every (qid, docid); a per-qid window takes top-k.
    Thousands of queries amortize into a single pass over the index — the
    batch analogue of ``topk_distributed``, with the same decode, scoring
    and tie semantics (one scan TOTAL, not one per query). ``decimals``
    defaults to the library-wide SCORE_ROUND; gate entries pass 6 to rank
    on the exact values their cross-engine oracle ranks on."""
    spark = index.spark
    q_terms = {
        qid: parse_query(q, stem=index.stats.get("stem", True))
        for qid, q in queries.items()
    }
    pairs = [(qid, t) for qid, ts in q_terms.items() for t in ts]
    if not pairs:
        return spark.createDataFrame(
            [], "qid long, docid long, score double, rank int"
        )
    all_terms = sorted({t for _, t in pairs})

    qmap = spark.createDataFrame(pairs, "qid long, term string")
    tstats = index.terms.filter(F.col("term").isin(all_terms)).select(
        "term", "idf"
    )
    blocks = index.postings.filter(F.col("term").isin(all_terms)).select(
        "term", "block"
    )
    postings = (
        _decode(blocks)
        .join(F.broadcast(tstats), "term")
        .join(F.broadcast(qmap), "term")
    )
    scored = _bm25_scores(
        postings, index.stats["avgdl"], decimals, keys=("qid", "docid")
    )
    return _top_k(scored, k, per="qid")


# ---------------------------------------------------------------------------
# Driver-side exact top-k: block-max pruning, array-at-a-time
# ---------------------------------------------------------------------------

def _fetch_term_blocks(index: Index, terms: list[str]) -> dict[str, list[tuple]]:
    """Per query term, in query order: its blocks as (first_docid,
    last_docid, block_max, bytes), (bucket, block_id)-ordered. One
    partition-pruned scan for all query terms."""
    rows = (
        index.postings.filter(F.col("term").isin(terms))
        .select(
            "term", "bucket", "block_id", "first_docid", "last_docid",
            "block_max", "block",
        )
        .collect()
    )
    out: dict[str, list[tuple]] = {t: [] for t in terms}
    for r in sorted(rows, key=lambda r: (r["bucket"], r["block_id"])):
        out[r["term"]].append(
            (r["first_docid"], r["last_docid"], r["block_max"],
             bytes(r["block"]))
        )
    return {t: blks for t, blks in out.items() if blks}


def _block_bounds(
    first: np.ndarray, last: np.ndarray, ub: np.ndarray
) -> np.ndarray:
    """The tightest score bound the block metadata gives each block.

    The docid axis is cut at every block's first and last + 1, so each
    piece lies inside one block of a term or in a gap. A piece's bound is
    the sum over terms of the covering block's ``ub`` (idf x block_max);
    a block's bound is the max over its pieces."""
    cuts = np.unique(np.concatenate((first, last + 1)))
    lo = np.searchsorted(cuts, first)
    hi = np.searchsorted(cuts, last + 1)  # < len(cuts): last + 1 is a cut
    span = hi - lo
    # the pieces [lo, hi) of every block, flattened; a term's blocks are
    # docid-disjoint, so a piece gets at most one ub per term
    pieces = np.arange(span.sum()) + np.repeat(
        lo + span - np.cumsum(span), span
    )
    piece_ub = np.bincount(
        pieces, weights=np.repeat(ub, span), minlength=len(cuts)
    )
    # max over each [lo, hi); the entries reduced from each hi are dropped
    edges = np.column_stack((lo, hi)).ravel()
    return np.maximum.reduceat(piece_ub, edges)[::2]


def _topk_blocks(
    blocks: dict[str, list[tuple]], idfs: dict[str, float], avgdl: float,
    k: int,
) -> list[tuple[int, float]]:
    """Exact BM25 top-k over the fetched blocks with block-max pruning,
    array-at-a-time: [(docid, score)] sorted (score desc, docid asc).

    Blocks decode in descending :func:`_block_bounds` order, in batches
    that grow 4x. After each batch, theta is the k-th best rounded partial
    sum so far. BM25 partials are >= 0, so partial sums are lower bounds
    and theta is at most the k-th score. Decoding stops at the first block
    whose bound is <= theta - SCORE_SLACK: no doc in it or in any later
    block can reach the top k, so every doc that does has all its partials
    decoded. Each doc's partials are summed in query-term order with one
    sorted reduceat, whatever order the blocks decoded in."""
    metas = [
        (ti, f, l, idfs[t] * m, blob)
        for ti, (t, blks) in enumerate(blocks.items())
        for f, l, m, blob in blks
    ]
    if not metas:
        return []
    term, first, last, ub, blobs = zip(*metas)
    idf = [idfs[t] for t in blocks]
    bound = _block_bounds(
        np.array(first, dtype=np.int64), np.array(last, dtype=np.int64),
        np.array(ub, dtype=np.float64),
    )
    order = np.argsort(-bound, kind="stable")
    neg_bound = -bound[order]  # ascending
    keys, parts = [], []
    theta = -np.inf
    done, batch = 0, 16
    while True:
        # blocks with bound > theta - SCORE_SLACK form a prefix of ``order``
        end = min(done + batch,
                  int(np.searchsorted(neg_bound, SCORE_SLACK - theta)))
        if end <= done:
            break
        for b in order[done:end]:
            d, tf, dl = decode_block_np(blobs[b])
            tf = tf.astype(np.float64)
            # sort key: docid, then query-term position
            keys.append(d * len(idf) + term[b])
            parts.append(
                idf[term[b]] * tf * (K1 + 1.0)
                / (tf + K1 * (1.0 - B + B * dl.astype(np.float64) / avgdl))
            )
        done, batch = end, batch * 4
        key = np.concatenate(keys)
        at = np.argsort(key)
        d_s = key[at] // len(idf)
        starts = np.flatnonzero(np.diff(d_s, prepend=-1))
        uniq = d_s[starts]
        sums = np.round(
            np.add.reduceat(np.concatenate(parts)[at], starts), SCORE_ROUND
        )
        if len(sums) >= k:
            theta = np.partition(sums, len(sums) - k)[len(sums) - k]
    top = np.flatnonzero(sums >= theta)
    top = top[np.lexsort((uniq[top], -sums[top]))][:k]
    return [(int(uniq[i]), float(sums[i])) for i in top]


# Engine code no longer reads this constant: the driver top-k has one
# path. It only defines perfbench's broad/selective query split (mean
# query-term df >= this fraction of n_docs) behind its
# ``query.topk.bulk_share`` metric.
BULK_SCORE_DF_FRACTION = 0.10

# Driver-side serving paths (``topk_wand``, ``phrase_docs``) collect
# posting-block BYTES to the driver. Above this many postings for one
# query they hand off to their distributed siblings instead — a stop-word
# term over a 100× corpus must never OOM the driver. The preflight is
# FREE for topk_wand (df rides along in the terms lookup it already does)
# and metadata-only for phrase_docs. 2M postings ≈ low tens of MB of
# block bytes with positions — comfortable; far past it is not.
DRIVER_POSTINGS_MAX = 2_000_000


def topk_wand(
    index: Index, query: str, k: int = 100
) -> list[tuple[int, float]]:
    """Exact BM25 top-k, driver-side (the interactive path): one
    partition-pruned fetch of the query terms' blocks, scored by
    :func:`_topk_blocks`. Returns [(docid, score)] sorted (score desc,
    docid asc), identical to the exhaustive oracle.

    Document lengths come from the posting blocks themselves (codec v3),
    so the query path touches ONLY the pruned postings + terms for the
    query — never the docs table (collecting it was O(corpus) per fresh
    index handle; fatal at 10^12 docs).

    Driver-memory guard: the terms lookup below also reads ``df``, and
    when the query's total posting count exceeds
    :data:`DRIVER_POSTINGS_MAX` the block bytes are NEVER collected — the
    call hands off to ``topk_distributed`` and returns its (rank- and
    score-identical) result. The preflight costs zero extra Spark jobs."""
    _check_k(k)
    terms = parse_query(query, stem=index.stats.get("stem", True))
    if not terms or k == 0:
        return []
    trows = (
        index.terms.filter(F.col("term").isin(terms))
        .select("term", "idf", "df")
        .collect()
    )
    idfs = {r["term"]: r["idf"] for r in trows}
    if sum(r["df"] for r in trows) > DRIVER_POSTINGS_MAX:
        rows = topk_distributed(index, query, k).collect()
        return [(int(r["docid"]), float(r["score"])) for r in rows]
    blocks = _fetch_term_blocks(index, [t for t in terms if t in idfs])
    return _topk_blocks(blocks, idfs, index.stats["avgdl"], k)


# ---------------------------------------------------------------------------
# Result assembly: url + snippet (the reference frontend's answer shape)
# ---------------------------------------------------------------------------

def snippet_expr(
    terms: list[str], text_col: str = "text", snippet_len: int = 120,
    context: int = 30,
) -> "F.Column":
    """Deterministic snippet: ``snippet_len`` chars starting ``context``
    before the first occurrence of any query term (1 if none match).
    Built-ins only; exactly mirrorable in SQL (``snippet_sql``).

    ``terms`` may be EMPTY (reachable whenever every raw query token is a
    stopword but its stem still scores, e.g. "was" → dual-indexed "wa"):
    the snippet is then the document head — F.least() with zero columns
    would throw at plan build."""
    if not terms:
        return F.substring(F.col(text_col), 1, snippet_len)
    lowered = F.lower(F.col(text_col))
    poss = [
        F.nullif(F.instr(lowered, t), F.lit(0)) for t in terms
    ]
    first = poss[0] if len(poss) == 1 else F.least(*poss)
    pos = F.coalesce(first, F.lit(1))
    start = F.greatest(F.lit(1), pos - F.lit(context))
    return F.substring(F.col(text_col), start, snippet_len)


def snippet_sql(
    terms: list[str], text_col: str = "text", snippet_len: int = 120,
    context: int = 30,
) -> str:
    """DuckDB mirror of ``snippet_expr``."""
    if not terms:
        return f"substr({text_col}, 1, {snippet_len})"
    poss = ", ".join(
        f"nullif(strpos(lower({text_col}), '{t}'), 0)" for t in terms
    )
    least = poss if len(terms) == 1 else f"least({poss})"
    return (
        f"substr({text_col}, greatest(1, coalesce({least}, 1) - {context}), "
        f"{snippet_len})"
    )


TITLE_RE = r"<title>([^<]*)</title>"


def title_expr(html_col) -> "F.Column":
    """<title> extraction (JVM regex) — the reference's titles.table
    content (frontend/Master.java:52-79 loads url→title extracted from the
    page head; here it's a column computed at answer-assembly time)."""
    c = F.col(html_col) if isinstance(html_col, str) else html_col
    return F.regexp_extract(c, TITLE_RE, 1)


def topk_with_urls(
    index: Index,
    corpus: DataFrame,
    query: str,
    k: int = 100,
    url_col: str = "url",
    text_col: str = "text",
    snippet_len: int = 120,
    html_col: str | None = None,
    decimals: int = SCORE_ROUND,
) -> DataFrame:
    """(docid, url, score[, title], snippet) — the user-facing answer the
    reference frontend returns (url + title + snippet per hit,
    frontend/Master.java:203-256). ``html_col`` names a raw-html column in
    ``corpus``; when given, the page ``<title>`` is extracted per hit.

    Scale shape: top-k docids collect to the driver (k rows), then both
    lookups are IN-filtered scans — docs/ is docid-range-sorted parquet so
    the docid filter prunes row groups, and the corpus lookup filters on
    url before the join. No corpus-sized shuffle."""
    # rank at the EMITTED precision (a post-hoc round can flip the
    # k-boundary tie order vs a consumer comparing at ``decimals``)
    scores = topk_distributed(index, query, k, decimals=decimals).collect()
    spark = index.spark
    if not scores:
        return spark.createDataFrame(
            [], "docid long, url string, score double, snippet string"
        )
    sdf = spark.createDataFrame(
        [(r["docid"], float(r["score"])) for r in scores],
        "docid long, score double",
    )
    docids = [r["docid"] for r in scores]
    hits = index.docs.filter(F.col("docid").isin(docids)).select(
        "docid", "url"
    )
    urls = [r["url"] for r in hits.collect()]
    snip_terms = [t for t, _ in tokenize(query, stem=False, cap=None)
                  if t not in STOPWORDS]
    body_cols = [
        F.col(url_col).alias("url"),
        snippet_expr(snip_terms, text_col, snippet_len).alias("snippet"),
    ]
    out_cols = ["docid", "url", "score", "snippet"]
    if html_col is not None:
        h = F.col(html_col)
        if dict(corpus.dtypes).get(html_col) == "binary":
            h = h.cast("string")
        body_cols.append(title_expr(h).alias("title"))
        out_cols.append("title")
    body = corpus.filter(F.col(url_col).isin(urls)).select(*body_cols)
    return (
        sdf.join(F.broadcast(hits), "docid")
        .join(F.broadcast(body), "url")
        .select(*out_cols)
        .orderBy(F.col("score").desc(), F.col("docid").asc())
    )


# ---------------------------------------------------------------------------
# Phrase search
# ---------------------------------------------------------------------------

def _phrase_term_offsets(phrase: str) -> dict[str, list[int]]:
    """unique term → 0-based offsets of its occurrences in the phrase."""
    terms = [t for t, _ in tokenize(phrase, stem=False, cap=None)]
    offs: dict[str, list[int]] = {}
    for o, t in enumerate(terms):
        offs.setdefault(t, []).append(o)
    return offs


def phrase_docs(index: Index, phrase: str) -> list[int]:
    """Docids containing the exact adjacent token phrase — driver path.

    Scale shape (reference IndexerProjectPhraseSearch.java:407-440's
    df-ascending idea, applied at BLOCK level): fetch block METADATA only
    (no bytes), process terms df-ascending, decode the rarest term fully,
    and for every later term fetch + decode ONLY the blocks whose
    [first_docid, last_docid] range intersects a surviving candidate —
    a phrase containing a frequent term no longer pulls that term's whole
    posting list to the driver. Adjacency is verified from the stored
    1-based positions (checkExactMatch :340-376) via candidate-start-set
    intersection; duplicate phrase terms intersect across their offsets."""
    offs = _phrase_term_offsets(phrase)
    if not offs:
        return []
    meta_rows = (
        index.postings.filter(F.col("term").isin(list(offs)))
        .select("term", "bucket", "block_id", "first_docid", "last_docid", "n")
        .collect()
    )
    meta: dict[str, list[tuple]] = {}
    df_by_term: dict[str, int] = {}
    for r in meta_rows:
        meta.setdefault(r["term"], []).append(
            (r["bucket"], r["block_id"], r["first_docid"], r["last_docid"])
        )
        df_by_term[r["term"]] = df_by_term.get(r["term"], 0) + r["n"]
    if any(t not in meta for t in offs):
        return []
    order = sorted(offs, key=lambda t: df_by_term[t])
    # Driver-memory guard (metadata-only preflight — no bytes read yet):
    # the rarest term is decoded IN FULL on the driver and bounds the
    # candidate set every later fetch is keyed by. Past the threshold,
    # hand off to the fully distributed plan — identical result set.
    if df_by_term[order[0]] > DRIVER_POSTINGS_MAX:
        return sorted(
            int(r["docid"])
            for r in phrase_docs_distributed(index, phrase).collect()
        )

    def fetch_blocks(term: str, keys: set[tuple[int, int]] | None):
        q = index.postings.filter(F.col("term") == term)
        if keys is not None:
            # bucket/block_id are both int32; pack into one bigint key so
            # the pushdown is a single IN filter
            packed = [b * (1 << 32) + i for (b, i) in keys]
            q = q.filter(
                (F.col("bucket").cast("long") * F.lit(1 << 32)
                 + F.col("block_id")).isin(packed)
            )
        return q.select("bucket", "block_id", "block").collect()

    # starts[docid] = set of phrase-start positions consistent with every
    # term processed so far
    starts: dict[int, set[int]] = {}
    for ti, t in enumerate(order):
        if ti == 0:
            rows = fetch_blocks(t, None)
        else:
            cand = sorted(starts)
            if not cand:
                return []
            need: set[tuple[int, int]] = set()
            for bk, bi, fd, ld in meta[t]:
                j = bisect.bisect_left(cand, fd)
                if j < len(cand) and cand[j] <= ld:
                    need.add((bk, bi))
            if not need:
                return []
            rows = fetch_blocks(t, need)
        term_starts: dict[int, set[int]] = {}
        for r in rows:
            ds, _tfs, _dls, plens, pflat = decode_block_np(
                bytes(r["block"]), positions=True
            )
            bounds = np.concatenate(([0], np.cumsum(plens)))
            for j in range(len(ds)):
                d = int(ds[j])
                if ti > 0 and d not in starts:
                    continue
                pset = set(pflat[bounds[j] : bounds[j + 1]].tolist())
                s: set[int] | None = None
                for o in offs[t]:
                    cur = {p - o for p in pset if p - o >= 1}
                    s = cur if s is None else (s & cur)
                    if not s:
                        break
                if s:
                    term_starts[d] = s
        if ti == 0:
            starts = term_starts
        else:
            nxt: dict[int, set[int]] = {}
            for d, s in term_starts.items():
                inter = starts[d] & s
                if inter:
                    nxt[d] = inter
            starts = nxt
        if not starts:
            return []
    return sorted(starts)


def phrase_docs_distributed(index: Index, phrase: str) -> DataFrame:
    """Phrase search as a fully distributed Spark plan (the 10^12-doc path).

    Partition-pruned scan of the phrase terms' blocks → Arrow-batched
    decode to (term, docid, pos) → one (docid, start)-keyed join per
    phrase offset (start = pos - offset) → DISTINCT docid. Shuffle sizes
    are the terms' posting lists; nothing touches the driver."""
    offs = _phrase_term_offsets(phrase)
    spark = index.spark
    if not offs:
        return spark.createDataFrame([], "docid long")
    uniq = list(offs)

    def decode_pos(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            t_l, d_l, p_l = [], [], []
            for term, blob in zip(pdf["term"], pdf["block"]):
                ds, _tfs, _dls, plens, pflat = decode_block_np(
                    bytes(blob), positions=True
                )
                t_l.extend([term] * len(pflat))
                d_l.append(np.repeat(ds, plens))
                p_l.append(pflat)
            if not d_l:
                continue
            yield pd.DataFrame(
                {"term": pd.Series(t_l, dtype="object"),
                 "docid": np.concatenate(d_l),
                 "pos": np.concatenate(p_l)}
            )

    decoded = (
        index.postings.filter(F.col("term").isin(uniq))
        .select("term", "block")
        .mapInPandas(decode_pos, schema="term string, docid long, pos long")
        # materialize ONCE: every phrase-offset leg below filters this
        # relation, and without a boundary each join branch re-runs the
        # pruned scan + Arrow position decode (an n-token phrase decoded
        # the union of posting lists n times)
        .localCheckpoint(eager=False)
    )
    legs = []
    for t, t_offs in offs.items():
        for o in t_offs:
            legs.append(
                decoded.filter(F.col("term") == t)
                .select("docid", (F.col("pos") - F.lit(o)).alias("start"))
                .filter(F.col("start") >= 1)
            )
    out = legs[0]
    for leg in legs[1:]:
        out = out.join(leg, ["docid", "start"])
    return out.select("docid").distinct()
