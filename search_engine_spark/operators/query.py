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

* ``topk_wand`` — driver-side document-at-a-time Block-Max WAND (Ding &
  Suel, SIGIR 2011) over the fetched posting blocks for interactive
  queries: exact top-k with block skipping, never decoding blocks whose
  block-max cannot beat the current threshold. Verified rank-identical to
  the exhaustive oracle in tests.

Phrase search (reference jobs/IndexerProjectPhraseSearch.java:328-475)
intersects posting lists in df-ascending order and verifies adjacency with
the stored positions via a two-pointer offset merge.
"""

from __future__ import annotations

import heapq
import json
import os
from collections.abc import Iterator
from dataclasses import dataclass
from functools import cached_property

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from search_engine_spark.catalog import Warehouse
from search_engine_spark.functions.codec import decode_block_np
from search_engine_spark.oracle.bm25 import B, K1, bm25_term_score
from search_engine_spark.oracle.text import STOPWORDS, tokenize

# Final scores round to this many decimals before the (score desc,
# docid asc) ordering. BM25 doubles reproduce only to ~1 ulp across
# physical plans (partition sum order, stored vs recomputed avgdl, seed/
# remainder score splits), and two docs with DIFFERENT (tf, dl) inputs can
# land on the same double — a 1-ulp drift then breaks that coincidental tie
# in one plan but not another and flips the emitted ranking. 9 dp is far
# below any meaningful score difference yet ~10^7 ulps wide, so the
# tie-break — and therefore the ranking — is identical for every plan and
# parallelism level. WAND's top-k heap holds ROUNDED scores too (so its
# k-boundary tie semantics match the declarative paths), which makes its
# pruning thresholds rounded: every prune test is slackened by
# SCORE_SLACK so a doc whose rounded score could still tie the rounded
# theta is never skipped — pruning stays exact under the contract.
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

def _decode_rows_idf(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """(block, idf) batches → (docid, tf, dl, idf) posting rows."""
    for pdf in batches:
        d_l, t_l, l_l, i_l = [], [], [], []
        for blob, idf in zip(pdf["block"], pdf["idf"]):
            d, t, dl = decode_block_np(bytes(blob))
            d_l.append(d)
            t_l.append(t)
            l_l.append(dl)
            i_l.append(np.full(len(d), float(idf)))
        if not d_l:
            continue
        yield pd.DataFrame(
            {"docid": np.concatenate(d_l),
             "tf": np.concatenate(t_l),
             "dl": np.concatenate(l_l),
             "idf": np.concatenate(i_l)}
        )


def _bm25_part_col(avgdl: float):
    return (
        F.col("idf") * F.col("tf") * F.lit(K1 + 1.0)
        / (
            F.col("tf")
            + F.lit(K1)
            * (F.lit(1.0 - B) + F.lit(B) * F.col("dl") / F.lit(avgdl))
        )
    )


def topk_distributed(
    index: Index, query: str, k: int = 100, decimals: int = SCORE_ROUND
) -> DataFrame:
    """(docid, score) top-k as a Spark plan. The term filter is pushed into
    the parquet scan (term-sorted layout → row-group pruning).

    ``decimals``: scores are ROUNDED BEFORE the (score desc, docid asc)
    ranking, not after — a post-hoc round can disagree with a consumer
    that ranks at the rounded precision (two docs 1e-9 apart straddling
    the k boundary). Pass the precision the consumer compares at (the
    cross-engine gate uses 6)."""
    terms = parse_query(query, stem=index.stats.get("stem", True))
    spark = index.spark
    if not terms:
        return spark.createDataFrame([], "docid long, score double")
    avgdl = index.stats["avgdl"]

    blocks = index.postings.filter(F.col("term").isin(terms))
    tstats = index.terms.filter(F.col("term").isin(terms)).select("term", "idf")

    withidf = blocks.join(F.broadcast(tstats), "term")

    # decode blocks → (docid, tf, dl, idf) rows → exact BM25 partial → sum
    # per doc. dl is colocated in the block (codec v3), so the query plan
    # needs NO join against the docs table — at 10^12 docs that join was a
    # postings-sized shuffle; now the only shuffle is the final groupBy.
    decoded = withidf.select("block", "idf").mapInPandas(
        _decode_rows_idf, schema="docid long, tf long, dl long, idf double"
    )
    scored = (
        decoded.withColumn("part", _bm25_part_col(avgdl))
        .groupBy("docid")
        .agg(F.round(F.sum("part"), decimals).alias("score"))
    )
    return scored.orderBy(F.col("score").desc(), F.col("docid").asc()).limit(k)


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
        return spark.createDataFrame([], "docid long, score double")
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
        return spark.createDataFrame([], "docid long, score double")
    sum_dl_live = (
        float(index.stats["avgdl"]) * int(index.stats["n_docs"])
        - float(adj["dl_del"])
    )
    avgdl_live = sum_dl_live / n_live

    blocks = index.postings.filter(F.col("term").isin(terms)).select(
        "term", "block", F.lit(0.0).alias("idf")  # idf joined post-mask
    )
    live = blocks.mapInPandas(
        _decode_rows_idf_term,
        schema="term string, docid long, tf long, dl long, idf double",
    ).drop("idf").join(dele, "docid", "left_anti")
    df_live = live.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    tstats = df_live.select(
        "term", bm25_idf_col(n_live, F.col("df")).alias("idf")
    )
    scored = (
        live.join(F.broadcast(tstats), "term")
        .withColumn("part", _bm25_part_col(avgdl_live))
        .groupBy("docid")
        .agg(F.round(F.sum("part"), decimals).alias("score"))
    )
    return scored.orderBy(F.col("score").desc(), F.col("docid").asc()).limit(k)


def _decode_rows_idf_term(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """(term, block, idf) batches → (term, docid, tf, dl, idf) rows —
    the term column rides along so downstream can track which terms
    contributed to a doc's partial score."""
    for pdf in batches:
        t_out, d_l, t_l, l_l, i_l = [], [], [], [], []
        for term, blob, idf in zip(pdf["term"], pdf["block"], pdf["idf"]):
            d, t, dl = decode_block_np(bytes(blob))
            d_l.append(d)
            t_l.append(t)
            l_l.append(dl)
            i_l.append(np.full(len(d), float(idf)))
            t_out.append(np.full(len(d), term, dtype=object))
        if not d_l:
            continue
        yield pd.DataFrame(
            {"term": np.concatenate(t_out),
             "docid": np.concatenate(d_l),
             "tf": np.concatenate(t_l),
             "dl": np.concatenate(l_l),
             "idf": np.concatenate(i_l)}
        )


BLOCK_KEY = ["term", "bucket", "block_id"]

# Above this many metadata rows the pruned-plan's planning decisions stay
# distributed; below it they collect to the driver (fewer fixed jobs).
META_COLLECT_MAX = 20_000


def topk_distributed_pruned(
    index: Index,
    query: str,
    k: int = 100,
    seed_blocks_per_term: int = 2,
    max_candidates: int = 200_000,
    min_blocks: int = 256,
    decimals: int = SCORE_ROUND,
) -> DataFrame:
    """(docid, score) — EXACT top-k with Block-Max pruning as a
    distributed plan: the Ding & Suel block-max idea (driver path:
    ``topk_wand``) restructured into three bulk phases so block skipping
    works without document-at-a-time coordination. Replaces the
    reference's posting-list sampling (frontend/Master.java:356-391,
    ≤2000 random docs per term) with exact pruning.

    1. **Seed θ**: decode only the ``seed_blocks_per_term`` highest-
       upper-bound blocks per term; the k-th best PARTIAL score is a
       valid lower bound θ on the true k-th best score.
    2. **Prune + partial score**: a block of term t survives iff
       ``ub(b) + Σ_{t'≠t} max_ub(t') ≥ θ``. Every doc whose blocks are
       all pruned is provably below θ (each posting's contribution is ≤
       its block's ub). Decode ONLY survivors — block bytes of pruned
       blocks are never read (two scans of the postings table: a
       metadata projection without the bytes column, then a bytes scan
       semi-joined to surviving keys). Docs keep the set of terms that
       contributed, so the remaining headroom is
       ``slack(d) = Σ_{t ∉ present(d)} max_pruned_ub(t)``.
    3. **Exact rescore**: candidates = docs with
       ``partial + slack ≥ θ``. Their missing contributions live only in
       pruned blocks whose [first_docid, last_docid] range contains a
       candidate; decode exactly those, filter decoded rows to the
       candidate set, add in, take the global top-k.

    Rank- and score-identical to ``topk_distributed`` (tested). Adaptive
    bailouts to the plain plan keep it never-worse in the regimes where
    pruning cannot pay: fewer than ``min_blocks`` total blocks for the
    query's terms (each extra phase is a full Spark job + Python-worker
    roundtrip — with a handful of blocks the single-job full decode is
    already cheaper than one phase), or a candidate set larger than
    ``max_candidates`` (θ barely prunes → the full plan is the right
    plan). θ is slackened by 1e-9 so float drift between the stored
    block_max and recomputed per-row parts can only under-prune, never
    over-prune."""
    terms = parse_query(query, stem=index.stats.get("stem", True))
    spark = index.spark
    if not terms:
        return spark.createDataFrame([], "docid long, score double")
    avgdl = index.stats["avgdl"]
    tstats = index.terms.filter(F.col("term").isin(terms)).select(
        "term", "idf"
    )

    # --- metadata projection: NO block bytes read in this scan
    meta = (
        index.postings.filter(F.col("term").isin(terms))
        .select(*BLOCK_KEY, "first_docid", "last_docid", "n", "block_max")
        .join(F.broadcast(tstats), "term")
        .withColumn("ub", F.col("idf") * F.col("block_max"))
    )
    # small-metadata fast path: when the query's block metadata fits on
    # the driver, collect it ONCE and make every planning decision
    # (per-term maxima, seed selection, pruned maxima) locally — this
    # removes two aggregate jobs and a window from the fixed latency,
    # which dominates on small/medium indexes. Large metadata (stop-word
    # terms over a huge corpus) keeps the fully distributed planning.
    meta_rows = meta.limit(META_COLLECT_MAX + 1).collect()
    meta_local = meta_rows if len(meta_rows) <= META_COLLECT_MAX else None
    if len(meta_rows) < min_blocks:
        return topk_distributed(index, query, k, decimals=decimals)
    if meta_local is not None:
        per_term = {}
        for r in meta_local:
            per_term[r["term"]] = max(
                per_term.get(r["term"], 0.0), float(r["ub"])
            )
    else:
        per_term = {
            r["term"]: float(r["mx"])
            for r in meta.groupBy("term").agg(F.max("ub").alias("mx")).collect()
        }
    if not per_term:
        return spark.createDataFrame([], "docid long, score double")
    sum_all = sum(per_term.values())

    def _bytes_for(keys_df: DataFrame) -> DataFrame:
        """Bytes scan restricted (term-pushdown + key join) to keys_df."""
        return (
            index.postings.filter(F.col("term").isin(terms))
            .select(*BLOCK_KEY, "block")
            .join(F.broadcast(keys_df), BLOCK_KEY)
        )

    # --- phase 1: seed θ from the top blocks per term
    if meta_local is not None:
        by_term: dict[str, list] = {}
        for r in meta_local:
            by_term.setdefault(r["term"], []).append(r)
        seed_local = []
        for t, rows in by_term.items():
            rows.sort(key=lambda r: (-r["ub"], r["bucket"], r["block_id"]))
            seed_local.extend(rows[:seed_blocks_per_term])
        seed_keys = spark.createDataFrame(
            [(r["term"], r["bucket"], r["block_id"]) for r in seed_local],
            "term string, bucket int, block_id int",
        )
    else:
        from pyspark.sql import Window

        w = Window.partitionBy("term").orderBy(
            F.col("ub").desc(), F.col("bucket").asc(), F.col("block_id").asc()
        )
        seed_keys = (
            meta.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= seed_blocks_per_term)
            .select(*BLOCK_KEY)
        )
    seed_rows = (
        _bytes_for(seed_keys.select(*BLOCK_KEY))
        .join(F.broadcast(tstats), "term")
        .select("term", "block", "idf")
        .mapInPandas(
            _decode_rows_idf_term,
            schema="term string, docid long, tf long, dl long, idf double",
        )
    )
    seed_top = (
        seed_rows.withColumn("part", _bm25_part_col(avgdl))
        .groupBy("docid")
        .agg(F.sum("part").alias("score"))
        .orderBy(F.col("score").desc(), F.col("docid").asc())
        .limit(k)
        .collect()
    )
    if len(seed_top) < k:
        # seed couldn't even fill k — tiny index; pruning pointless
        return topk_distributed(index, query, k, decimals=decimals)
    # θ slack = one ulp at the EMITTED precision: a doc pruned by θ must
    # not be able to round into a tie with the kth kept score (the 1e-9
    # default generalizes to any ``decimals``)
    theta = float(seed_top[-1]["score"]) - max(1e-9, 10.0 ** -decimals)

    # --- phase 2: prune blocks, partial-score survivors with term sets
    rest = {t: sum_all - mx for t, mx in per_term.items()}
    pruned_schema = (
        "term string, bucket int, block_id int, "
        "first_docid long, last_docid long"
    )
    if meta_local is not None:
        surv_local = [
            r for r in meta_local if r["ub"] + rest[r["term"]] >= theta
        ]
        pruned_local = [
            r for r in meta_local if r["ub"] + rest[r["term"]] < theta
        ]
        surviving = spark.createDataFrame(
            [(r["term"], r["bucket"], r["block_id"]) for r in surv_local],
            "term string, bucket int, block_id int",
        )
        pruned = spark.createDataFrame(
            [
                (r["term"], r["bucket"], r["block_id"],
                 r["first_docid"], r["last_docid"])
                for r in pruned_local
            ],
            pruned_schema,
        )
        pruned_max = {}
        for r in pruned_local:
            pruned_max[r["term"]] = max(
                pruned_max.get(r["term"], 0.0), float(r["ub"])
            )
    else:
        rest_expr = F.lit(None).cast("double")
        for t, r in rest.items():
            rest_expr = F.when(F.col("term") == t, F.lit(r)).otherwise(
                rest_expr
            )
        meta = meta.withColumn("rest", rest_expr)
        surviving = meta.filter(F.col("ub") + F.col("rest") >= theta)
        pruned = meta.filter(F.col("ub") + F.col("rest") < theta)
        pruned_max = {
            r["term"]: float(r["mx"])
            for r in pruned.groupBy("term")
            .agg(F.max("ub").alias("mx"))
            .collect()
        }
    surv_rows = (
        _bytes_for(surviving.select(*BLOCK_KEY))
        .join(F.broadcast(tstats), "term")
        .select("term", "block", "idf")
        .mapInPandas(
            _decode_rows_idf_term,
            schema="term string, docid long, tf long, dl long, idf double",
        )
    )
    partial = (
        surv_rows.withColumn("part", _bm25_part_col(avgdl))
        .groupBy("docid")
        .agg(
            F.sum("part").alias("pscore"),
            F.collect_set("term").alias("present"),
        )
    )
    if pruned_max:
        slack = F.lit(0.0)
        for t, mx in pruned_max.items():
            slack = slack + F.when(
                F.array_contains(F.col("present"), t), F.lit(0.0)
            ).otherwise(F.lit(mx))
    else:
        slack = F.lit(0.0)
    cands = (
        partial.withColumn("slack", slack)
        .filter(F.col("pscore") + F.col("slack") >= theta)
        .localCheckpoint()  # referenced by phase-3 join AND final union
    )
    n_cands = cands.count()
    if n_cands > max_candidates:
        return topk_distributed(index, query, k, decimals=decimals)

    # --- phase 3: exact rescore of candidates from intersecting pruned
    # blocks only (docid-range containment against the candidate set)
    cand_ids = cands.select("docid")
    needed = (
        pruned.join(
            F.broadcast(cand_ids),
            (F.col("docid") >= F.col("first_docid"))
            & (F.col("docid") <= F.col("last_docid")),
            "left_semi",
        )
        .select(*BLOCK_KEY)
    )
    pruned_rows = (
        _bytes_for(needed)
        .join(F.broadcast(tstats), "term")
        .select("term", "block", "idf")
        .mapInPandas(
            _decode_rows_idf_term,
            schema="term string, docid long, tf long, dl long, idf double",
        )
        .join(F.broadcast(cand_ids), "docid", "left_semi")
    )
    extra = (
        pruned_rows.withColumn("part", _bm25_part_col(avgdl))
        .groupBy("docid")
        .agg(F.sum("part").alias("xscore"))
    )
    exact = (
        cands.join(extra, "docid", "left")
        .select(
            "docid",
            F.round(
                F.col("pscore") + F.coalesce(F.col("xscore"), F.lit(0.0)),
                decimals,
            ).alias("score"),
        )
    )
    return exact.orderBy(F.col("score").desc(), F.col("docid").asc()).limit(k)


def topk_over_segments(
    spark: SparkSession, seg_dirs: list[str], query: str, k: int = 100
) -> DataFrame:
    """Search a log-structured LEVEL SET without collapsing it — the
    mid-stream query path for the incremental indexer
    (streaming/indexing.py): each segment stays as-built; only global
    statistics are recomputed.

    ``seg_dirs`` are ordered oldest → newest (docid offsets accumulate in
    that order, matching what a collapse via merge_indexes would assign).
    Global n_docs/avgdl come from segment stats; global per-term df is the
    sum over the segments' terms tables (pruned, tiny scans) → global idf
    driver-side. Each segment's pruned postings decode with the GLOBAL
    idf/avgdl and docids shift by the segment offset; one union + one
    groupBy scores everything. Result is identical to querying the
    collapsed index (tested to 1e-9). Every call loads fresh segment
    handles, so each call pays each segment's table resolution (file
    listing + schema inference) again."""
    from search_engine_spark.oracle.bm25 import bm25_idf

    idxs = [load_index(spark, d) for d in seg_dirs]
    if not idxs:
        return spark.createDataFrame([], "docid long, score double")
    terms = parse_query(query, stem=idxs[0].stats.get("stem", True))
    if not terms:
        return spark.createDataFrame([], "docid long, score double")
    n_docs = sum(ix.stats["n_docs"] for ix in idxs)
    avgdl = (
        sum(ix.stats["avgdl"] * ix.stats["n_docs"] for ix in idxs) / n_docs
        if n_docs
        else 0.0
    )
    df_global: dict[str, int] = {}
    for ix in idxs:
        for r in (
            ix.terms.filter(F.col("term").isin(terms))
            .select("term", "df")
            .collect()
        ):
            df_global[r["term"]] = df_global.get(r["term"], 0) + int(r["df"])
    if not df_global:
        return spark.createDataFrame([], "docid long, score double")
    idf_rows = [(t, bm25_idf(n_docs, d)) for t, d in sorted(df_global.items())]
    tstats = F.broadcast(
        spark.createDataFrame(idf_rows, "term string, idf double")
    )
    offset = 0
    parts = []
    for ix in idxs:
        blocks = ix.postings.filter(
            F.col("term").isin(list(df_global))
        ).join(tstats, "term")
        decoded = blocks.select("block", "idf").mapInPandas(
            _decode_rows_idf, schema="docid long, tf long, dl long, idf double"
        )
        parts.append(
            decoded.withColumn("docid", F.col("docid") + F.lit(offset))
        )
        offset += ix.stats["n_docs"]
    union = parts[0]
    for p in parts[1:]:
        union = union.unionByName(p)
    scored = (
        union.withColumn("part", _bm25_part_col(avgdl))
        .groupBy("docid")
        .agg(F.round(F.sum("part"), SCORE_ROUND).alias("score"))
    )
    return scored.orderBy(F.col("score").desc(), F.col("docid").asc()).limit(k)


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
    batch analogue of ``topk_distributed`` (which this reuses nothing from
    at runtime: one scan TOTAL, not one per query)."""
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
    avgdl = index.stats["avgdl"]

    qmap = spark.createDataFrame(pairs, "qid long, term string")
    tstats = index.terms.filter(F.col("term").isin(all_terms)).select(
        "term", "idf"
    )
    blocks = index.postings.filter(F.col("term").isin(all_terms)).select(
        "term", "block"
    )

    def decode_rows(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            t_l, d_l, f_l, l_l = [], [], [], []
            for term, blob in zip(pdf["term"], pdf["block"]):
                d, t, dl = decode_block_np(bytes(blob))
                t_l.extend([term] * len(d))
                d_l.append(d)
                f_l.append(t)
                l_l.append(dl)
            if not d_l:
                continue
            yield pd.DataFrame(
                {"term": pd.Series(t_l, dtype="object"),
                 "docid": np.concatenate(d_l),
                 "tf": np.concatenate(f_l),
                 "dl": np.concatenate(l_l)}
            )

    decoded = blocks.mapInPandas(
        decode_rows, schema="term string, docid long, tf long, dl long"
    )
    from pyspark.sql import Window

    from search_engine_spark.oracle.bm25 import B, K1

    scored = (
        decoded.join(F.broadcast(tstats), "term")
        .join(F.broadcast(qmap), "term")
        .withColumn(
            "part",
            F.col("idf") * F.col("tf") * F.lit(K1 + 1.0)
            / (
                F.col("tf")
                + F.lit(K1)
                * (F.lit(1.0 - B) + F.lit(B) * F.col("dl") / F.lit(avgdl))
            ),
        )
        .groupBy("qid", "docid")
        # rank on the same emission-rounded value (decimals defaults to
        # the library-wide SCORE_ROUND so batch and single-query paths
        # implement ONE tie semantics; gate entries pass 6 to rank on the
        # exact values their cross-engine oracle ranks on)
        .agg(F.round(F.sum("part"), decimals).alias("score"))
    )
    w = Window.partitionBy("qid").orderBy(
        F.col("score").desc(), F.col("docid").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", "docid", "score", "rank")
    )


# ---------------------------------------------------------------------------
# Driver-side Block-Max WAND
# ---------------------------------------------------------------------------

class _Cursor:
    """Posting cursor over the (bucket, block_id)-ordered blocks of a term.

    Blocks decode lazily; ``shallow_advance`` moves across block metadata
    without decoding (the block-max skip)."""

    __slots__ = (
        "term", "idf", "blocks", "bi", "docids", "tfs", "dls", "pi", "ub",
    )

    def __init__(self, term: str, idf: float, blocks: list[tuple]):
        # blocks: list of (first_docid, last_docid, block_max_norm, blob)
        # where block_max_norm excludes the per-term idf factor (stored
        # idf-free by the indexer); all bounds here multiply idf back in.
        self.term = term
        self.idf = idf
        self.blocks = blocks
        self.bi = 0
        self.docids: list[int] = []
        self.tfs: list[int] = []
        self.dls: list[int] = []
        self.pi = 0
        # global upper bound = idf · max block_max (standard WAND term UB)
        self.ub = idf * max(b[2] for b in blocks) if blocks else 0.0
        self._load()

    _EMPTY = np.empty(0, dtype=np.int64)

    def _load(self) -> None:
        if self.bi < len(self.blocks):
            d, t, dl = decode_block_np(self.blocks[self.bi][3])
            self.docids, self.tfs, self.dls = d, t, dl
            self.pi = 0
        else:
            self.docids = self.tfs = self.dls = self._EMPTY
            self.pi = 0

    @property
    def exhausted(self) -> bool:
        return self.bi >= len(self.blocks)

    @property
    def doc(self) -> int:
        return int(self.docids[self.pi])

    @property
    def tf(self) -> int:
        return int(self.tfs[self.pi])

    @property
    def dl(self) -> int:
        return int(self.dls[self.pi])

    @property
    def block_max(self) -> float:
        return self.idf * self.blocks[self.bi][2]

    @property
    def block_last(self) -> int:
        return self.blocks[self.bi][1]

    def next_geq(self, target: int) -> None:
        """Advance to the first posting with docid >= target. Skipped
        blocks are passed over on METADATA alone — only the landing block
        decodes (the whole point of block-max skipping; decoding each
        intermediate block made a long skip cost O(skipped) decodes)."""
        moved = False
        while not self.exhausted and self.blocks[self.bi][1] < target:
            self.bi += 1
            moved = True
        if self.exhausted:
            self.docids = self.tfs = self.dls = self._EMPTY
            return
        if moved or not len(self.docids):
            self._load()
        # binary search within the decoded block (never moves backwards:
        # postings before pi are already consumed)
        self.pi = max(
            self.pi, int(np.searchsorted(self.docids, target, side="left"))
        )
        if self.pi >= len(self.docids):
            # current block fully consumed; move on without decoding — the
            # recursion's metadata loop picks the landing block
            self.bi += 1
            self.docids = self.tfs = self.dls = self._EMPTY
            if self.exhausted:
                return
            self.next_geq(target)

    def advance(self) -> None:
        self.pi += 1
        if self.pi >= len(self.docids):
            self.bi += 1
            self._load()


def _fetch_term_blocks(index: Index, terms: list[str]) -> dict[str, list[tuple]]:
    """Collect (bucket, block_id)-ordered block metadata + bytes per term.
    One partition-pruned scan for all query terms."""
    rows = (
        index.postings.filter(F.col("term").isin(terms))
        .select(
            "term", "bucket", "block_id", "first_docid", "last_docid",
            "block_max", "block", "n",
        )
        .collect()
    )
    out: dict[str, list[tuple]] = {}
    for r in rows:
        out.setdefault(r["term"], []).append(
            (r["bucket"], r["block_id"], r["first_docid"], r["last_docid"],
             r["block_max"], bytes(r["block"]), r["n"])
        )
    for t in out:
        out[t].sort(key=lambda x: (x[0], x[1]))
        out[t] = [(f, l, m, b, n) for (_bk, _bi, f, l, m, b, n) in out[t]]
    return out


def _topk_bulk(
    blocks: dict[str, list[tuple]],
    idfs: dict[str, float],
    avgdl: float,
    k: int,
) -> list[tuple[int, float]]:
    """Vectorized exhaustive scoring of the fetched blocks (numpy): decode
    every block, compute BM25 partials array-at-a-time, sum per docid via
    sorted reduceat, partial-select top-k. Exact — same result as WAND —
    and ~100× faster than the Python DAAT loop when pruning cannot help."""
    from search_engine_spark.oracle.bm25 import B, K1

    d_l, p_l = [], []
    for t, blks in blocks.items():
        idf = idfs[t]
        for _f, _l, _m, blob, _n in blks:
            d, tf, dl = decode_block_np(blob)
            if not len(d):
                continue
            tf = tf.astype(np.float64)
            part = (
                idf * tf * (K1 + 1.0)
                / (tf + K1 * (1.0 - B + B * dl.astype(np.float64) / avgdl))
            )
            d_l.append(d)
            p_l.append(part)
    if not d_l:
        return []
    docids = np.concatenate(d_l)
    parts = np.concatenate(p_l)
    order = np.argsort(docids, kind="stable")  # stable: per-doc term order
    d_s, p_s = docids[order], parts[order]
    starts = np.nonzero(np.concatenate(([True], d_s[1:] != d_s[:-1])))[0]
    uniq = d_s[starts]
    sums = np.round(np.add.reduceat(p_s, starts), SCORE_ROUND)
    top = np.lexsort((uniq, -sums))[:k]
    return [(int(uniq[i]), float(sums[i])) for i in top]


# When the query's posting lists cover more than this fraction of the
# corpus (per term on average), block-max pruning cannot skip anything
# useful and the vectorized exhaustive path wins by orders of magnitude.
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
    index: Index,
    query: str,
    k: int = 100,
    strategy: str = "auto",
    driver_postings_max: int | None = None,
) -> list[tuple[int, float]]:
    """Exact BM25 top-k, driver-side (the interactive path).

    ``strategy="auto"`` picks between two EXACT executions over the same
    partition-pruned block fetch: document-at-a-time Block-Max WAND
    (Ding & Suel 2011) when the query terms are selective enough for
    block skipping to pay, and vectorized exhaustive scoring
    (``_topk_bulk``) when the posting lists cover most of the corpus —
    there a Python posting-at-a-time loop is pure overhead because no
    block can be skipped. Both return [(docid, score)] sorted
    (score desc, docid asc), identical to the exhaustive oracle.

    Document lengths come from the posting blocks themselves (codec v3),
    so the query path touches ONLY the pruned postings + terms for the
    query — never the docs table (collecting it was O(corpus) per fresh
    index handle; fatal at 10^12 docs).

    Driver-memory guard: the terms lookup below also reads ``df``, and
    when the query's total posting count exceeds ``driver_postings_max``
    (default :data:`DRIVER_POSTINGS_MAX`) the block bytes are NEVER
    collected — the call hands off to ``topk_distributed_pruned`` and
    returns its (rank- and score-identical) result. The preflight costs
    zero extra Spark jobs."""
    if driver_postings_max is None:
        driver_postings_max = DRIVER_POSTINGS_MAX
    terms = parse_query(query, stem=index.stats.get("stem", True))
    if not terms:
        return []
    avgdl = index.stats["avgdl"]
    trows = (
        index.terms.filter(F.col("term").isin(terms))
        .select("term", "idf", "df")
        .collect()
    )
    idfs = {r["term"]: r["idf"] for r in trows}
    if sum(r["df"] for r in trows) > driver_postings_max:
        rows = topk_distributed_pruned(index, query, k).collect()
        return [(int(r["docid"]), float(r["score"])) for r in rows]
    blocks = _fetch_term_blocks(index, [t for t in terms if t in idfs])
    if strategy == "auto":
        n_docs = max(1, index.stats["n_docs"])
        total_postings = sum(
            sum(b[4] for b in blks) for blks in blocks.values()
        )
        per_term = total_postings / max(1, len(blocks))
        strategy = (
            "bulk" if per_term >= BULK_SCORE_DF_FRACTION * n_docs else "wand"
        )
    if strategy == "bulk":
        return _topk_bulk(blocks, idfs, avgdl, k)
    cursors = [
        _Cursor(t, idfs[t], blocks[t]) for t in terms if blocks.get(t)
    ]
    cursors = [c for c in cursors if not c.exhausted]
    if not cursors:
        return []

    heap: list[tuple[float, int]] = []  # min-heap of (score, -docid)
    theta = 0.0

    def push(docid: int, score: float) -> None:
        nonlocal theta
        item = (score, -docid)
        if len(heap) < k:
            heapq.heappush(heap, item)
            if len(heap) == k:
                theta = heap[0][0]
        elif item > heap[0]:
            heapq.heapreplace(heap, item)
            theta = heap[0][0]

    while True:
        live = [c for c in cursors if not c.exhausted]
        if not live:
            break
        live.sort(key=lambda c: c.doc)
        # pivot: smallest prefix of (doc-sorted) cursors whose UB sum can
        # beat theta. Docs strictly below pivot_doc cannot enter the top-k,
        # so cursors may be advanced past them (classic WAND invariant).
        acc = 0.0
        pivot_i = -1
        for i, c in enumerate(live):
            acc += c.ub
            if len(heap) < k or acc > theta - SCORE_SLACK:
                pivot_i = i
                break
        if pivot_i < 0:
            break  # no remaining document can beat theta
        pivot_doc = live[pivot_i].doc

        if len(heap) >= k:
            # Block-max refinement (BMW): shallow-align the blocks of every
            # cursor at doc <= pivot_doc (skipped postings all have
            # docid < pivot_doc — already excluded by the WAND invariant),
            # then test the block-max sum against theta.
            group = [c for c in live if c.doc <= pivot_doc]
            for c in group:
                # metadata-only shallow advance; decode once on landing
                moved = False
                while not c.exhausted and c.block_last < pivot_doc:
                    c.bi += 1
                    moved = True
                if moved:
                    c._load()
            group = [c for c in group if not c.exhausted]
            if not group:
                continue
            bm_sum = sum(c.block_max for c in group)
            if bm_sum <= theta - SCORE_SLACK:
                # No doc in [pivot_doc, boundary] scored from the group's
                # current blocks can beat theta; jump past the smallest
                # block boundary, clamped at the next non-group cursor's doc
                # so no doc with cross-cursor contributions is skipped.
                boundary = min(c.block_last for c in group)
                target = boundary + 1
                nxt = min(
                    (c.doc for c in live
                     if not c.exhausted and c.doc > pivot_doc),
                    default=None,
                )
                if nxt is not None:
                    target = min(target, nxt)
                target = max(target, pivot_doc + 1)
                for c in group:
                    if not c.exhausted and c.doc < target:
                        c.next_geq(target)
                continue

        # deep alignment: move every cursor below the pivot up to it
        # (safe per the WAND invariant; no-op when the heap isn't full,
        # because then pivot_i == 0 == the smallest doc).
        advanced = False
        for c in live:
            if not c.exhausted and c.doc < pivot_doc:
                c.next_geq(pivot_doc)
                advanced = True
        if advanced:
            continue  # re-sort and re-pivot with fresh positions

        # all live cursors sit at doc >= pivot_doc → fully score pivot_doc
        s = 0.0
        for c in live:
            if not c.exhausted and c.doc == pivot_doc:
                s += bm25_term_score(c.tf, c.dl, avgdl, c.idf)
                c.advance()
        # the heap holds the EMITTED (rounded) score: at the k boundary the
        # raw comparison could keep a doc the rounded (score desc, docid
        # asc) contract would drop
        push(pivot_doc, round(s, SCORE_ROUND))

    out = sorted(
        ((-d, round(s, SCORE_ROUND)) for s, d in heap),
        key=lambda x: (-x[1], x[0]),
    )
    return [(d, s) for d, s in out]


# ---------------------------------------------------------------------------
# Phrase search
# ---------------------------------------------------------------------------

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


def _phrase_term_offsets(phrase: str) -> dict[str, list[int]]:
    """unique term → 0-based offsets of its occurrences in the phrase."""
    terms = [t for t, _ in tokenize(phrase, stem=False, cap=None)]
    offs: dict[str, list[int]] = {}
    for o, t in enumerate(terms):
        offs.setdefault(t, []).append(o)
    return offs


def phrase_docs(
    index: Index, phrase: str, driver_postings_max: int | None = None
) -> list[int]:
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
    if driver_postings_max is None:
        driver_postings_max = DRIVER_POSTINGS_MAX
    if df_by_term[order[0]] > driver_postings_max:
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
            import bisect

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
