"""Driver contract for the spark-graft builder (PySpark target).

`queries()` exposes one entry per implemented operator family from
SURVEY.md §2 (Flame runtime ops §2.1, text/search ops §2.2, query-side ops
§2.3) plus the training-data-pipeline operators (dedup incl. near-dup
clustering / similarity / text-analysis / multimodal binary columns /
temporal as-of + range joins / sampling incl. stratified / mid-stream
segment search). Every registered query has a full value-hash DuckDB
oracle — `oracle_sql()` gives the exact mirror of each; column names and
rounding match on both sides.

Cross-engine float policy: scores/cosines rounded to 6 dp before ranking;
money sums in integer cents (per-row round→BIGINT, associative and
engine-independent — DECIMAL and raw timestamps hash differently across
engines even at equal values); time buckets as formatted strings;
deterministic tie-breaks everywhere.
"""

from __future__ import annotations

import hashlib
import os
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from search_engine_spark.operators import bpe as BPE
from search_engine_spark.operators import dedup as D
from search_engine_spark.operators import packing as PK
from search_engine_spark.operators import sampling as SMP
from search_engine_spark.operators import serving as SV
from search_engine_spark.operators import similarity as S
from search_engine_spark.operators import multimodal as MM
from search_engine_spark.operators import text_ops as T
from search_engine_spark.operators import textstats as TS
from search_engine_spark.operators import urls as U
from search_engine_spark.operators.indexer import build_index
from search_engine_spark.operators import query as IQ
from search_engine_spark.functions.hashing import (
    md5_int32_hi_sql,
    md5_int32_sql,
    md5_two_hash_sql,
)
from search_engine_spark.oracle.bm25 import B, K1
from search_engine_spark.oracle.text import STOPWORDS

SF_DEFAULT = "/root/testdata/sf0.001"


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


# DuckDB token fragments (mirror operators/text_ops.tokens_col exactly)
TOKS_CTE = (
    "toks AS (SELECT doc_id AS docid, "
    "list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') "
    "AS toks FROM documents)"
)
FLAT_CTE = (
    "flat AS (SELECT docid, t.term FROM toks, unnest(toks.toks) AS t(term))"
)
POS_CTE = (
    "pos AS (SELECT docid, g.i AS pos, list_extract(toks, g.i) AS term "
    "FROM toks, unnest(generate_series(1, len(toks))) AS g(i))"
)
STOP_LIST = ", ".join(f"'{s}'" for s in sorted(STOPWORDS))


# ---------------------------------------------------------------------------
# Index cache: build the block index over the sf documents table once
# ---------------------------------------------------------------------------

INDEX_FORMAT = 3  # bump when the on-disk block format/semantics change


def _cached_index(
    spark: SparkSession, sf_dir: str, stem: bool = False
) -> IQ.Index:
    key = hashlib.md5(f"{sf_dir}:{int(stem)}".encode()).hexdigest()[:10]
    out = os.path.join(
        tempfile.gettempdir(), f"se_spark_idx_v{INDEX_FORMAT}_{key}"
    )
    if not os.path.exists(os.path.join(out, "stats.json")):
        docs = _t(spark, sf_dir, "documents").select(
            F.col("doc_id").cast("string").alias("url"),
            F.col("text"),
            F.lit("en").alias("lang"),
        )
        # doc_id is already dense+unique; use it as url so url-rank == doc_id
        docs = docs.withColumn("url", F.lpad("url", 12, "0"))
        build_index(docs, out, lang="en", stem=stem, cap=None)
    return IQ.load_index(spark, out)


def _cached_segments(spark: SparkSession, sf_dir: str) -> list[str]:
    """Two segment indexes over a doc_id split of the documents table —
    the un-collapsed level-set shape the streaming indexer maintains.
    Lexical url order == doc_id order, so segment docid offsets reproduce
    the global docid = doc_id mapping the oracle scores against."""
    key = hashlib.md5(f"{sf_dir}:seg".encode()).hexdigest()[:10]
    base = os.path.join(
        tempfile.gettempdir(), f"se_spark_seg_v{INDEX_FORMAT}_{key}"
    )
    dirs = [os.path.join(base, "a"), os.path.join(base, "b")]
    if not all(os.path.exists(os.path.join(d, "stats.json")) for d in dirs):
        src = _t(spark, sf_dir, "documents")
        half = src.count() // 2
        docs = src.select(
            F.lpad(F.col("doc_id").cast("string"), 12, "0").alias("url"),
            F.col("text"),
            F.lit("en").alias("lang"),
            F.col("doc_id"),
        )
        build_index(
            docs.filter(F.col("doc_id") < half).drop("doc_id"),
            dirs[0], lang="en", stem=False, cap=None,
        )
        build_index(
            docs.filter(F.col("doc_id") >= half).drop("doc_id"),
            dirs[1], lang="en", stem=False, cap=None,
        )
    return dirs


# ---------------------------------------------------------------------------
# Spark-side query callables
# ---------------------------------------------------------------------------

def _docs(spark, sf_dir):
    return _t(spark, sf_dir, "documents")


def q_term_frequencies(spark, sf_dir):
    """T5: per-(doc, term) tf accumulation."""
    return T.term_frequencies(_docs(spark, sf_dir))


def q_doc_lengths(spark, sf_dir):
    return T.doc_lengths(_docs(spark, sf_dir))


def q_document_frequencies(spark, sf_dir):
    """T7: per-term df/cf AND idf = ln((N-df+.5)/(df+.5)+1) in one result
    (the separate r1/r2 `idf` entry is folded in here — same aggregation,
    one driver-gate slot)."""
    docs = _docs(spark, sf_dir)
    n = docs.count()
    return T.document_frequencies(docs).select(
        "term",
        "df",
        "cf",
        F.round(T.bm25_idf_col(n, F.col("df")), 6).alias("idf"),
    )


def q_idf(spark, sf_dir):
    """T7 (extra-gate): idf-only projection, kept for the local mirror."""
    docs = _docs(spark, sf_dir)
    n = docs.count()
    return (
        T.document_frequencies(docs)
        .select(
            "term",
            "df",
            F.round(T.bm25_idf_col(n, F.col("df")), 6).alias("idf"),
        )
    )


def q_bm25_multi(spark, sf_dir):
    """Q4-replacement: exhaustive BM25 top-k — the common multi-term query
    and the rare-term query in one driver slot, tagged by ``q`` (merges the
    r2 `bm25_rare` entry; both stay standalone in extras)."""
    docs = _docs(spark, sf_dir)
    multi = T.bm25_topk(docs, "spark table join", k=20).withColumn(
        "q", F.lit("multi")
    )
    rare = T.bm25_topk(docs, "customer stream vector", k=15).withColumn(
        "q", F.lit("rare")
    )
    return multi.unionByName(rare).select("q", "docid", "score")


def q_bm25_single(spark, sf_dir):
    return T.bm25_topk(_docs(spark, sf_dir), "window", k=20)


def q_bm25_rare(spark, sf_dir):
    return T.bm25_topk(_docs(spark, sf_dir), "customer stream vector", k=15)


# Q5/Q8 gate shapes. The documents table has no url column, so a url is
# derived deterministically per doc — source + FIRST TOKEN + docid — and the
# SAME expression is mirrored in the oracle SQL; query terms land in the url
# exactly when a doc's lead token is a query term, so the ×50 branch is
# actually exercised (an all-digit url would make the boost vacuous).
BOOST_QUERY = "spark table join"  # porter("table")="tabl" → stem pass bites


def _gate_url_col():
    first_tok = F.coalesce(
        F.element_at(T.tokens_col("text"), 1), F.lit("")
    )
    return F.concat(
        F.lit("https://"), F.col("source"), F.lit(".example/"),
        first_tok, F.lit("/"), F.col("doc_id").cast("string"),
    )


_GATE_URL_SQL = (
    "'https://' || source || '.example/' || "
    "coalesce((list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),"
    " x -> x <> ''))[1], '') || '/' || CAST(doc_id AS VARCHAR)"
)


def q_boosted_topk(spark, sf_dir):
    """Q5 (frontend/Master.java:375-601): BM25 top-k with the ×50
    url-substring boost and the ×25 stemmed-pass weight."""
    return T.boosted_topk(
        _docs(spark, sf_dir), BOOST_QUERY, k=20, url=_gate_url_col()
    )


def q_rank_fusion(spark, sf_dir):
    """Q8 (jobs/IndexerProjectVersion1.java:307-328): harmonic fusion of
    PageRank (10 rounds over the synthetic link graph — same relation as
    the `pagerank` entry) with the COMPLETE BM25 match set."""
    from search_engine_spark.operators import pagerank as PR

    docs = _docs(spark, sf_dir)
    n = docs.count()
    ids = docs.select("doc_id")
    pr = PR.pagerank(PR.synthetic_edges(ids, n), nodes=ids, iters=10)
    bm = T.bm25_topk(docs, BOOST_QUERY, k=10_000)
    return PR.rank_fusion(bm, pr, k=20)


def q_boost_fusion(spark, sf_dir):
    """Q5 + Q8 + title-field BM25F in one driver slot, tagged by
    ``method`` ('boost' rows = url/stem-boosted BM25 top-20, 'fusion'
    rows = harmonic PageRank×BM25 top-20, 'title' rows = BM25F with the
    real <title>-extraction field, r5 rotation of the r4 extras-only
    family into the driver gate). Each leg is also a standalone extras
    entry."""
    boosted = q_boosted_topk(spark, sf_dir).withColumn(
        "method", F.lit("boost")
    )
    fused = q_rank_fusion(spark, sf_dir).withColumn("method", F.lit("fusion"))
    titled = q_bm25f_title(spark, sf_dir).withColumn(
        "method", F.lit("title")
    )
    return (
        boosted.unionByName(fused).unionByName(titled)
        .select("method", "docid", "score")
    )


def q_bm25_index_all(spark, sf_dir):
    """The full block-index pipeline (build → partition-pruned scan →
    decode → score): k larger than the corpus so the result is the complete
    match set — directly comparable to the SQL oracle."""
    idx = _cached_index(spark, sf_dir)
    out = IQ.topk_distributed(idx, "spark table join", k=10_000, decimals=6)
    return out.select("docid", "score")


def q_bm25_index_topk20(spark, sf_dir):
    """Distributed top-k at k=20 (TakeOrderedAndProject over the scored
    match set)."""
    idx = _cached_index(spark, sf_dir)
    # decimals=6: rank on the same 6-dp values the cross-engine oracle
    # ranks on (a post-hoc round can flip the k-boundary tie order)
    out = IQ.topk_distributed(idx, "spark table join", k=20, decimals=6)
    return out.select("docid", "score")


BATCH_QUERIES = {0: "spark table join", 1: "window", 2: "customer stream vector"}


def q_bm25_batch(spark, sf_dir):
    """Bulk query evaluation: 3 queries, ONE pruned scan + decode."""
    idx = _cached_index(spark, sf_dir)
    # decimals=6: ranks must be computed on the same 6-dp values the
    # cross-engine oracle ranks on (library default stays SCORE_ROUND)
    return IQ.topk_batch(idx, BATCH_QUERIES, k=15, decimals=6)


def q_topk_urls(spark, sf_dir):
    """Result assembly: (docid, url, score, snippet, title) — the full
    answer shape the reference frontend returns (frontend/Master.java:
    228-256 folds titles.table in per hit). The documents table has no
    html, so pages are wrapped deterministically (title = first 4 tokens)
    and the REAL <title> regex-extraction path pulls it back out."""
    idx = _cached_index(spark, sf_dir)
    docs = _docs(spark, sf_dir)
    title = F.concat_ws(" ", F.slice(T.tokens_col("text"), 1, 4))
    corpus = docs.select(
        F.lpad(F.col("doc_id").cast("string"), 12, "0").alias("url"),
        "text",
        F.concat(
            F.lit("<html><head><title>"), title,
            F.lit("</title></head><body>"), F.col("text"),
            F.lit("</body></html>"),
        ).alias("html"),
    )
    return IQ.topk_with_urls(
        idx, corpus, "spark table join", k=20, html_col="html", decimals=6
    )


def _html_corpus(spark, sf_dir):
    """Deterministic raw-html pages over the documents table: a real
    <head><title> (first 4 tokens) + <body> = the doc text. The corpus
    text is clean printable ASCII with no entities/#/$%, so the pinned
    extraction (oracle/text.py) yields exactly 'title<space>body' — which
    is what lets the html-BUILT index be mirrored in SQL."""
    docs = _docs(spark, sf_dir)
    title = F.concat_ws(" ", F.slice(T.tokens_col("text"), 1, 4))
    return docs.select(
        F.lpad(F.col("doc_id").cast("string"), 12, "0").alias("url"),
        "text",
        F.concat(
            F.lit("<html><head><title>"), title,
            F.lit("</title></head><body>"), F.col("text"),
            F.lit("</body></html>"),
        ).alias("html"),
        F.lit("en").alias("lang"),
    )


def _cached_html_index(spark: SparkSession, sf_dir: str) -> IQ.Index:
    """Index built FROM RAW HTML (from_html=True: pinned extraction runs
    inside the tokenize stage) — the full Common-Crawl pipeline shape, on
    the gate path."""
    key = hashlib.md5(f"{sf_dir}:html".encode()).hexdigest()[:10]
    out = os.path.join(
        tempfile.gettempdir(), f"se_spark_hidx_v{INDEX_FORMAT}_{key}"
    )
    if not os.path.exists(os.path.join(out, "stats.json")):
        build_index(
            _html_corpus(spark, sf_dir), out,
            lang="en", stem=False, cap=None, from_html=True,
        )
    return IQ.load_index(spark, out)


def q_topk_urls_html(spark, sf_dir):
    """`topk_urls` over an index built from RAW HTML (extraction inside
    the build, reference IndexerProject.java:262-276) instead of the
    pre-extracted text column: the indexed text is 'title body', scores
    shift accordingly, and the <title> the answer carries is extracted
    from the same html the index was built from. Oracle: BM25 over
    concat(title_expr, ' ', text)."""
    idx = _cached_html_index(spark, sf_dir)
    return IQ.topk_with_urls(
        idx, _html_corpus(spark, sf_dir), "spark table join", k=20,
        html_col="html", decimals=6,
    )


def q_topk_urls_suite(spark, sf_dir):
    """Full answer-shape assembly over BOTH index builds in one driver
    slot (r5 rotation of the r4 extras-only html-built family into the
    driver gate), tagged by ``method``: 'text' rows come from the index
    built over the pre-extracted text column, 'html' rows from the index
    built from RAW html (extraction inside the build). Each half stays a
    standalone extras entry."""
    text = q_topk_urls(spark, sf_dir).withColumn("method", F.lit("text"))
    html = q_topk_urls_html(spark, sf_dir).withColumn(
        "method", F.lit("html")
    )
    return text.unionByName(html).select(
        "method", "docid", "url", "score", "snippet", "title"
    )


def q_stemmed_topk(spark, sf_dir):
    """T4 Porter dual-indexing on the GATE path: build a stemmed index and
    query it. Every term in the synthetic vocabulary has a singleton stem
    class, so the stemmed result equals the plain-token oracle exactly —
    the dual-indexing machinery (stem emission, query-side stemming,
    stemmed posting stats) is what's exercised."""
    idx = _cached_index(spark, sf_dir, stem=True)
    out = IQ.topk_distributed(idx, "table customer query", k=25, decimals=6)
    return out.select("docid", "score")


def q_sample_bernoulli(spark, sf_dir):
    """#14 sample: deterministic hash-Bernoulli (engine-portable; the
    native seeded df.sample is pytest-verified statistically)."""
    return SMP.bernoulli_sample(
        _docs(spark, sf_dir), 0.25, seed=7, key="doc_id"
    ).select("doc_id", "lang", "n_chars")


def q_top_terms(spark, sf_dir):
    return (
        T.document_frequencies(_docs(spark, sf_dir))
        .orderBy(F.col("cf").desc(), F.col("term").asc())
        .limit(20)
    )


def q_autocomplete(spark, sf_dir):
    """Q10: trie autocomplete as a declarative prefix query."""
    terms = T.document_frequencies(_docs(spark, sf_dir))
    return TS.autocomplete(terms, "s", k=10)


SPELL_QUERY = "custmer tabel bg window"  # misspellings (incl. one
# with multiple ranked candidates) + 1 exact hit


def q_spell_suggest(spark, sf_dir):
    """Did-you-mean: per query token, top-5 vocabulary terms within 2
    edits ranked (dist asc, df desc, term asc); an exact-vocab token
    returns only itself at dist 0. Length-window predicate pushed before
    any levenshtein evaluates; ranking windows only the survivors."""
    terms = T.document_frequencies(_docs(spark, sf_dir)).select("term", "df")
    return TS.spell_suggest(terms, SPELL_QUERY, k=5, max_dist=2)


def q_spell_symspell(spark, sf_dir):
    """SymSpell serving path for the same did-you-mean contract: build
    the delete-variants index from the vocabulary (the precompute-once
    table; fan-out <= 1 + L + L(L-1)/2 per term), then answer
    SPELL_QUERY via a variant-IN pushed probe + exact levenshtein
    verify. Oracle: the SAME SQL as spell_suggest — the gate proves the
    deletes-join is output-identical to the brute scan at sf scale."""
    terms = T.document_frequencies(_docs(spark, sf_dir)).select("term", "df")
    deletes = TS.spell_deletes_index(terms, max_dist=2)
    return TS.spell_suggest_symspell(deletes, SPELL_QUERY, k=5, max_dist=2)


def q_query_assist(spark, sf_dir):
    """Q10 autocomplete + did-you-mean spell suggestion in one driver
    slot (r5 rotation of the r4 extras-only spell family into the driver
    gate), tagged by ``method``: 'auto' rows are the top-10 prefix
    completions (dist = -1, qterm = the prefix), 'spell' rows the ranked
    edit-distance suggestions from the brute length-window scan, and
    'symspell' rows the SAME contract served from the SymSpell
    deletes-index (both spell legs share one oracle SQL — the driver
    gate itself proves the two physical paths are output-identical).
    Each leg stays a standalone extras entry."""
    auto = q_autocomplete(spark, sf_dir).select(
        F.lit("auto").alias("method"),
        F.lit("s").alias("qterm"),
        F.col("term").alias("suggestion"),
        F.lit(-1).cast("long").alias("dist"),
        F.col("df").cast("long").alias("df"),
    )
    spell = q_spell_suggest(spark, sf_dir).select(
        F.lit("spell").alias("method"),
        "qterm",
        "suggestion",
        F.col("dist").cast("long").alias("dist"),
        F.col("df").cast("long").alias("df"),
    )
    symspell = q_spell_symspell(spark, sf_dir).select(
        F.lit("symspell").alias("method"),
        "qterm",
        "suggestion",
        F.col("dist").cast("long").alias("dist"),
        F.col("df").cast("long").alias("df"),
    )
    return auto.unionByName(spell).unionByName(symspell)


def q_phrase(spark, sf_dir):
    """Q9: adjacency phrase search via position self-join."""
    toks = T.exploded_terms(_docs(spark, sf_dir))
    a = toks.filter(F.col("term") == "hash").select("docid", "pos")
    b = toks.filter(F.col("term") == "join").select(
        "docid", (F.col("pos") - 1).alias("pos")
    )
    return a.join(b, ["docid", "pos"]).select("docid").distinct()


def q_phrase_index(spark, sf_dir):
    """Q9 via the index: distributed position-join over decoded blocks."""
    idx = _cached_index(spark, sf_dir)
    return IQ.phrase_docs_distributed(idx, "hash join")


def q_distinct_terms(spark, sf_dir):
    """#15/#17: distinct + global count."""
    return (
        T.exploded_terms(_docs(spark, sf_dir))
        .select("term").distinct()
        .agg(F.count(F.lit(1)).alias("n_terms"))
    )


def q_corpus_stats(spark, sf_dir):
    """#9 global fold + #15/#17 distinct-count: n_docs, avgdl and the
    distinct vocabulary size in one result (the r1/r2 `distinct_terms`
    entry folded in — one driver-gate slot)."""
    docs = _docs(spark, sf_dir)
    dl = T.doc_lengths(docs).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("dl"), 6).alias("avgdl"),
    )
    nt = (
        T.exploded_terms(docs)
        .select("term")
        .distinct()
        .agg(F.count(F.lit(1)).alias("n_terms"))
    )
    return dl.crossJoin(nt)


# --- relational / Flame-op coverage over the TPC-H-ish tables ---------------

def q_filter_project(spark, sf_dir):
    """#2 fromTable (scan+project) + #12 filter."""
    li = _t(spark, sf_dir, "lineitem")
    return li.filter(F.col("l_quantity") > 45).select(
        "l_orderkey", "l_partkey", "l_quantity"
    )


def q_join_agg(spark, sf_dir):
    """#10 join + #8 foldByKey: revenue per market segment (DECIMAL-exact)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("decimal(38,2)")
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


def q_cogroup(spark, sf_dir):
    """#11 cogroup: per-nation customer & supplier counts, full outer."""
    c = (
        _t(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(F.count(F.lit(1)).alias("n_cust"))
    )
    s = (
        _t(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("nationkey"))
        .agg(F.count(F.lit(1)).alias("n_supp"))
    )
    return (
        c.join(s, "nationkey", "full_outer")
        .select(
            "nationkey",
            F.coalesce("n_cust", F.lit(0)).alias("n_cust"),
            F.coalesce("n_supp", F.lit(0)).alias("n_supp"),
        )
    )


def q_foldbykey(spark, sf_dir):
    """#8 foldByKey over events: per-user value sum, exact in integer
    cents (per-row round→BIGINT before the sum: associative, engine- and
    order-independent — r1/r2's DECIMAL output hashed differently across
    engines even when values compared equal)."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.sum(F.round(F.col("value") * 100).cast("bigint"))
        .alias("total_cents"),
        F.count(F.lit(1)).alias("n_events"),
    )


def q_fold_global(spark, sf_dir):
    """#9 fold: global lineitem aggregate (partial+final). l_quantity is
    integer-valued → exact BIGINT sum (no DECIMAL in the result type)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("l_quantity").cast("bigint")).alias("sum_qty"),
        F.round(F.avg("l_discount"), 6).alias("avg_disc"),
    )


def q_distinct_flags(spark, sf_dir):
    """#15 distinct."""
    return _t(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_linestatus"
    ).distinct()


def q_take_ordered(spark, sf_dir):
    """#16 take(n), deterministic: top-10 orders by totalprice."""
    return (
        _t(spark, sf_dir, "orders")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(10)
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


def q_sample_mod(spark, sf_dir):
    """#14 sample, made deterministic (docid ≡ 0 mod 7)."""
    return _docs(spark, sf_dir).filter(F.col("doc_id") % 7 == 0).select(
        "doc_id", "lang", "n_chars"
    )


def q_union_merge(spark, sf_dir):
    """T9 MergeIndexes: df-stats of two disjoint halves, unioned and merged
    — equals the whole-corpus stats by construction."""
    docs = _docs(spark, sf_dir)
    a = T.document_frequencies(docs.filter(F.col("doc_id") % 2 == 0))
    b = T.document_frequencies(docs.filter(F.col("doc_id") % 2 == 1))
    return (
        a.unionByName(b)
        .groupBy("term")
        .agg(F.sum("df").alias("df"), F.sum("cf").alias("cf"))
    )


def q_intersection(spark, sf_dir):
    """#20 intersection (unimplemented in the reference; real here): terms
    appearing in both src0 and src1 documents."""
    docs = _docs(spark, sf_dir)
    a = T.exploded_terms(docs.filter(F.col("source") == "src0")).select("term")
    b = T.exploded_terms(docs.filter(F.col("source") == "src1")).select("term")
    return a.intersect(b)


def q_tpch_pricing(spark, sf_dir):
    """TPC-H Q1-style pricing summary (grouping agg coverage). Money in
    integer cents (exact, hash-stable across engines)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(F.col("l_quantity").cast("bigint")).alias("sum_qty"),
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("bigint"))
        .alias("sum_price_cents"),
        F.count(F.lit(1)).alias("n"),
    )


def q_window_top_order(spark, sf_dir):
    """Window function: each customer's largest order."""
    from pyspark.sql import Window

    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("o_custkey", "o_orderkey", "o_totalprice")
    )


def q_events_hourly(spark, sf_dir):
    """Tumbling-window aggregation (batch mirror of the streaming op).
    Hour bucket emitted as a formatted STRING and the value sum in integer
    cents — no timestamp/DECIMAL in the result schema (both hashed
    differently across engines in r1/r2 despite equal values)."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy(
        F.date_format(F.date_trunc("hour", F.col("ts")), "yyyy-MM-dd HH:mm:ss")
        .alias("hour"),
        "event_type",
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.round(F.col("value") * 100).cast("bigint"))
        .alias("sum_cents"),
    )


def q_events_json(spark, sf_dir):
    """Scalar-function coverage: extract the numeric k from the props JSON
    (regex, engine-portable) and histogram it."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.select(
            F.regexp_extract(F.col("props"), r'"k":\s*(\d+)', 1)
            .cast("int")
            .alias("k")
        )
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def q_events_rollup(spark, sf_dir):
    """Grouping-sets coverage (SURVEY §2.4 lists rollup/cube as absent in
    the reference — present here): per-(type, day) counts plus per-type
    and grand-total subtotal rows in one aggregation pass."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.withColumn(
            "day", F.date_format(F.col("ts"), "yyyy-MM-dd")
        )
        .rollup("event_type", "day")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("bigint"))
            .alias("sum_cents"),
        )
    )


def q_sessionize(spark, sf_dir):
    """Gap-based sessionization (30-min inactivity) via lag + running sum."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    epoch = F.unix_timestamp(F.col("ts").cast("timestamp"))
    flagged = ev.withColumn(
        "new_sess",
        F.when(
            epoch - F.lag(epoch, 1, 0).over(w) > 1800,
            1,
        ).otherwise(0),
    ).withColumn("session_id", F.sum("new_sess").over(w))
    return flagged.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("start_ts"),
        F.max("ts").alias("end_ts"),
    )


# --- dedup / similarity / text analysis -------------------------------------

def q_dedup_exact(spark, sf_dir):
    return D.exact_dedup_groups(_docs(spark, sf_dir))


def q_jaccard_pairs(spark, sf_dir):
    return D.jaccard_pairs(_docs(spark, sf_dir), threshold=0.08)


def q_jaccard_prefix(spark, sf_dir):
    """High-threshold variant: exercises the PPJoin prefix-filter path."""
    return D.jaccard_pairs(_docs(spark, sf_dir), threshold=0.3)


PARA_CHUNK = 3  # tokens per synthetic paragraph (small => real cross-doc dups)


def _para_docs(spark, sf_dir):
    """documents with text re-chunked into '\n\n'-separated 3-token
    paragraphs (the flat synthetic text has no paragraph structure of its
    own); 3-token windows over a ~60-term vocabulary produce genuine
    cross-doc duplicate paragraphs for the dedup to bite on."""
    toks = T.tokens_col("text")
    n_chunks = F.ceil(F.size(toks) / F.lit(PARA_CHUNK)).cast("int")
    paras = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.concat_ws(
            " ", F.slice(toks, i * PARA_CHUNK + 1, PARA_CHUNK)
        ),
    )
    return _docs(spark, sf_dir).select(
        "doc_id",
        F.array_join(paras, "\n\n").alias("text"),
    ).filter(F.size(toks) > 0)


def q_paragraph_dedup(spark, sf_dir):
    """Corpus-wide exact paragraph dedup: every paragraph survives only at
    its first (docid, idx) occurrence; docs reassemble from survivors.
    One para-keyed hash agg + co-partitioned join + docid reassembly."""
    return D.paragraph_dedup(_para_docs(spark, sf_dir))


def q_dedup_exact_suite(spark, sf_dir):
    """Document-level exact dedup + corpus-wide paragraph dedup +
    substring-level duplicate spans in one driver slot (r5 rotation of
    the extras-only families into the driver gate), tagged by ``method``
    and normalized to a common (key, payload, n1, n2) shape: 'doc' rows
    are (content_hash, '', n_dupes, keep_docid), 'para' rows are (docid,
    clean_text, n_paras, n_kept), 'span' rows are (docid, '', span_start,
    span_end). Each leg stays a standalone extras entry."""
    doc = q_dedup_exact(spark, sf_dir).select(
        F.lit("doc").alias("method"),
        F.col("content_hash").alias("key"),
        F.lit("").alias("payload"),
        F.col("n_dupes").cast("long").alias("n1"),
        F.col("keep_docid").cast("long").alias("n2"),
    )
    para = q_paragraph_dedup(spark, sf_dir).select(
        F.lit("para").alias("method"),
        F.col("docid").cast("string").alias("key"),
        F.col("clean_text").alias("payload"),
        F.col("n_paras").alias("n1"),
        F.col("n_kept").alias("n2"),
    )
    span = q_dedup_spans(spark, sf_dir).select(
        F.lit("span").alias("method"),
        F.col("docid").cast("string").alias("key"),
        F.lit("").alias("payload"),
        F.col("span_start").alias("n1"),
        F.col("span_end").alias("n2"),
    )
    return doc.unionByName(para).unionByName(span)


def q_jaccard_both(spark, sf_dir):
    """jaccard_pairs + jaccard_prefix in one driver slot, tagged by
    ``method`` ('low' = 0.08 inverted-index fallback, 'prefix' = 0.3
    PPJoin prefix-filter path). Each half stays a standalone extras
    entry."""
    low = q_jaccard_pairs(spark, sf_dir).withColumn("method", F.lit("low"))
    pre = q_jaccard_prefix(spark, sf_dir).withColumn(
        "method", F.lit("prefix")
    )
    return low.unionByName(pre).select("method", "a", "b", "jaccard")


def q_minhash_sigs(spark, sf_dir):
    return D.minhash_signatures(_docs(spark, sf_dir))


def q_minhash_lsh_pairs(spark, sf_dir):
    return D.minhash_dedup_pairs(_docs(spark, sf_dir), threshold=0.05)


def q_dedup_clusters(spark, sf_dir):
    """Near-dup clustering: MinHash+LSH pairs closed under transitivity
    via iterative min-label propagation (connected components)."""
    return D.dedup_clusters(_docs(spark, sf_dir), threshold=0.05)


def q_dedup_keep(spark, sf_dir):
    """Near-dup-deduplicated table: one representative per transitive
    cluster (the curated-corpus output)."""
    return D.dedup_by_cluster(_docs(spark, sf_dir), threshold=0.05).select(
        "doc_id", "lang", "n_chars"
    )


def q_simhash(spark, sf_dir):
    return D.simhash(_docs(spark, sf_dir))


def q_cosine_topk(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    qv = [
        float(x)
        for x in emb.filter(F.col("vec_id") == 0).collect()[0]["embedding"]
    ]
    return S.cosine_topk(emb, qv, k=10, exclude_self=0)


def q_knn_join(spark, sf_dir):
    return S.knn_join(_t(spark, sf_dir, "embeddings"), [0, 1, 2], k=3)


def q_lang_id(spark, sf_dir):
    return TS.lang_id(_docs(spark, sf_dir))


def q_quality(spark, sf_dir):
    return TS.quality_score(_docs(spark, sf_dir))


def q_token_counts(spark, sf_dir):
    return TS.token_counts(_docs(spark, sf_dir))


BFS_MAX_HOPS = 6

_REDIRECT_ALIASES_SQL = (
    "SELECT DISTINCT concat('https://r.example/a/', doc_id::VARCHAR) AS src,"
    " concat('https://r.example/a/', (doc_id - 1)::VARCHAR) AS dst"
    " FROM documents WHERE doc_id % 10 <> 0"
    " UNION "
    "SELECT concat('https://r.example/c/', (doc_id % 2)::VARCHAR),"
    " concat('https://r.example/c/', ((doc_id + 1) % 2)::VARCHAR)"
    " FROM documents"
)


def q_anchor_texts(spark, sf_dir):
    """Inbound anchor text aggregated per canonical target url — the
    off-page relevance signal (pages rank for words others link with);
    same harvest/resolve chain as the frontier, one keyed aggregation."""
    from search_engine_spark.operators import frontier as FR

    return FR.anchor_texts(_frontier_pages(spark, sf_dir))


ANCHOR_QUERY = "a c i j"
BM25F_QUERY = "spark table join"


def q_bm25f(spark, sf_dir):
    """Weighted-field BM25F (body + inbound anchor text combined BEFORE
    saturation): each doc gets a synthetic url and one outbound anchor —
    to doc (d·13+7) mod N, carrying the linking doc's two lead tokens —
    so query terms arrive at targets via OTHER docs' words; full chain
    (pages → anchor harvest → field-combined scoring) mirrored in SQL."""
    from search_engine_spark.operators import frontier as FR

    docs = _docs(spark, sf_dir)
    n = docs.count()
    d = F.col("doc_id")
    url = F.concat(F.lit("https://w.example/page"), d.cast("string"))
    fdocs = docs.select(d.alias("doc_id"), url.alias("url"), "text")
    first2 = F.concat_ws(" ", F.slice(T.tokens_col("text"), 1, 2))
    pages = docs.select(
        url.alias("url"),
        F.concat(
            F.lit('<a href="/page'), ((d * 13 + 7) % n).cast("string"),
            F.lit('">'), first2, F.lit("</a>"),
        ).alias("html"),
    )
    anchors = FR.anchor_texts(pages)
    return T.bm25f_topk(fdocs, anchors, BM25F_QUERY, k=20)


TITLE_W = 3.0


def q_bm25f_title(spark, sf_dir):
    """Title-field BM25F (the classic title boost): the <title> extracted
    from the RAW html corpus becomes the second field, combined with the
    body tf BEFORE saturation (same early-combination machinery as the
    anchor variant — one saturation curve, so a weak title echo cannot
    outscore a strong body match). Title extraction is the REAL regex
    path over the html column."""
    from search_engine_spark.operators import query as IQm

    corpus = _html_corpus(spark, sf_dir)
    d = F.col("doc_id")
    fdocs = _docs(spark, sf_dir).select(
        "doc_id",
        F.lpad(d.cast("string"), 12, "0").alias("url"),
        "text",
    )
    titles = (
        corpus.select(
            F.col("url").alias("dst"),
            F.explode(T.tokens_col(IQm.title_expr("html"))).alias("term"),
        )
        .groupBy("dst", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    return T.bm25f_topk(fdocs, titles, BM25F_QUERY, k=20, w_anchor=TITLE_W)


def q_anchor_bm25(spark, sf_dir):
    """BM25 over the inbound-anchor bags: link targets ranked by the
    words other pages link to them with (off-page relevance — a target
    ranks for terms its own body never contains)."""
    from search_engine_spark.operators import frontier as FR

    return FR.anchor_bm25_topk(
        FR.anchor_texts(_frontier_pages(spark, sf_dir)), ANCHOR_QUERY, k=20
    )


def q_redirects(spark, sf_dir):
    """301-chain resolution by pointer doubling (Crawler.java:534-540
    re-enqueues one hop at a time; here the whole chain resolves in
    O(log chain) rounds). Alias map: /a/{d} → /a/{d-1} chains (terminal
    at each /a/{10k}) plus a deliberate 2-cycle /c/0 ⇄ /c/1 that must
    come back resolved=false."""
    from search_engine_spark.operators import frontier as FR

    d = F.col("doc_id")
    chains = (
        _docs(spark, sf_dir)
        .filter(d % 10 != 0)
        .select(
            F.concat(F.lit("https://r.example/a/"), d.cast("string")).alias("src"),
            F.concat(F.lit("https://r.example/a/"), (d - 1).cast("string")).alias("dst"),
        )
    )
    cycle = _docs(spark, sf_dir).select(
        F.concat(F.lit("https://r.example/c/"), (d % 2).cast("string")).alias("src"),
        F.concat(F.lit("https://r.example/c/"), ((d + 1) % 2).cast("string")).alias("dst"),
    )
    aliases = chains.unionByName(cycle).distinct()
    return FR.resolve_redirects(aliases, max_rounds=5)


def q_bfs_hops(spark, sf_dir):
    """The crawler's frontier LOOP (Crawler.java:604-787) as bounded BFS:
    minimum link distance from the seed set over the synthetic link graph
    (same edge relation as the `pagerank` entry); recursive-CTE oracle."""
    from search_engine_spark.operators import frontier as FR
    from search_engine_spark.operators import pagerank as PR

    docs = _docs(spark, sf_dir)
    ids = docs.select("doc_id")
    edges = PR.synthetic_edges(ids, docs.count())
    seeds = ids.filter(F.col("doc_id") % 97 == 0)
    return FR.bfs_hops(edges, seeds, max_hops=BFS_MAX_HOPS).select(
        F.col("node").alias("docid"), "hop"
    )


def q_lm_score(spark, sf_dir):
    """Unigram-LM cross-entropy per doc (the CCNet-family perplexity-
    filter signal), self-scored against the corpus's own add-one-smoothed
    model; integer micro-nat sums keep both engines bit-identical."""
    return TS.lm_score(_docs(spark, sf_dir))


def _sitemap_docs(spark, sf_dir):
    """documents + deterministic (url, xml) sitemap bodies: every 10th doc
    a <sitemapindex> (two child sitemaps, one with lastmod), the rest
    <urlset>s with a dated entry, a whitespace-padded <loc> (trim path),
    and a loc-less chunk (malformed-drop path). Mirrored in SQL by
    ``_SITEMAP_CTE``."""
    d = F.col("doc_id")

    def s(col):
        return col.cast("string")

    site = F.concat(F.lit("site"), s(d % 7), F.lit(".example"))
    dd = F.lpad(s(d % 28 + 1), 2, "0")
    urlset = F.concat(
        F.lit('<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">'),
        F.lit("<url><loc>https://"), site, F.lit("/p/"), s((d * 3) % 501),
        F.lit(".html</loc><lastmod>2026-01-"), dd,
        F.lit("</lastmod></url>"),
        F.lit("<url><loc>  https://"), site, F.lit("/q/"), s(d),
        F.lit(".html  </loc></url>"),
        F.lit("<url><priority>0.5</priority></url>"),
        F.lit("</urlset>"),
    )
    index = F.concat(
        F.lit("<sitemapindex><sitemap><loc>https://"), site, F.lit("/sm/"),
        s(d), F.lit("-1.xml</loc><lastmod>2026-02-"), dd,
        F.lit("</lastmod></sitemap><sitemap><loc>https://"), site,
        F.lit("/sm/"), s(d), F.lit("-2.xml</loc></sitemap></sitemapindex>"),
    )
    return _docs(spark, sf_dir).select(
        F.concat(
            F.lit("https://"), site, F.lit("/sitemap"), s(d), F.lit(".xml")
        ).alias("url"),
        F.when(d % 10 == 0, index).otherwise(urlset).alias("xml"),
    )


_SITEMAP_CTE = """
SELECT concat('https://site', (doc_id % 7)::VARCHAR, '.example/sitemap',
              doc_id::VARCHAR, '.xml') AS url,
       CASE WHEN doc_id % 10 = 0 THEN concat(
         '<sitemapindex><sitemap><loc>https://site', (doc_id % 7)::VARCHAR,
         '.example/sm/', doc_id::VARCHAR, '-1.xml</loc><lastmod>2026-02-',
         lpad((doc_id % 28 + 1)::VARCHAR, 2, '0'),
         '</lastmod></sitemap><sitemap><loc>https://site',
         (doc_id % 7)::VARCHAR, '.example/sm/', doc_id::VARCHAR,
         '-2.xml</loc></sitemap></sitemapindex>')
       ELSE concat(
         '<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">',
         '<url><loc>https://site', (doc_id % 7)::VARCHAR, '.example/p/',
         ((doc_id * 3) % 501)::VARCHAR, '.html</loc><lastmod>2026-01-',
         lpad((doc_id % 28 + 1)::VARCHAR, 2, '0'), '</lastmod></url>',
         '<url><loc>  https://site', (doc_id % 7)::VARCHAR, '.example/q/',
         doc_id::VARCHAR, '.html  </loc></url>',
         '<url><priority>0.5</priority></url></urlset>')
       END AS xml
FROM documents
"""


def q_sitemap_parse(spark, sf_dir):
    """Sitemaps.org parsing (urlset + sitemapindex, lastmod, loc trim,
    malformed-entry drop) — the push-side frontier seed channel."""
    from search_engine_spark.operators import frontier as FR

    return FR.sitemap_entries(_sitemap_docs(spark, sf_dir))


def q_c4_clean(spark, sf_dir):
    """C4 line-level cleaning (Raffel et al. 2020 §2.2): terminal-punct /
    min-words / javascript line rules + lorem/brace/sentence-count doc
    rules. The synthetic corpus is punctuation-free single-line text, so
    the gate injects sentence structure deterministically in BOTH engines
    ('batch' -> 'batch.\\n') to exercise keep and drop paths (23/500 kept
    at sf0.01)."""
    from search_engine_spark.operators.curation import c4_clean

    docs = _docs(spark, sf_dir).select(
        "doc_id",
        F.replace(
            F.col("text"), F.lit("batch"), F.lit("batch.\n")
        ).alias("text"),
    )
    return c4_clean(docs)


def q_gopher_filter(spark, sf_dir):
    """Gopher rule-based document filter (Rae et al. 2021 Appendix A):
    the seven classic word/line/symbol/stopword rules with per-doc
    fail-reason tags — the standard pre-training quality gate one level
    above the engine's weighted quality_score heuristic."""
    return TS.gopher_filter(_docs(spark, sf_dir))


def q_lm_bigram(spark, sf_dir):
    """Bigram stupid-backoff cross-entropy per doc (Brants et al. 2007 —
    the map-reduce-native LM scoring scheme): first token by the add-one
    unigram model, later tokens by ln(c(prev cur)/c(prev)) with
    alpha*p_uni backoff, all integer micro-nats."""
    return TS.lm_score_bigram(_docs(spark, sf_dir))


def q_fingerprint(spark, sf_dir):
    return TS.fingerprint(_docs(spark, sf_dir))


def q_bpe_tokens(spark, sf_dir):
    return TS.bpe_token_estimate(_docs(spark, sf_dir))


def q_repetition(spark, sf_dir):
    """Gopher repetition rules (Rae et al. 2021 A1): duplicated/top
    n-gram fractions per doc — the boilerplate-filter signals."""
    return TS.repetition_stats(_docs(spark, sf_dir))


def q_pii_scrub(spark, sf_dir):
    """PII redaction pass (emails/IPv4/phones → tokens + counts). On the
    synthetic corpus this verifies zero false positives and byte-identical
    pass-through; crafted-doc hit behavior is pytest-verified."""
    return TS.pii_scrub(_docs(spark, sf_dir))


SPLIT_WEIGHTS = {"train": 0.9, "val": 0.05, "test": 0.05}


def q_split_assign(spark, sf_dir):
    """Deterministic hash train/val/test split assignment."""
    return SMP.split_assign(
        _docs(spark, sf_dir).select("doc_id", "lang"),
        key="doc_id",
        weights=SPLIT_WEIGHTS,
    )


def _messy_urls(spark, sf_dir):
    """documents + a deterministic MESSY ``url`` column (mixed-case scheme/
    host, default ports, fragments, trailing slashes). Even doc_ids within
    a doc_id-triple (3k vs 3k+2: same parity → same scheme+WWW, same
    host+path from g = doc_id//3) differ ONLY in port/fragment/slash — so
    canonicalization must collapse ~1/3 of the corpus, exercising every
    branch. Mirrored by ``_MESSY_URL_SQL``."""
    d = F.col("doc_id")
    g = F.floor(d / 3).cast("bigint")
    url = F.concat(
        F.when(d % 2 == 0, F.lit("http")).otherwise(F.lit("HTTPS")),
        F.lit("://"),
        F.when(d % 2 == 0, F.lit("WWW.")).otherwise(F.lit("")),
        F.lit("site"), (g % 37).cast("string"),
        F.lit(".Example"), (g % 7).cast("string"), F.lit(".com"),
        F.when(
            d % 5 == 0,
            F.when(d % 2 == 0, F.lit(":80")).otherwise(F.lit(":443")),
        ).otherwise(F.lit("")),
        F.lit("/Page/"), g.cast("string"),
        F.when(d % 4 == 1, F.lit("/")).otherwise(F.lit("")),
        F.when(d % 3 == 0, F.concat(F.lit("#sec"), (d % 4).cast("string")))
        .otherwise(F.lit("")),
    )
    return _docs(spark, sf_dir).withColumn("url", url)


_MESSY_URL_SQL = """
msdocs AS (
  SELECT *,
    concat(
      CASE WHEN doc_id % 2 = 0 THEN 'http' ELSE 'HTTPS' END, '://',
      CASE WHEN doc_id % 2 = 0 THEN 'WWW.' ELSE '' END,
      'site', ((doc_id // 3) % 37)::VARCHAR,
      '.Example', ((doc_id // 3) % 7)::VARCHAR, '.com',
      CASE WHEN doc_id % 5 = 0
           THEN CASE WHEN doc_id % 2 = 0 THEN ':80' ELSE ':443' END
           ELSE '' END,
      '/Page/', (doc_id // 3)::VARCHAR,
      CASE WHEN doc_id % 4 = 1 THEN '/' ELSE '' END,
      CASE WHEN doc_id % 3 = 0 THEN concat('#sec', (doc_id % 4)::VARCHAR)
           ELSE '' END
    ) AS url
  FROM documents)
"""


def q_domain_stats(spark, sf_dir):
    """Per-registered-domain corpus profile (doc/char/lang/host counts) —
    the statistic per-domain caps and filters consume (C4-style)."""
    return U.domain_stats(_messy_urls(spark, sf_dir))


def q_url_dedup(spark, sf_dir):
    """Canonical-URL dedup keep-table (reference Crawler.java:519-525
    canonicalURL handling): WWW-/port-/fragment-/slash-variant URLs of the
    same page collapse to one representative."""
    return U.url_dedup(_messy_urls(spark, sf_dir))


FRONTIER_HOST_CAP = 25

# The reference's configurable URL-pattern blacklist (Crawler.java:104-118,
# :571-586): glob patterns, full-url match, any hit drops the candidate.
# Exercised on the driver `frontier` gate row: the site4 /p/1xx family sits
# INSIDE the per-host cap's lowest-25 window, so the filter visibly changes
# the emitted wave (blocked urls free cap slots for later urls).
FRONTIER_BLACKLIST = ["http://site4.example/p/1*"]


def _frontier_pages(spark, sf_dir):
    """documents + deterministic (url, html) so the crawl-frontier step is
    fully oracle-mirrorable. Each page's html carries one anchor per
    resolution/filter branch: absolute-with-:80-port, protocol-relative,
    root-relative, path-relative, parent-relative (``../``), fragment-only
    (dropped), mixed-case image extension (blacklisted), mailto (scheme-
    filtered), trailing-slash dir (canonicalized), and a link into
    ``seen.example`` (half of which the seen-set anti-join removes).
    Mirrored by ``_FRONTIER_PAGES_SQL``."""
    d = F.col("doc_id")

    def s(col):
        return col.cast("string")

    src = F.concat(
        F.lit("https://"), F.col("source"), F.lit(".example/d/"),
        s(d % 100), F.lit("/page"), s(d), F.lit(".html"),
    )
    html = F.concat(
        F.lit('<a href="http://site'), s(d % 7), F.lit(".example:80/p/"),
        s((d * 3) % 501), F.lit('.html">a</a>'),
        F.lit('<a href="//cdn.example/lib/'), s(d % 11), F.lit('">b</a>'),
        F.lit("<a href='/r/"), s(d % 53), F.lit("'>c</a>"),
        F.lit('<a href="n/'), s(d % 13), F.lit('.html">d</a>'),
        F.lit('<a href="../up/'), s(d % 5), F.lit('.html">e</a>'),
        F.lit('<a href="#sec">f</a>'),
        F.lit('<a href="/img/'), s(d % 9), F.lit('.Png">g</a>'),
        F.lit('<a href="mailto:u@example.org">h</a>'),
        F.lit('<a href="/dir'), s(d % 4), F.lit('/">i</a>'),
        F.lit('<a href="https://seen.example/s/'), s(d % 20), F.lit('">j</a>'),
    )
    return _docs(spark, sf_dir).select(src.alias("url"), html.alias("html"))


_FRONTIER_PAGES_SQL = """
pages AS (
  SELECT
    concat('https://', source, '.example/d/', (doc_id % 100)::VARCHAR,
           '/page', doc_id::VARCHAR, '.html') AS url,
    concat(
      '<a href="http://site', (doc_id % 7)::VARCHAR, '.example:80/p/',
      ((doc_id * 3) % 501)::VARCHAR, '.html">a</a>',
      '<a href="//cdn.example/lib/', (doc_id % 11)::VARCHAR, '">b</a>',
      '<a href=''/r/', (doc_id % 53)::VARCHAR, '''>c</a>',
      '<a href="n/', (doc_id % 13)::VARCHAR, '.html">d</a>',
      '<a href="../up/', (doc_id % 5)::VARCHAR, '.html">e</a>',
      '<a href="#sec">f</a>',
      '<a href="/img/', (doc_id % 9)::VARCHAR, '.Png">g</a>',
      '<a href="mailto:u@example.org">h</a>',
      '<a href="/dir', (doc_id % 4)::VARCHAR, '/">i</a>',
      '<a href="https://seen.example/s/', (doc_id % 20)::VARCHAR, '">j</a>'
    ) AS html
  FROM documents)
"""

_FRONTIER_SEEN_SQL = (
    "SELECT DISTINCT concat('https://seen.example/s/', "
    "(doc_id % 20)::VARCHAR) FROM documents WHERE doc_id % 2 = 0"
)


def _frontier_seen(spark, sf_dir):
    d = F.col("doc_id")
    return (
        _docs(spark, sf_dir)
        .filter(d % 2 == 0)
        .select(
            F.concat(
                F.lit("https://seen.example/s/"), (d % 20).cast("string")
            ).alias("url")
        )
        .distinct()
    )


def q_frontier(spark, sf_dir):
    """T11 (Crawler.java) as a batch operator: the next crawl wave —
    anchor harvest → relative-link resolution → canonicalization →
    scheme/extension filters → seen-set anti-join → per-host politeness
    cap — over a deterministic link layer on the documents table."""
    from search_engine_spark.operators import frontier as FR

    pages = _frontier_pages(spark, sf_dir)
    return FR.frontier_step(
        pages, seen=_frontier_seen(spark, sf_dir),
        per_host_cap=FRONTIER_HOST_CAP,
        blacklist=FRONTIER_BLACKLIST,
    )


_FRONTIER_ROBOTS_SQL = (
    "SELECT DISTINCT concat('site', (doc_id % 7)::VARCHAR, '.example')"
    " AS host, concat('/p/', (doc_id % 3)::VARCHAR) AS disallow"
    " FROM documents WHERE doc_id % 5 = 0"
)


def q_frontier_robots(spark, sf_dir):
    """The frontier with robots.txt Disallow prefix rules honored
    (Crawler.java:310-375, :260-275): every site host blocks /p/0* /p/1*
    /p/2* paths; blocked urls never reach the politeness cap."""
    from search_engine_spark.operators import frontier as FR

    d = F.col("doc_id")
    robots = (
        _docs(spark, sf_dir)
        .filter(d % 5 == 0)
        .select(
            F.concat(
                F.lit("site"), (d % 7).cast("string"), F.lit(".example")
            ).alias("host"),
            F.concat(F.lit("/p/"), (d % 3).cast("string")).alias("disallow"),
        )
        .distinct()
    )
    return FR.frontier_step(
        _frontier_pages(spark, sf_dir),
        seen=_frontier_seen(spark, sf_dir),
        per_host_cap=FRONTIER_HOST_CAP,
        robots=robots,
    )


def _robots_fmw_rules(spark, sf_dir):
    """First-match-wins rule table: every siteN host lists, IN ORDER,
    ``Allow /p/1`` then ``Disallow /p`` — so /p/1xx survives while every
    other /p path is blocked (flipping the order would block them all;
    tests cover the flip)."""
    hosts = (
        _docs(spark, sf_dir)
        .select(
            F.concat(
                F.lit("site"), (F.col("doc_id") % 7).cast("string"),
                F.lit(".example"),
            ).alias("host")
        )
        .distinct()
    )
    allow = hosts.select(
        "host", F.lit("/p/1").alias("rule"), F.lit(True).alias("allow"),
        F.lit(0).alias("rule_order"),
    )
    disallow = hosts.select(
        "host", F.lit("/p").alias("rule"), F.lit(False).alias("allow"),
        F.lit(1).alias("rule_order"),
    )
    return allow.unionByName(disallow)


_ROBOTS_FMW_SQL = (
    "SELECT host, rule, allow, rule_order FROM ("
    " SELECT DISTINCT concat('site', (doc_id % 7)::VARCHAR, '.example')"
    " AS host FROM documents),"
    " (VALUES ('/p/1', TRUE, 0), ('/p', FALSE, 1))"
    " AS r(rule, allow, rule_order)"
)


def q_frontier_robots_fmw(spark, sf_dir):
    """Robots with the reference's FIRST-MATCH-WINS evaluation
    (Crawler.java:260-275 breaks on the first matching prefix, Allow or
    Disallow): Allow /p/1 listed before Disallow /p keeps the /p/1xx
    family crawlable on every site host."""
    from search_engine_spark.operators import frontier as FR

    return FR.frontier_step(
        _frontier_pages(spark, sf_dir),
        seen=_frontier_seen(spark, sf_dir),
        per_host_cap=FRONTIER_HOST_CAP,
        robots=_robots_fmw_rules(spark, sf_dir),
    )


def q_frontier_suite(spark, sf_dir):
    """The crawler-relational family's DRIVER row (T11): two full frontier
    waves + the politeness schedule in one slot, tagged by ``method`` —
    'base' = harvest → resolve → canonicalize → scheme/extension filters →
    URL-pattern blacklist → seen anti-join → per-host cap; 'fmw' = the
    same wave with first-match-wins robots rules (Allow /p/1 before
    Disallow /p) instead of the blacklist; 'sched' (r5) = the wave
    planner over the base wave, slot + not_before_s carrying the
    per-host fetch schedule (wave legs pad those columns with -1).
    Singles stay as extras rows."""
    base = q_frontier(spark, sf_dir).withColumn("method", F.lit("base"))
    fmw = q_frontier_robots_fmw(spark, sf_dir).withColumn(
        "method", F.lit("fmw")
    )
    waves = base.unionByName(fmw).select("method", "host", "url").select(
        "method", "host", "url",
        F.lit(-1).cast("long").alias("slot"),
        F.lit(-1.0).alias("not_before_s"),
    )
    # 'sched' leg (r5): the politeness wave planner over the base wave —
    # slot + not_before_s carry the schedule; wave legs pad with -1
    sched = q_frontier_schedule(spark, sf_dir).select(
        F.lit("sched").alias("method"), "host", "url", "slot",
        "not_before_s",
    )
    return waves.unionByName(sched)


def q_frontier_schedule(spark, sf_dir):
    """Politeness wave planner (the scheduler artifact of the README
    POLITENESS CONTRACT — reference Crawler.java:460-473 hosts.timeStamp
    elapsed-time rate limit, as a batch schedule): the capped frontier
    wave → (host, url, slot, not_before_s) with per-host robots
    Crawl-delay values for hosts 0-3 (0.5/1.0/1.5 s by host id % 3) and
    the 1.0 s default for the rest — the fetch tier enforces the
    not_before offsets."""
    from search_engine_spark.operators import frontier as FR

    wave = q_frontier(spark, sf_dir)
    docs = _docs(spark, sf_dir)
    delays = (
        docs.filter((F.col("doc_id") % 2 == 0) & (F.col("doc_id") % 7 < 4))
        .select(
            F.concat(
                F.lit("site"),
                (F.col("doc_id") % 7).cast("string"),
                F.lit(".example"),
            ).alias("host"),
            (0.5 * (1 + (F.col("doc_id") % 7) % 3)).alias("delay_s"),
        )
        .distinct()
    )
    return FR.politeness_schedule(wave, default_delay_s=1.0, delays=delays)


CURATION_Q_MIN = 0.528       # ~median en quality at sf0.01 — real cut
CURATION_REP_MAX = 0.09      # ~p90 dup_bigram_frac — drops the worst tail


def q_curation_pipeline(spark, sf_dir):
    """END-TO-END training-data curation — the composition the individual
    operators exist for, as ONE declarative plan: language filter →
    quality floor (C4/Gopher-family heuristic) → repetition ceiling
    (Gopher A1) → canonical-URL dedup → exact text dedup → deterministic
    train/val/test split. Output (doc_id, split) is the keep-table a
    100 TB pipeline would hand to tokenization. Each stage is a keyed
    semi-join against a filter/dedup relation; dedup representatives are
    min-doc_id among SURVIVORS of the earlier stages (order pinned,
    mirrored in SQL)."""
    docs = _messy_urls(spark, sf_dir)
    en = docs.filter(F.col("lang") == "en")
    q_keep = (
        TS.quality_score(en)
        .filter(F.col("quality") >= CURATION_Q_MIN)
        .select(F.col("docid").alias("doc_id"))
    )
    rep_keep = (
        TS.repetition_stats(en)
        .filter(F.col("dup_bigram_frac") <= CURATION_REP_MAX)
        .select(F.col("docid").alias("doc_id"))
    )
    # stage the survivor set ONCE: the three dedup/split consumers below
    # each reference it, and without a materialization boundary Catalyst
    # re-derives the whole tokenize+filter chain per consumer (24 scans of
    # the corpus in the unstaged plan). At 100 TB this boundary is a
    # parquet checkpoint; locally a lazy localCheckpoint is the same cut.
    surv = en.join(q_keep, "doc_id").join(rep_keep, "doc_id").localCheckpoint(
        eager=False
    )
    url_keep = U.url_dedup(surv).select(F.col("docid").alias("doc_id"))
    surv = surv.join(url_keep, "doc_id")
    text_keep = surv.groupBy("text").agg(F.min("doc_id").alias("doc_id"))
    surv = surv.join(text_keep.select("doc_id"), "doc_id")
    return SMP.split_assign(
        surv.select("doc_id"), key="doc_id", weights=SPLIT_WEIGHTS
    )


def q_cosine_near_pairs(spark, sf_dir):
    return S.cosine_near_pairs(_t(spark, sf_dir, "embeddings"), 0.44)


def q_len_quantiles(spark, sf_dir):
    """Per-lang exact doc-length quantiles (corpus profiling)."""
    return TS.length_quantiles(_docs(spark, sf_dir))


def q_extract_digits(spark, sf_dir):
    """T8 pattern-token extraction (zip-code machinery) over customer names."""
    c = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("doc_id"), F.col("c_name").alias("text")
    )
    return TS.extract_pattern_tokens(c, "^[0-9]+$").withColumnRenamed(
        "token", "digits"
    )


STRATA_FRACTIONS = {"en": 0.3, "de": 1.0, "zh": 0.6}


def q_sample_stratified(spark, sf_dir):
    """Per-stratum hash-Bernoulli downsampling (corpus curation shape:
    thin the high-resource language, keep the low-resource ones)."""
    return SMP.stratified_sample(
        _docs(spark, sf_dir), STRATA_FRACTIONS, seed=11,
        key="doc_id", strata="lang",
    ).select("doc_id", "lang", "n_chars")


def q_asof_join(spark, sf_dir):
    """As-of join: each purchase matched to the user's most recent
    at-or-before view (point-in-time semantics; DuckDB mirrors with its
    native ASOF LEFT JOIN)."""
    from search_engine_spark.operators.asof import asof_join

    ev = _t(spark, sf_dir, "events").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    out = asof_join(
        ev.filter(F.col("event_type") == "purchase"),
        ev.filter(F.col("event_type") == "view"),
        on="ts", by="user_id", value_cols=("event_id", "value"),
    )
    return out.select("event_id", "user_id", "r_event_id", "r_value")


def q_range_join(spark, sf_dir):
    """Interval-containment join (bucketed equi-join plan): every error
    event matched to the session interval that contains it."""
    from search_engine_spark.operators.asof import range_join

    sessions = q_sessionize(spark, sf_dir)
    ev = _t(spark, sf_dir, "events").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    errors = ev.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts"
    )
    out = range_join(
        errors, sessions, on="ts", start="start_ts", end="end_ts",
        by="user_id", bucket_seconds=3600, value_cols=("session_id",),
    )
    return out.select("event_id", "user_id", "r_session_id")


def q_segments_topk(spark, sf_dir):
    """Mid-stream segment search: BM25 over an UN-collapsed two-segment
    level set (streaming/indexing.py shape) — global stats recomputed from
    segment tables; identical-by-construction to global BM25, which is
    exactly what the oracle SQL computes."""
    segs = [IQ.load_index(spark, d) for d in _cached_segments(spark, sf_dir)]
    return IQ.topk_over_segments(spark, segs, "spark table join", k=20).select(
        "docid", F.round("score", 6).alias("score")
    )


# --- multimodal (binary media columns; deterministic FIMG payloads) ---------

def q_media_decode(spark, sf_dir):
    """Multimodal decode: documents → deterministic FIMG binary payloads →
    Arrow-batched decode (mapInPandas) → per-image stats. The linear pixel
    rule makes mean_px SQL-expressible, so the whole binary round-trip is
    oracle-checked, not rows-only."""
    media = MM.media_from_docs(_docs(spark, sf_dir))
    return MM.decode_images(media).select(
        "media_id", "width", "height", "mean_px"
    )


def q_media_resize(spark, sf_dir):
    """Resize (nearest-neighbour, pure numpy) then decode the resized
    payloads — stats of the resized image are mirrored arithmetically."""
    media = MM.media_from_docs(_docs(spark, sf_dir))
    res = MM.resize_images(media, 5, 4).withColumn("kind", F.lit("image"))
    return MM.decode_images(res).select(
        "media_id", "width", "height", "mean_px"
    )


def q_media_frames(spark, sf_dir):
    """Frame sampling for video rows — metadata-only, pure built-ins."""
    media = MM.media_from_docs(_docs(spark, sf_dir))
    return MM.sample_frames(media, every_k=4)


def q_media_video(spark, sf_dir):
    """Video decode over REAL monochrome Y4M payloads (r5): spec-complete
    YUV4MPEG2 streams (ffmpeg-readable) whose luma follows
    px[f][i] = (doc_id*31 + f*257 + i*7) % 256, parsed by the native
    chunk-walking container decoder; every 4th frame's integer-exact
    luma stats are emitted, so the oracle mirrors the decode
    arithmetically while Spark walks actual container bytes."""
    media = MM.media_from_docs(_docs(spark, sf_dir))
    return MM.decode_frames(media, every_k=4)


def q_media_audio(spark, sf_dir):
    """Audio decode over REAL PCM16 WAV payloads (r5): the payloads are
    spec-complete RIFF/WAVE files (stdlib-`wave`-readable) following the
    linear sample rule s[i] = ((doc_id*131 + i*17) % 4096) - 2048, so the
    oracle reproduces every stat arithmetically while Spark round-trips
    actual bytes through the Arrow decode UDF. Integer-exact outputs
    (BIGINT sum / INT max) — no float hazards in the hash gate."""
    media = MM.media_from_docs(_docs(spark, sf_dir))
    return MM.decode_audio(media).select(
        "media_id", "sample_rate", "n_samples", "sum_amp", "max_amp"
    )


# --- approximate ops (rows-only gate: no SQL oracle) ------------------------

def q_lsh_topk(spark, sf_dir):
    """Sign-LSH serving path at DEFAULT settings: margin-ordered
    multi-probe (Lv et al. 2007) with the integer-quantized probe plan —
    recall floored at S.LSH_MULTIPROBE_RECALL_FLOOR on this corpus
    (bench-measured per round)."""
    emb = _t(spark, sf_dir, "embeddings")
    qv = [
        float(x)
        for x in emb.filter(F.col("vec_id") == 0).collect()[0]["embedding"]
    ]
    return S.lsh_topk_multiprobe(emb, qv, k=10)


def q_ivf_topk(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    rows = sorted(
        emb.filter(F.col("vec_id") < 8).collect(), key=lambda r: r["vec_id"]
    )
    pivots = [(int(r["vec_id"]), [float(x) for x in r["embedding"]]) for r in rows]
    qv = pivots[0][1]
    return S.ivf_topk(emb, pivots, qv, k=10, nprobe=3)


def q_simhash_near_pairs(spark, sf_dir):
    return D.simhash_near_pairs(_docs(spark, sf_dir), max_hamming=3)


def q_contamination(spark, sf_dir):
    """Benchmark decontamination: distinct shared token 3-grams between
    each corpus doc and each probe ('benchmark') doc — probe set = every
    83rd doc, broadcast into a map-side hash join."""
    docs = _docs(spark, sf_dir)
    corpus = docs.filter(F.col("doc_id") % 83 != 0)
    probes = docs.filter(F.col("doc_id") % 83 == 0)
    return D.contamination(corpus, probes, n=3)


def q_pagerank(spark, sf_dir):
    """T10 PageRank (jobs/PageRank.java:223-449): 10 rounds of the classic
    damped update over a deterministic synthetic link graph (testdata has
    no link table; the rule is SQL-mirrorable so ranks are value-checked,
    not rows-only)."""
    from search_engine_spark.operators import pagerank as PR

    docs = _docs(spark, sf_dir).select("doc_id")
    n = docs.count()
    edges = PR.synthetic_edges(docs, n)
    out = PR.pagerank(edges, nodes=docs, iters=10)
    return out.select(
        F.col("id").alias("docid"), F.round("rank", 6).alias("rank")
    )


def q_search_eval(spark, sf_dir):
    """TREC-style ranking evaluation (nDCG@10, MRR, recall@10) over a
    deterministic synthetic run + graded qrels derived from documents:
    10 queries, result r of query q is doc (q*31 + r*7) % N, judged
    relevant when docid % (q+2) == 0 with grade docid % 3 (operators/
    evaluation.py — integer micro-discount table shared verbatim with
    the SQL mirror)."""
    from search_engine_spark.operators.evaluation import search_eval

    docs = _docs(spark, sf_dir).select("doc_id")
    n = docs.count()
    qids = spark.range(10).select(F.col("id").alias("qid"))
    ranks = qids.select(
        "qid", F.explode(F.sequence(F.lit(1), F.lit(10))).alias("rank")
    )
    results = ranks.select(
        "qid", ((F.col("qid") * 31 + F.col("rank") * 7) % n).alias("docid"),
        "rank",
    )
    qrels = (
        qids.crossJoin(docs.select(F.col("doc_id").alias("docid")))
        .filter(F.col("docid") % (F.col("qid") + 2) == 0)
        .select("qid", "docid", (F.col("docid") % 3).alias("rel"))
    )
    return search_eval(results, qrels, k=10)


def q_more_like_this(spark, sf_dir):
    """Related-documents serving (Lucene MoreLikeThis analogue): top-10
    docs by tf-idf cosine to doc 7 over shared terms — integer milli-nat
    idf weights keep every dot product and norm exact BIGINT arithmetic
    until the final cosine division."""
    return T.more_like_this(_docs(spark, sf_dir), query_docid=7, k=10)


def q_view_click_join(spark, sf_dir):
    """Stream-stream interval join, batch form: every (view, click) pair
    by the same user within 30 min — click-to-impression attribution
    (streaming/windows.py; the streaming execution with per-side
    watermarks and state eviction is pytest-pinned stream==batch)."""
    from search_engine_spark.streaming.windows import view_click_join

    return view_click_join(_t(spark, sf_dir, "events"), "30 minutes")


def q_funnel(spark, sf_dir):
    """Strict-order first-completion funnel view->click->purchase with a
    72h window anchored at entry, per-user stage + epoch-micro stage
    times (operators/events.py — one user_id exchange feeds the whole
    chain)."""
    from search_engine_spark.operators import events as EV

    return EV.funnel(
        _t(spark, sf_dir, "events"), ["view", "click", "purchase"],
        window_hours=72,
    )


def q_retention(spark, sf_dir):
    """Weekly cohort retention anchored on first 'signup' event: cohort
    by absolute 7-day epoch grid, distinct active users per (cohort,
    period) up to 8 periods out."""
    from search_engine_spark.operators import events as EV

    return EV.retention_cohorts(
        _t(spark, sf_dir, "events"), "signup", period_days=7, max_periods=8
    )


def q_mmr_rerank(spark, sf_dir):
    """MMR diversification (Carbonell & Goldstein 1998): greedy top-5
    from the exact top-20 cosine pool, lambda=0.7 — k tiny unrolled
    steps over a checkpointed candidate set; the distributed work is the
    one exact top-pool scan."""
    emb = _t(spark, sf_dir, "embeddings")
    qv = [
        float(x)
        for x in emb.filter(F.col("vec_id") == 0).collect()[0]["embedding"]
    ]
    return S.mmr_rerank(emb, qv, k=5, pool=20, exclude_self=0)


def q_hist_quantiles(spark, sf_dir):
    """Fixed-grid histogram quantile sketch (the third mergeable sketch
    beside CMS and Bloom): estimates from a 128-bucket grid over
    documents.n_chars next to the exact rank-based answers, abs_err
    bounded by one grid cell."""
    from search_engine_spark.operators import sketches as SK

    return SK.hist_quantiles(
        _docs(spark, sf_dir), "n_chars", [10, 25, 50, 75, 90, 99],
        lo=0.0, hi=4096.0, buckets=128,
    )


def q_zorder_keys(spark, sf_dir):
    """Z-order (Morton) clustering keys over events (user dim × hour
    dim) — the write-side layout that lets min/max parquet stats prune
    scans filtered on EITHER column (operators/layout.py; pure bit
    arithmetic, identical in both engines)."""
    from search_engine_spark.operators.layout import zorder_key

    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        F.col("user_id").alias("x"),
        F.expr(
            "unix_micros(cast(ts as timestamp)) div 3600000000"
        ).alias("y"),
    )
    return ev.select(
        "event_id", "x", "y",
        zorder_key(F.col("x"), F.col("y")).alias("z"),
    )


def q_bloom_probe(spark, sf_dir):
    """Bloom filter as a relational bit-position set (4096 bits, 4 md5
    two-hash functions) built over the corpus vocabulary; probes = terms
    of every 97th doc (all present) plus their reversals (mostly
    absent) — membership, ground truth, and the false-positive flag all
    value-checked, because the bit positions are deterministic in both
    engines."""
    from search_engine_spark.operators import sketches as SK

    docs = _docs(spark, sf_dir)
    vocab = docs.select(F.explode(T.tokens_col("text")).alias("term"))
    probe_docs = docs.filter(F.col("doc_id") % 97 == 0)
    pterms = probe_docs.select(F.explode(T.tokens_col("text")).alias("term"))
    probes = pterms.unionByName(
        pterms.select(F.reverse(F.col("term")).alias("term"))
    )
    return SK.bloom_probe(probes, SK.bloom_build(vocab), truth=vocab)


def q_cms_topk(spark, sf_dir):
    """Count-Min Sketch heavy hitters (Cormode & Muthukrishnan 2005):
    top-25 terms by sketch estimate from a 4x256 relational counter grid,
    exact counts alongside — even the ESTIMATES are oracle-checked
    because the bucket hashes are the deterministic md5 two-hash
    family."""
    from search_engine_spark.operators import sketches as SK

    return SK.cms_heavy_hitters(_docs(spark, sf_dir), k=25)


def q_host_rank(spark, sf_dir):
    """Host-level PageRank: coarsen the doc link graph to hosts
    (doc_id % 97) BEFORE iterating, then join the host prior back to
    docs — the standard web-graph scale trick (the host graph is ~3
    orders smaller than the page graph, so ten rounds over it cost less
    than ONE round over pages) and the usual spam/authority prior."""
    from search_engine_spark.operators import pagerank as PR

    docs = _docs(spark, sf_dir).select("doc_id")
    n = docs.count()
    edges = PR.synthetic_edges(docs, n)
    hedges = (
        edges.select(
            (F.col("src") % 97).alias("src"), (F.col("dst") % 97).alias("dst")
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    hosts = docs.select((F.col("doc_id") % 97).alias("id")).distinct()
    ranks = PR.pagerank(hedges, nodes=hosts, iters=10)
    return (
        docs.select("doc_id", (F.col("doc_id") % 97).alias("host"))
        .join(ranks, F.col("host") == F.col("id"))
        .select(
            F.col("doc_id").alias("docid"),
            F.col("host").cast("long").alias("host"),
            F.round("rank", 6).alias("host_rank"),
        )
    )


def q_dedup_spans(spark, sf_dir):
    """Substring-level exact dedup (Lee et al. 2022 ExactSubstr, k-gram
    re-expression): maximal non-first duplicated token spans across the
    corpus — one level below `paragraph_dedup` (catches repeats that
    cross paragraph boundaries or hide inside unique paragraphs)."""
    return D.duplicate_spans(_docs(spark, sf_dir), k=8)


def q_dedup_spans_apply(spark, sf_dir):
    """The ExactSubstr REMOVAL pass: rebuild every doc with its non-first
    duplicated spans dropped (keep_first semantics) — the apply side of
    `dedup_spans`, value-checking clean_text reassembly and the
    n_removed accounting."""
    return D.remove_duplicate_spans(_docs(spark, sf_dir), k=8)


def q_hits(spark, sf_dir):
    """HITS hubs & authorities (Kleinberg 1999) over the same synthetic
    link graph as `pagerank` — the second query-independent link signal;
    5 mutual-recurrence rounds, L1×N normalized, unrolled-CTE oracle."""
    from search_engine_spark.operators import pagerank as PR

    docs = _docs(spark, sf_dir).select("doc_id")
    n = docs.count()
    edges = PR.synthetic_edges(docs, n)
    out = PR.hits(edges, nodes=docs, iters=5)
    return out.select(
        F.col("id").alias("docid"),
        F.round("auth", 6).alias("auth"),
        F.round("hub", 6).alias("hub"),
    )


def q_doc_signatures(spark, sf_dir):
    """Per-doc identity & size signature: rolling-hash fingerprint + BPE
    token estimate in one row (merges the r2 `fingerprint` and
    `bpe_tokens` entries — one driver-gate slot, both operators checked)."""
    docs = _docs(spark, sf_dir)
    fp = TS.fingerprint(docs)
    bpe = TS.bpe_token_estimate(docs)
    return fp.join(bpe, "docid").select(
        "docid", "fp", "n_pieces", "n_words", "pieces_per_word"
    )


def q_bpe_vocab(spark, sf_dir):
    """Learned BPE merge table over the corpus (Sennrich et al. 2016
    subword training; operators/bpe.py — the trainer that PRODUCES the
    vocabulary `doc_signatures`' token estimate only approximates).
    One corpus-sized word-count pass, then the guarded merge loop over
    the pruned dictionary. Iterative global-argmax training is not
    SQL-expressible (recursive CTEs cannot aggregate over the recursive
    term), so this is a rows-only gate row; value-level parity is
    pinned in tests/test_bpe.py instead — guarded driver loop ==
    one-shuffle-per-round distributed loop == naive recount reference,
    and encode == replay-in-rank-order."""
    return BPE.bpe_train(spark, _docs(spark, sf_dir), num_merges=48).orderBy(
        "rank"
    )


def q_bpe_encoded(spark, sf_dir):
    """Corpus re-encoded with the learned merge table: per-doc subword
    stats via ONE Arrow-batched mapInPandas (ranks table in the
    closure, per-batch word cache so Zipf repetition is a dict hit, not
    a re-encode). Rows-only for the same reason as bpe_vocab; the
    n_words <= n_bpe_tokens <= n_chars compression invariants and the
    pure-Python cross-check are pinned in tests/test_bpe.py."""
    docs = _docs(spark, sf_dir)
    merges = BPE.bpe_train(spark, docs, num_merges=48)
    return BPE.bpe_encode(docs, merges).orderBy("docid")


def q_pack_sequences(spark, sf_dir):
    """GPT-style concat-then-chunk sequence packing
    (operators/packing.py): per-doc token counts → global exclusive
    prefix sum in docid order → budget-256 context-window assignment
    (seq_id, seq_offset, straddles). The Spark side runs the TWO-PHASE
    distributed prefix sum (range-partitioned snapshot + per-partition
    windows — no single-task global window); the oracle is the plain
    sequential window-cumsum definition, so the gate proves the
    distributed layout is exactly the sequential one."""
    docs = _docs(spark, sf_dir)
    toks = docs.select(
        F.col("doc_id").alias("docid"),
        F.size(T.tokens_col("text")).alias("n_tokens"),
    )
    return PK.pack_sequences(toks, budget=256).withColumnRenamed(
        "start", "tok_start"
    )


def q_ann_topk(spark, sf_dir):
    """Approximate top-k, both index families in one result: sign-LSH
    multi-probe and IVF(nprobe) over the same query vector, tagged by
    method (merges the r2 `lsh_topk` + `ivf_topk` entries)."""
    emb = _t(spark, sf_dir, "embeddings")
    rows = sorted(
        emb.filter(F.col("vec_id") < 8).collect(), key=lambda r: r["vec_id"]
    )
    pivots = [
        (int(r["vec_id"]), [float(x) for x in r["embedding"]]) for r in rows
    ]
    qv = pivots[0][1]
    lsh = S.lsh_topk_multiprobe(emb, qv, k=10).withColumn(
        "method", F.lit("lsh")
    )
    ivf = S.ivf_topk(emb, pivots, qv, k=10, nprobe=3).withColumn(
        "method", F.lit("ivf")
    )
    return lsh.unionByName(ivf).select("method", "vec_id", "cos")


def q_media_images(spark, sf_dir):
    """Multimodal image path, both stages in one result: Arrow-batched
    binary decode of the original payloads AND decode-after-resize
    (nearest-neighbour), tagged by stage (merges the r2 `media_decode` +
    `media_resize` entries; the frame-sampling video path stays its own
    entry)."""
    media = MM.media_from_docs(_docs(spark, sf_dir))
    orig = MM.decode_images(media).withColumn("stage", F.lit("orig"))
    res = MM.resize_images(media, 5, 4).withColumn("kind", F.lit("image"))
    resized = MM.decode_images(res).withColumn("stage", F.lit("resized"))
    return orig.unionByName(resized).select(
        "stage", "media_id", "width", "height", "mean_px"
    )


# ---------------------------------------------------------------------------
# Serving-tier re-rankers + corpus analytics (round 5 additions)
# ---------------------------------------------------------------------------

SNIPPET_QUERY = "spark table join"
SERVE_POOL = 50  # candidate-pool size the re-rankers consume
PMI_SEED = "vector"


def q_snippets(spark, sf_dir):
    """Query-aware result snippets: top-20 BM25 hits with a highlighted
    extract window around the first query-term occurrence — the
    query-aware upgrade of the reference's blind page-prefix description
    (frontend/Master.java:74, 215-239)."""
    docs = _docs(spark, sf_dir)
    hits = T.bm25_topk(docs, SNIPPET_QUERY, k=20)
    snips = SV.snippets(docs, SNIPPET_QUERY)
    return hits.join(snips, "docid").select("docid", "score", "snippet")


def q_recency_topk(spark, sf_dir):
    """Freshness-fused top-10 over a top-50 BM25 pool. Ages derive from
    the corpus warc_ts convention (corpus.py:222: EPOCH + docid seconds,
    scaled to hours here so the decay spans real magnitudes): newest doc
    = max docid, age_secs = (max_docid - docid) * 3600."""
    docs = _docs(spark, sf_dir)
    hits = T.bm25_topk(docs, SNIPPET_QUERY, k=SERVE_POOL)
    mx = docs.agg(F.max("doc_id").alias("_mx"))
    ages = docs.crossJoin(F.broadcast(mx)).select(
        F.col("doc_id").alias("docid"),
        ((F.col("_mx") - F.col("doc_id")) * 3600).alias("age_secs"),
    )
    return SV.recency_rerank(hits, ages, k=10)


def q_host_collapse(spark, sf_dir):
    """Site-collapsed top-10: one hit per host from a top-50 pool, over
    the messy-URL corpus (hosts repeat every 37·7 doc-triples, so the
    collapse genuinely drops same-host siblings)."""
    pool = T.bm25_topk(_docs(spark, sf_dir), SNIPPET_QUERY, k=SERVE_POOL)
    hosts = _messy_urls(spark, sf_dir).select(
        F.col("doc_id").alias("docid"), U.url_host("url").alias("host")
    )
    hits = pool.join(hosts, "docid").select("docid", "host", "score")
    return SV.host_collapse(hits, k=10)


def q_cooccur_pmi(spark, sf_dir):
    """Related-terms by document-level PMI, seed-anchored (the "related
    searches" primitive; semi-join on the seed's posting, never
    all-pairs)."""
    return TS.cooccur_pmi(_docs(spark, sf_dir), PMI_SEED, min_df=2, k=20)


def q_facets(spark, sf_dir):
    """Facet sidebar over a top-50 pool: per-host and per-lang counts
    (top-10 each), over the messy-URL corpus attributes."""
    pool = T.bm25_topk(_docs(spark, sf_dir), SNIPPET_QUERY, k=SERVE_POOL)
    attrs = _messy_urls(spark, sf_dir).select(
        F.col("doc_id").alias("docid"),
        U.url_host("url").alias("host"),
        "lang",
    )
    return SV.facet_counts(
        pool.join(attrs, "docid"), facets=["host", "lang"], k=10
    )


def q_page_after(spark, sf_dir):
    """Keyset pagination: page 2 (ranks 11-20) of the BM25 serp via the
    (score, docid) cursor of rank 10 — the stateless deep-paging
    contract (cost independent of page depth, unlike OFFSET)."""
    pool = T.bm25_topk(_docs(spark, sf_dir), SNIPPET_QUERY, k=SERVE_POOL)
    # orderBy().limit() collects in order (TakeOrderedAndProject);
    # rank-10 row is the page-1 cursor
    cursor = pool.collect()[9]
    return SV.page_after(
        pool, float(cursor["score"]), int(cursor["docid"]), k=10
    )


PROX_TERMS = ("spark", "join")


def q_proximity_topk(spark, sf_dir):
    """Proximity-fused top-10: BM25 pool re-ranked by the min token span
    between the two query terms (adjacent ⇒ up to 1.5× boost)."""
    docs = _docs(spark, sf_dir)
    pool = T.bm25_topk(docs, " ".join(PROX_TERMS), k=SERVE_POOL)
    return SV.proximity_rerank(docs, pool, *PROX_TERMS, k=10)


def q_weighted_sample(spark, sf_dir):
    """Continuous-weight training-mix sampling: keep probability =
    min(n_chars, 2000)/2000 per document, deterministic hash-Bernoulli
    on doc_id."""
    docs = _docs(spark, sf_dir).select("doc_id", "n_chars")
    w = F.least(F.col("n_chars"), F.lit(2000)) / F.lit(2000.0)
    return SMP.weighted_sample(docs, key="doc_id", weight=w)


def _micro_str(c) -> F.Column:
    """Exact integer-string image of a 6-dp-rounded double — the
    hash-stable way to carry a float through a tagged-union suite row
    (both engines round ties away from zero; upstream 6-dp rounding
    means ties never actually occur at the 1e6 grid)."""
    col = F.col(c) if isinstance(c, str) else c
    return F.round(col * F.lit(1000000.0)).cast("long").cast("string")


def q_sample_suite(spark, sf_dir):
    """Driver row for the sampling family: flat hash-Bernoulli +
    per-stratum downsampling, tagged by mode (schemas are identical;
    the single-op variants stay in the extras registry)."""
    a = q_sample_bernoulli(spark, sf_dir).withColumn(
        "mode", F.lit("bernoulli")
    )
    b = q_sample_stratified(spark, sf_dir).withColumn(
        "mode", F.lit("stratified")
    )
    return a.unionByName(b).select("mode", "doc_id", "lang", "n_chars")


def q_serving_suite(spark, sf_dir):
    """Driver row carrying eleven round-5 families — serving tier
    (snippets, recency, host collapse, pagination, proximity, facets),
    related-searches PMI, crawl delta, domain cap, weighted sampling,
    HITS hubs/authorities —
    normalized to one tagged (method, docid, val) schema so every family
    is value-checked by the driver's own gate (the single-op variants
    stay in the extras registry with their natural schemas)."""
    null_id = F.lit(None).cast("long").alias("docid")
    parts = [
        q_snippets(spark, sf_dir).select(
            F.lit("snippet").alias("method"), "docid",
            F.col("snippet").alias("val"),
        ),
        q_recency_topk(spark, sf_dir).select(
            F.lit("recency").alias("method"), "docid",
            _micro_str("fscore").alias("val"),
        ),
        q_host_collapse(spark, sf_dir).select(
            F.lit("host").alias("method"), "docid",
            F.col("host").alias("val"),
        ),
        q_page_after(spark, sf_dir).select(
            F.lit("page").alias("method"), "docid",
            _micro_str("score").alias("val"),
        ),
        q_proximity_topk(spark, sf_dir).select(
            F.lit("prox").alias("method"), "docid",
            F.concat(
                _micro_str("pscore"), F.lit(":"),
                F.coalesce(F.col("minspan").cast("string"), F.lit("-")),
            ).alias("val"),
        ),
        q_facets(spark, sf_dir).select(
            F.lit("facet").alias("method"), null_id,
            F.concat(
                "facet", F.lit("="), "value", F.lit(":"),
                F.col("n").cast("string"),
            ).alias("val"),
        ),
        q_cooccur_pmi(spark, sf_dir).select(
            F.lit("related").alias("method"), null_id,
            F.concat("term", F.lit(":"), _micro_str("pmi")).alias("val"),
        ),
        q_crawl_delta(spark, sf_dir).select(
            F.lit("delta").alias("method"), null_id,
            F.concat("url", F.lit(" "), "change").alias("val"),
        ),
        q_domain_cap(spark, sf_dir).select(
            F.lit("cap").alias("method"),
            F.col("doc_id").alias("docid"),
            F.col("domain").alias("val"),
        ),
        q_weighted_sample(spark, sf_dir).select(
            F.lit("wsample").alias("method"),
            F.col("doc_id").alias("docid"),
            F.col("n_chars").cast("string").alias("val"),
        ),
        q_hits(spark, sf_dir).select(
            F.lit("hits").alias("method"), "docid",
            F.concat(
                _micro_str("auth"), F.lit(":"), _micro_str("hub")
            ).alias("val"),
        ),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def q_topk_deletes(spark, sf_dir):
    """Tombstone-masked BM25 top-k: the block index queried as if the
    deleted docs (doc_id % 7 == 3) were never indexed — live df/n_docs/
    avgdl, Lucene-style deletes without segment rewrites. Oracle = plain
    BM25 over the surviving corpus (rebuild-equivalence)."""
    idx = _cached_index(spark, sf_dir)
    deleted = _docs(spark, sf_dir).filter(
        F.col("doc_id") % 7 == 3
    ).select("doc_id")
    return IQ.topk_with_deletes(
        idx, deleted, "spark table join", k=20, decimals=6
    )


DOMAIN_CAP = 20


def q_domain_cap(spark, sf_dir):
    """C4-style per-domain quota: ≤20 docs per registered domain, kept in
    unbiased hash order (skew-safe two-level window)."""
    src = _messy_urls(spark, sf_dir).select("doc_id", "url")
    return U.domain_cap(src, cap=DOMAIN_CAP).select("doc_id", "domain")


def q_crawl_delta(spark, sf_dir):
    """Snapshot diff between two crawls: added / removed / changed urls —
    the incremental-recrawl primitive (downstream re-extract/re-index
    consumes the delta, not the full snapshot)."""
    d = F.col("doc_id")
    base = _docs(spark, sf_dir).select(
        F.concat(F.lit("https://ex.com/"), d.cast("string")).alias("url"),
        F.md5(F.col("text")).alias("fp"),
        F.md5(F.concat(F.col("text"), F.lit("v2"))).alias("fp2"),
        d.alias("_d"),
    )
    old = base.filter(F.col("_d") % 10 != 2).select("url", "fp")
    new = base.filter(F.col("_d") % 10 != 3).select(
        "url",
        F.when(F.col("_d") % 10 == 5, F.col("fp2"))
        .otherwise(F.col("fp"))
        .alias("fp"),
    )
    return U.crawl_delta(old, new)


# ---------------------------------------------------------------------------
# Entry + registry
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full pipeline on sf0.001 — block-index build over the
    documents table, then the distributed BM25 query plan."""
    idx = _cached_index(spark, SF_DEFAULT)
    return IQ.topk_distributed(idx, "spark table join", k=100).select(
        "docid", F.round("score", 6).alias("score")
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """EXACTLY 50 entries — the driver gate records at most 50 rows (r2
    registered 61 and the file contained precisely the first 50 in
    registry order), so related entries are merged rather than dropped:
    every operator family keeps a value-checked driver row, and the
    pre-merge single-operator variants stay verified via
    ``extra_queries()`` + tests/test_extra_gate.py."""
    return {
        # text/search core (SURVEY §2.2/§2.3)
        "term_frequencies": q_term_frequencies,
        "document_frequencies": q_document_frequencies,  # + idf (merged)
        "bm25_multi": q_bm25_multi,  # + bm25_rare (merged, tagged by q)
        "boost_fusion_topk": q_boost_fusion,  # Q5 + Q8 + title BM25F (r5)
        "bm25_index_all": q_bm25_index_all,
        "bm25_batch": q_bm25_batch,
        "segments_topk": q_segments_topk,
        "topk_urls_suite": q_topk_urls_suite,  # text + html builds (r5)
        "stemmed_topk": q_stemmed_topk,
        "top_terms": q_top_terms,
        "query_assist": q_query_assist,  # autocomplete + spell (r5)
        "phrase_index": q_phrase_index,
        "corpus_stats": q_corpus_stats,  # + distinct_terms (merged)
        "pagerank": q_pagerank,
        # Flame-op / relational coverage (SURVEY §2.1/§2.4)
        "filter_project": q_filter_project,
        "join_agg": q_join_agg,
        "cogroup": q_cogroup,
        "foldbykey": q_foldbykey,
        "fold_global": q_fold_global,
        "distinct_flags": q_distinct_flags,
        "take_ordered": q_take_ordered,
        "sample_suite": q_sample_suite,  # bernoulli + stratified (r5)
        "serving_suite": q_serving_suite,  # ALL ten r5 families, tagged (r5)
        "union_merge": q_union_merge,
        "intersection": q_intersection,
        "tpch_pricing": q_tpch_pricing,
        "window_top_order": q_window_top_order,
        "events_hourly": q_events_hourly,
        "events_json": q_events_json,
        "sessionize": q_sessionize,
        "asof_join": q_asof_join,
        "range_join": q_range_join,
        # dedup / similarity / text analysis
        "dedup_exact_suite": q_dedup_exact_suite,  # doc + paragraph (r5)
        "jaccard_pairs": q_jaccard_both,  # low + prefix (merged r4)
        "frontier_suite": q_frontier_suite,  # crawler family driver row (r4)
        "minhash_sigs": q_minhash_sigs,
        "minhash_lsh_pairs": q_minhash_lsh_pairs,
        "dedup_clusters": q_dedup_clusters,
        "simhash_near_pairs": q_simhash_near_pairs,
        "knn_join": q_knn_join,
        "cosine_near_pairs": q_cosine_near_pairs,
        "ann_topk": q_ann_topk,  # lsh_topk + ivf_topk (merged)
        "lang_id": q_lang_id,
        "quality": q_quality,
        "token_counts": q_token_counts,
        "doc_signatures": q_doc_signatures,  # fingerprint + bpe (merged)
        "len_quantiles": q_len_quantiles,
        "extract_digits": q_extract_digits,
        # multimodal (binary media columns, deterministic FIMG payloads)
        "media_images": q_media_images,  # decode + resize (merged)
        "media_frames": q_media_frames,
    }


def extra_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Single-operator variants folded out of the 50-entry driver registry
    — still first-class operators, still oracle-checked (same contract)
    via tools/check_gate.py --extra and tests/test_extra_gate.py."""
    return {
        "doc_lengths": q_doc_lengths,
        "autocomplete": q_autocomplete,
        "dedup_exact": q_dedup_exact,
        "topk_urls": q_topk_urls,
        "idf": q_idf,
        "bm25_single": q_bm25_single,
        "bm25_rare": q_bm25_rare,
        "boosted_topk": q_boosted_topk,
        "rank_fusion": q_rank_fusion,
        "phrase": q_phrase,
        "distinct_terms": q_distinct_terms,
        "sample_mod": q_sample_mod,
        "dedup_keep": q_dedup_keep,
        "simhash": q_simhash,
        "cosine_topk": q_cosine_topk,
        "fingerprint": q_fingerprint,
        "bpe_tokens": q_bpe_tokens,
        "bpe_vocab": q_bpe_vocab,  # real BPE trainer, rows-only (r5)
        "bpe_encoded": q_bpe_encoded,  # merge-table apply, rows-only (r5)
        "pack_sequences": q_pack_sequences,  # training-layout packing (r5)
        "lsh_topk": q_lsh_topk,
        "ivf_topk": q_ivf_topk,
        "media_decode": q_media_decode,
        "media_resize": q_media_resize,
        "media_audio": q_media_audio,  # real-WAV decode path (r5)
        "media_video": q_media_video,  # real-Y4M decode path (r5)
        "contamination": q_contamination,
        "repetition": q_repetition,
        "pii_scrub": q_pii_scrub,
        "split_assign": q_split_assign,
        "domain_stats": q_domain_stats,
        "url_dedup": q_url_dedup,
        "jaccard_prefix": q_jaccard_prefix,
        "spell_suggest": q_spell_suggest,
        "spell_symspell": q_spell_symspell,  # deletes-index path (r5)
        "paragraph_dedup": q_paragraph_dedup,
        "bm25f_title": q_bm25f_title,
        "frontier": q_frontier,
        "frontier_robots": q_frontier_robots,
        "frontier_robots_fmw": q_frontier_robots_fmw,
        "frontier_schedule": q_frontier_schedule,  # wave planner (r5)
        "topk_urls_html": q_topk_urls_html,
        "bfs_hops": q_bfs_hops,
        "redirects": q_redirects,
        "anchor_texts": q_anchor_texts,
        "anchor_bm25": q_anchor_bm25,
        "bm25f": q_bm25f,
        "lm_score": q_lm_score,
        "curation_pipeline": q_curation_pipeline,
        "bm25_index_topk20": q_bm25_index_topk20,
        "events_rollup": q_events_rollup,
        "snippets": q_snippets,  # serving tier (r5)
        "recency_topk": q_recency_topk,  # serving tier (r5)
        "host_collapse": q_host_collapse,  # serving tier (r5)
        "cooccur_pmi": q_cooccur_pmi,  # related searches (r5)
        "weighted_sample": q_weighted_sample,  # training mix (r5)
        "facets": q_facets,  # serving tier (r5)
        "page_after": q_page_after,  # serving tier (r5)
        "proximity_topk": q_proximity_topk,  # serving tier (r5)
        "domain_cap": q_domain_cap,  # C4 corpus balancing (r5)
        "sample_bernoulli": q_sample_bernoulli,  # folded into sample_suite
        "sample_stratified": q_sample_stratified,  # folded into sample_suite
        "crawl_delta": q_crawl_delta,  # incremental recrawl (r5)
        "topk_deletes": q_topk_deletes,  # tombstone-masked query (r5)
        "hits": q_hits,  # hubs & authorities link signal (r5)
        "dedup_spans": q_dedup_spans,  # Lee et al. ExactSubstr (r5)
        "dedup_spans_apply": q_dedup_spans_apply,  # span removal (r5)
        "lm_bigram": q_lm_bigram,  # stupid-backoff bigram LM (r5)
        "gopher_filter": q_gopher_filter,  # Gopher quality rules (r5)
        "c4_clean": q_c4_clean,  # C4 line-level cleaning (r5)
        "sitemap_parse": q_sitemap_parse,  # sitemaps.org seed channel (r5)
        "host_rank": q_host_rank,  # host-coarsened PageRank prior (r5)
        "cms_topk": q_cms_topk,  # Count-Min Sketch heavy hitters (r5)
        "bloom_probe": q_bloom_probe,  # Bloom membership + FP audit (r5)
        "zorder_keys": q_zorder_keys,  # Morton layout clustering (r5)
        "hist_quantiles": q_hist_quantiles,  # histogram sketch (r5)
        "mmr_rerank": q_mmr_rerank,  # MMR diversification (r5)
        "funnel": q_funnel,  # event funnel analysis (r5)
        "retention": q_retention,  # cohort retention (r5)
        "view_click_join": q_view_click_join,  # stream-stream join (r5)
        "more_like_this": q_more_like_this,  # tf-idf related docs (r5)
        "search_eval": q_search_eval,  # nDCG/MRR/recall harness (r5)
    }


# ---------------------------------------------------------------------------
# DuckDB oracle SQL
# ---------------------------------------------------------------------------

def _minhash_cte(num_hashes: int = 8) -> str:
    h1, h2 = md5_two_hash_sql("shingle")
    mh = ", ".join(
        f"min(h1 + {j} * h2) AS mh{j}" for j in range(num_hashes)
    )
    return f"""
{TOKS_CTE},
sh AS (
  SELECT DISTINCT docid,
         array_to_string(toks[g.i : g.i + 2], ' ') AS shingle
  FROM toks, unnest(generate_series(1, greatest(len(toks) - 2, 0))) AS g(i)
),
shh AS (SELECT docid, shingle, {h1} AS h1, {h2} AS h2 FROM sh),
sigs AS (SELECT docid, {mh} FROM shh GROUP BY docid)
"""


def _jaccard_sql(threshold: float, with_lsh: bool) -> str:
    """Exact-pairs SQL; with_lsh restricts to LSH candidate pairs first."""
    bands = []
    for b in range(4):
        cols = ", ".join(f"mh{b * 2 + i}" for i in range(2))
        bands.append(
            f"SELECT docid, {b} AS band, concat_ws(',', {cols}) AS key FROM sigs"
        )
    banded = " UNION ALL ".join(bands)
    cand = f"""
banded AS ({banded}),
cands AS (
  SELECT DISTINCT l.docid AS a, r.docid AS b
  FROM banded l JOIN banded r ON l.band = r.band AND l.key = r.key
  WHERE l.docid < r.docid
),
"""
    restrict = "JOIN cands ON la.docid = cands.a AND rb.docid = cands.b" if with_lsh else ""
    return f"""
WITH {_minhash_cte()},
{cand if with_lsh else ""}
sizes AS (SELECT docid, count(*) AS sz FROM sh GROUP BY docid),
common AS (SELECT shingle FROM sh GROUP BY shingle HAVING count(*) > 1),
inter AS (
  SELECT la.docid AS a, rb.docid AS b, count(*) AS inter
  FROM sh la JOIN common USING (shingle) JOIN sh rb USING (shingle)
  {restrict}
  WHERE la.docid < rb.docid
  GROUP BY la.docid, rb.docid
)
SELECT a, b,
       round(inter * 1.0 / (sa.sz + sb.sz - inter), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.docid = a
JOIN sizes sb ON sb.docid = b
WHERE round(inter * 1.0 / (sa.sz + sb.sz - inter), 6) >= {threshold}
"""


def _cosine_cte(qid: int = 0) -> str:
    return f"""
q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = {qid}),
s AS (
  SELECT e.vec_id,
         sum(list_extract(e.embedding, g.i)::DOUBLE * list_extract(q.qv, g.i)::DOUBLE) AS dot,
         sum(list_extract(e.embedding, g.i)::DOUBLE * list_extract(e.embedding, g.i)::DOUBLE) AS na,
         sum(list_extract(q.qv, g.i)::DOUBLE * list_extract(q.qv, g.i)::DOUBLE) AS nb
  FROM embeddings e, q, unnest(generate_series(1, 64)) AS g(i)
  GROUP BY e.vec_id
)
"""


def _lang_sql() -> str:
    hits = []
    for lang, markers in TS.LANG_MARKERS.items():
        lst = ", ".join(f"'{m}'" for m in markers)
        hits.append(
            f"len(list_filter(toks, x -> list_contains([{lst}], x))) AS hits_{lang}"
        )
    return f"""
WITH {TOKS_CTE},
h AS (SELECT docid, {', '.join(hits)} FROM toks)
SELECT docid,
  CASE
    WHEN greatest(hits_en, hits_de, hits_es, hits_fr) = 0 THEN 'und'
    WHEN hits_en >= hits_de AND hits_en >= hits_es AND hits_en >= hits_fr THEN 'en'
    WHEN hits_de >= hits_es AND hits_de >= hits_fr THEN 'de'
    WHEN hits_es >= hits_fr THEN 'es'
    ELSE 'fr'
  END AS pred_lang,
  greatest(hits_en, hits_de, hits_es, hits_fr)::INT AS best_hits
FROM h
"""


def _simhash_ctes() -> str:
    """CTE chain ending in sg(docid, sim_lo, sim_hi) — 64-bit SimHash as
    two non-negative 32-bit halves (mirrors dedup.simhash exactly);
    shared by the simhash and simhash_near_pairs oracles."""
    hlo = md5_int32_sql("term")
    hhi = md5_int32_hi_sql("term")
    return f"""{TOKS_CTE}, {FLAT_CTE},
tf AS (SELECT docid, term, count(*) AS tf FROM flat GROUP BY docid, term),
hh AS (SELECT docid, tf, {hlo} AS hlo, {hhi} AS hhi FROM tf),
bits AS (
  SELECT docid, g.bit,
         sum(CASE WHEN ((CASE WHEN g.bit < 32 THEN hlo ELSE hhi END)
                        >> (g.bit % 32)) & 1 = 1
             THEN tf ELSE -tf END) AS s
  FROM hh, unnest(generate_series(0, 63)) AS g(bit)
  GROUP BY docid, g.bit
),
sg AS (
  SELECT docid,
         sum(CASE WHEN s > 0 AND bit < 32
             THEN (1::BIGINT << bit) ELSE 0 END)::BIGINT AS sim_lo,
         sum(CASE WHEN s > 0 AND bit >= 32
             THEN (1::BIGINT << (bit - 32)) ELSE 0 END)::BIGINT AS sim_hi
  FROM bits GROUP BY docid
)"""


def _simhash_sql() -> str:
    return f"WITH {_simhash_ctes()} SELECT docid, sim_lo, sim_hi FROM sg"


def _simhash_near_pairs_sql(max_hamming: int = 3) -> str:
    """Exact all-pairs mirror of D.simhash_near_pairs: the Spark side's
    bit-band bucketing is lossless by pigeonhole (any pair within hamming r
    agrees exactly on >=1 of r+1 bands), so the banded result equals the
    exhaustive pair set the oracle computes directly."""
    ham = (
        "bit_count(xor(l.sim_lo, r.sim_lo)) + "
        "bit_count(xor(l.sim_hi, r.sim_hi))"
    )
    return f"""
WITH {_simhash_ctes()}
SELECT l.docid AS a, r.docid AS b, ({ham})::INT AS hamming
FROM sg l JOIN sg r ON l.docid < r.docid
WHERE {ham} <= {max_hamming}
"""


def _plane_lit(plane: list[float]) -> str:
    return "CAST([" + ", ".join(str(x) for x in plane) + "] AS DOUBLE[])"


def _plane_int_lit(plane: list[float]) -> str:
    return "CAST([" + ", ".join(str(int(x)) for x in plane) + "] AS BIGINT[])"


def _lsh_multiprobe_sql(k: int = 10, n_planes: int = 8, dim: int = 64,
                        qid: int = 0, min_candidates: int | None = None,
                        budget_frac: float = 0.25) -> str:
    """Mirror of S.lsh_topk_multiprobe: INTEGER-quantized plane dots
    (floor(x * 2^20) * +/-1 summed as BIGINT — exact, so signatures and
    the probe order are bit-identical to Spark's), buckets taken in
    ascending flip-margin order until the probed population reaches
    max(min_candidates, ceil(budget_frac * n)), exact cosine inside."""
    planes = S.hyperplanes(dim, n_planes)
    if min_candidates is None:
        min_candidates = 20 * k
    dcols = ", ".join(
        f"sum(floor(list_extract(e.embedding, g.i)::DOUBLE * {S.DOT_QUANT})::BIGINT"
        f" * list_extract({_plane_int_lit(p)}, g.i))::BIGINT AS d{j}"
        for j, p in enumerate(planes)
    )
    sig_expr = " + ".join(
        f"(CASE WHEN d{j} > 0 THEN {1 << j} ELSE 0 END)" for j in range(n_planes)
    )
    cost_expr = " + ".join(
        f"(CASE WHEN ((xor(b.sig, q.sig) >> {j}) & 1) = 1"
        f" THEN abs(q.d{j}) ELSE 0 END)"
        for j in range(n_planes)
    )
    return f"""
WITH idots AS (
  SELECT e.vec_id, {dcols}
  FROM embeddings e, unnest(generate_series(1, {dim})) AS g(i)
  GROUP BY e.vec_id
),
sigs AS (SELECT vec_id, ({sig_expr})::BIGINT AS sig,
                {', '.join(f'd{j}' for j in range(n_planes))}
         FROM idots),
qrow AS (SELECT * FROM sigs WHERE vec_id = {qid}),
bcnt AS (SELECT sig, count(*)::BIGINT AS cnt FROM sigs GROUP BY sig),
cost AS (
  SELECT b.sig, b.cnt, ({cost_expr})::BIGINT AS fc
  FROM bcnt b, qrow q
),
ord_ AS (
  SELECT sig, cnt,
         sum(cnt) OVER (ORDER BY fc ASC, sig ASC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM cost
),
tot AS (SELECT sum(cnt)::BIGINT AS n FROM bcnt),
chosen AS (
  SELECT sig FROM ord_, tot
  WHERE cum - cnt < least(greatest({min_candidates},
                                   ceil({budget_frac} * n)::BIGINT), n)
),
cand AS (SELECT s.vec_id FROM sigs s JOIN chosen USING (sig)),
q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = {qid}),
sc AS (
  SELECT e.vec_id,
         sum(list_extract(e.embedding, g.i)::DOUBLE * list_extract(q.qv, g.i)::DOUBLE) AS dot,
         sum(list_extract(e.embedding, g.i)::DOUBLE * list_extract(e.embedding, g.i)::DOUBLE) AS na,
         sum(list_extract(q.qv, g.i)::DOUBLE * list_extract(q.qv, g.i)::DOUBLE) AS nb
  FROM embeddings e JOIN cand USING (vec_id), q,
       unnest(generate_series(1, {dim})) AS g(i)
  GROUP BY e.vec_id
)
SELECT vec_id, round(dot / (sqrt(na) * sqrt(nb)), 6) AS cos
FROM sc ORDER BY cos DESC, vec_id ASC LIMIT {k}
"""


def _ivf_topk_sql(k: int = 10, n_pivots: int = 8, nprobe: int = 3,
                  qid: int = 0, dim: int = 64) -> str:
    """Mirror of S.ivf_topk with pivots = embeddings(vec_id < n_pivots) and
    query = embeddings(vec_id = qid) — exactly how q_ivf_topk builds them.
    Assignment uses ROUNDED cosine (matches cosine_col), smaller cell id on
    ties (matches the greatest-of-struct negid trick); probe-cell selection
    uses UNROUNDED cosine (matches the Python driver-side sort)."""
    return f"""
WITH piv AS (SELECT vec_id AS cid, embedding AS pv FROM embeddings WHERE vec_id < {n_pivots}),
q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = {qid}),
pivq AS (
  SELECT p.cid,
         sum(list_extract(p.pv, g.i)::DOUBLE * list_extract(q.qv, g.i)::DOUBLE)
           / (sqrt(sum(list_extract(p.pv, g.i)::DOUBLE * list_extract(p.pv, g.i)::DOUBLE))
              * sqrt(sum(list_extract(q.qv, g.i)::DOUBLE * list_extract(q.qv, g.i)::DOUBLE))) AS cos
  FROM piv p, q, unnest(generate_series(1, {dim})) AS g(i)
  GROUP BY p.cid
),
probe AS (SELECT cid FROM pivq ORDER BY cos DESC, cid ASC LIMIT {nprobe}),
vp AS (
  SELECT e.vec_id, p.cid,
         round(sum(list_extract(e.embedding, g.i)::DOUBLE * list_extract(p.pv, g.i)::DOUBLE)
           / (sqrt(sum(list_extract(e.embedding, g.i)::DOUBLE * list_extract(e.embedding, g.i)::DOUBLE))
              * sqrt(sum(list_extract(p.pv, g.i)::DOUBLE * list_extract(p.pv, g.i)::DOUBLE))), 6) AS cos
  FROM embeddings e, piv p, unnest(generate_series(1, {dim})) AS g(i)
  GROUP BY e.vec_id, p.cid
),
assign AS (
  SELECT vec_id, cid AS cell FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid ASC) AS rn
    FROM vp
  ) WHERE rn = 1
),
cand AS (SELECT a.vec_id FROM assign a JOIN probe ON a.cell = probe.cid),
sc AS (
  SELECT e.vec_id,
         sum(list_extract(e.embedding, g.i)::DOUBLE * list_extract(q.qv, g.i)::DOUBLE) AS dot,
         sum(list_extract(e.embedding, g.i)::DOUBLE * list_extract(e.embedding, g.i)::DOUBLE) AS na,
         sum(list_extract(q.qv, g.i)::DOUBLE * list_extract(q.qv, g.i)::DOUBLE) AS nb
  FROM embeddings e JOIN cand USING (vec_id), q,
       unnest(generate_series(1, {dim})) AS g(i)
  GROUP BY e.vec_id
)
SELECT vec_id, round(dot / (sqrt(na) * sqrt(nb)), 6) AS cos
FROM sc ORDER BY cos DESC, vec_id ASC LIMIT {k}
"""


def _all_oracle_sql() -> dict[str, str]:
    """Every oracle mirror — driver-registry AND extra entries; the public
    accessors below slice it by registry."""
    sqls: dict[str, str] = {}

    sqls["term_frequencies"] = f"""
WITH {TOKS_CTE}, {FLAT_CTE}
SELECT docid, term, count(*) AS tf FROM flat GROUP BY docid, term
"""

    sqls["doc_lengths"] = f"""
WITH {TOKS_CTE}
SELECT docid, len(toks)::INT AS dl FROM toks
"""

    sqls["document_frequencies"] = f"""
WITH {TOKS_CTE}, {FLAT_CTE},
tf AS (SELECT docid, term, count(*) AS tf FROM flat GROUP BY docid, term),
d AS (SELECT term, count(*) AS df, sum(tf)::BIGINT AS cf FROM tf GROUP BY term),
n AS (SELECT count(*) AS n_docs FROM documents)
SELECT term, df, cf,
       round(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0), 6) AS idf
FROM d, n
"""

    _vocab_sql = (
        f"WITH {TOKS_CTE}, {FLAT_CTE}, "
        "tf AS (SELECT docid, term, count(*) AS tf FROM flat "
        "GROUP BY docid, term) "
        "SELECT term, count(*) AS df FROM tf GROUP BY term"
    )
    # paragraph dedup over the SAME synthetic re-chunking the Spark side
    # builds (3-token windows joined by blank lines)
    _para_src = f"""
SELECT doc_id,
       array_to_string(
         list_transform(
           generate_series(0, CAST(ceil(len(toks)/{PARA_CHUNK}.0) AS INT) - 1),
           i -> array_to_string(
             toks[i*{PARA_CHUNK}+1 : i*{PARA_CHUNK}+{PARA_CHUNK}], ' ')),
         chr(10) || chr(10)) AS text
FROM (SELECT doc_id,
             list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                         x -> x <> '') AS toks
      FROM documents)
WHERE len(toks) > 0
"""
    sqls["paragraph_dedup"] = D.paragraph_dedup_sql(docs_select=_para_src)

    sqls["spell_suggest"] = TS.spell_suggest_sql(
        SPELL_QUERY, k=5, max_dist=2, terms_sql=_vocab_sql
    )
    # SymSpell serving path must be output-identical to the brute scan:
    # same oracle, different physical plan
    sqls["spell_symspell"] = sqls["spell_suggest"]

    sqls["idf"] = f"""
WITH {TOKS_CTE}, {FLAT_CTE},
tf AS (SELECT docid, term, count(*) AS tf FROM flat GROUP BY docid, term),
d AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
n AS (SELECT count(*) AS n_docs FROM documents)
SELECT term, df, round(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0), 6) AS idf
FROM d, n
"""

    sqls["bm25_multi"] = f"""
SELECT 'multi' AS q, docid, score
FROM ({T.bm25_topk_sql_oracle("spark table join", k=20)})
UNION ALL
SELECT 'rare' AS q, docid, score
FROM ({T.bm25_topk_sql_oracle("customer stream vector", k=15)})
"""
    sqls["bm25_single"] = T.bm25_topk_sql_oracle("window", k=20)
    sqls["bm25_rare"] = T.bm25_topk_sql_oracle("customer stream vector", k=15)
    sqls["boosted_topk"] = T.boosted_topk_sql_oracle(
        BOOST_QUERY, k=20, url_sql=_GATE_URL_SQL
    )
    from search_engine_spark.operators.pagerank import rank_fusion_sql

    sqls["rank_fusion"] = rank_fusion_sql(
        T.bm25_topk_sql_oracle(BOOST_QUERY, k=10_000), iters=10, k=20
    )
    sqls["boost_fusion_topk"] = f"""
SELECT 'boost' AS method, docid, score FROM ({sqls["boosted_topk"]})
UNION ALL
SELECT 'fusion' AS method, docid, score FROM ({sqls["rank_fusion"]})
UNION ALL
SELECT 'title' AS method, docid, score FROM (__BM25F_TITLE__)
"""
    sqls["bm25_index_all"] = T.bm25_topk_sql_oracle("spark table join", k=10_000)
    sqls["bm25_index_topk20"] = T.bm25_topk_sql_oracle("spark table join", k=20)
    # segment search ≡ global BM25 by construction (global stats recomputed
    # over the level set) — the oracle is the plain global-BM25 mirror
    sqls["segments_topk"] = T.bm25_topk_sql_oracle("spark table join", k=20)

    batch_parts = []
    for qid, q in BATCH_QUERIES.items():
        batch_parts.append(f"""
SELECT {qid}::BIGINT AS qid, docid, score,
       (row_number() OVER (ORDER BY score DESC, docid ASC))::INT AS rank
FROM ({T.bm25_topk_sql_oracle(q, k=15)})""")
    sqls["bm25_batch"] = " UNION ALL ".join(batch_parts)
    from search_engine_spark.oracle.porter import porter_stem

    stem_w = {
        t: (2 if porter_stem(t) != t else 1)
        for t in T.query_terms("table customer query")
    }
    sqls["stemmed_topk"] = T.bm25_topk_sql_oracle(
        "table customer query", k=25, weights=stem_w
    )

    snip = IQ.snippet_sql(T.query_terms("spark table join"), "d.text")
    # title mirror: the Spark side wraps text into html with
    # title = first 4 simple tokens, then regex-extracts <title> back out
    title = (
        "array_to_string((list_filter(string_split_regex(lower(d.text), "
        "'[^a-z0-9]+'), x -> x <> ''))[1:4], ' ')"
    )
    sqls["topk_urls"] = f"""
WITH scored AS ({T.bm25_topk_sql_oracle("spark table join", k=20)})
SELECT s.docid,
       lpad(CAST(d.doc_id AS VARCHAR), 12, '0') AS url,
       s.score,
       {snip} AS snippet,
       {title} AS title
FROM scored s JOIN documents d ON d.doc_id = s.docid
"""

    # html-BUILT index: the indexed text is extract_text(html) =
    # 'title<space>body' (clean-ASCII corpus invariant), so the BM25
    # oracle runs over concat(first4, ' ', text); answer title/snippet
    # mirror the wrapped corpus exactly as topk_urls does
    title_doc = (
        "concat(array_to_string((list_filter(string_split_regex("
        "lower(text), '[^a-z0-9]+'), x -> x <> ''))[1:4], ' '), ' ', text)"
    )
    sqls["topk_urls_html"] = f"""
WITH scored AS (
  {T.bm25_topk_sql_oracle("spark table join", k=20, text=title_doc)})
SELECT s.docid,
       lpad(CAST(d.doc_id AS VARCHAR), 12, '0') AS url,
       s.score,
       {snip} AS snippet,
       {title} AS title
FROM scored s JOIN documents d ON d.doc_id = s.docid
"""

    sqls["topk_urls_suite"] = f"""
SELECT 'text' AS method, * FROM ({sqls["topk_urls"]})
UNION ALL
SELECT 'html' AS method, * FROM ({sqls["topk_urls_html"]})
"""

    sqls["sample_bernoulli"] = f"""
SELECT doc_id, lang, n_chars FROM documents
WHERE {SMP.bernoulli_sample_sql(0.25, 7, "doc_id")}
"""

    sqls["sample_stratified"] = f"""
SELECT doc_id, lang, n_chars FROM documents
WHERE {SMP.stratified_sample_sql(STRATA_FRACTIONS, 11, "doc_id", "lang")}
"""

    sqls["top_terms"] = f"""
WITH {TOKS_CTE}, {FLAT_CTE},
tf AS (SELECT docid, term, count(*) AS tf FROM flat GROUP BY docid, term),
d AS (SELECT term, count(*) AS df, sum(tf)::BIGINT AS cf FROM tf GROUP BY term)
SELECT term, df, cf FROM d ORDER BY cf DESC, term ASC LIMIT 20
"""

    sqls["autocomplete"] = f"""
WITH {TOKS_CTE}, {FLAT_CTE},
tf AS (SELECT docid, term, count(*) AS tf FROM flat GROUP BY docid, term),
d AS (SELECT term, count(*) AS df FROM tf GROUP BY term)
SELECT term, df FROM d WHERE term LIKE 's%'
ORDER BY df DESC, term ASC LIMIT 10
"""

    sqls["query_assist"] = f"""
SELECT 'auto' AS method, 's' AS qterm, term AS suggestion,
       (-1)::BIGINT AS dist, df::BIGINT AS df
FROM ({sqls["autocomplete"]})
UNION ALL
SELECT 'spell' AS method, qterm, suggestion, dist, df
FROM ({sqls["spell_suggest"]})
UNION ALL
SELECT 'symspell' AS method, qterm, suggestion, dist, df
FROM ({sqls["spell_symspell"]})
"""

    sqls["phrase"] = f"""
WITH {TOKS_CTE}, {POS_CTE}
SELECT DISTINCT a.docid AS docid
FROM pos a JOIN pos b ON a.docid = b.docid AND b.pos = a.pos + 1
WHERE a.term = 'hash' AND b.term = 'join'
"""

    sqls["phrase_index"] = f"""
WITH {TOKS_CTE}, {POS_CTE}
SELECT DISTINCT a.docid AS docid
FROM pos a JOIN pos b ON a.docid = b.docid AND b.pos = a.pos + 1
WHERE a.term = 'hash' AND b.term = 'join'
"""

    sqls["distinct_terms"] = f"""
WITH {TOKS_CTE}, {FLAT_CTE}
SELECT count(DISTINCT term) AS n_terms FROM flat
"""

    sqls["corpus_stats"] = f"""
WITH {TOKS_CTE}, {FLAT_CTE},
s1 AS (SELECT count(*) AS n_docs, round(avg(len(toks)), 6) AS avgdl FROM toks),
s2 AS (SELECT count(DISTINCT term) AS n_terms FROM flat)
SELECT n_docs, avgdl, n_terms FROM s1, s2
"""

    sqls["filter_project"] = """
SELECT l_orderkey, l_partkey, l_quantity FROM lineitem WHERE l_quantity > 45
"""

    sqls["join_agg"] = """
SELECT c_mktsegment,
       sum(o_totalprice::DECIMAL(18,2))::DECIMAL(38,2) AS revenue,
       count(*) AS n_orders
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
"""

    sqls["cogroup"] = """
WITH c AS (SELECT c_nationkey AS nationkey, count(*) AS n_cust FROM customer GROUP BY 1),
s AS (SELECT s_nationkey AS nationkey, count(*) AS n_supp FROM supplier GROUP BY 1)
SELECT coalesce(c.nationkey, s.nationkey) AS nationkey,
       coalesce(n_cust, 0) AS n_cust, coalesce(n_supp, 0) AS n_supp
FROM c FULL OUTER JOIN s ON c.nationkey = s.nationkey
"""

    sqls["foldbykey"] = """
SELECT user_id,
       sum(CAST(round(value * 100) AS BIGINT))::BIGINT AS total_cents,
       count(*) AS n_events
FROM events GROUP BY user_id
"""

    sqls["fold_global"] = """
SELECT count(*) AS n_rows,
       sum(l_quantity::BIGINT)::BIGINT AS sum_qty,
       round(avg(l_discount), 6) AS avg_disc
FROM lineitem
"""

    sqls["distinct_flags"] = """
SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
"""

    sqls["take_ordered"] = """
SELECT o_orderkey, o_custkey, o_totalprice FROM orders
ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10
"""

    sqls["sample_mod"] = """
SELECT doc_id, lang, n_chars FROM documents WHERE doc_id % 7 = 0
"""

    sqls["union_merge"] = f"""
WITH {TOKS_CTE}, {FLAT_CTE},
tf AS (SELECT docid, term, count(*) AS tf FROM flat GROUP BY docid, term),
ha AS (SELECT term, count(*) AS df, sum(tf) AS cf FROM tf WHERE docid % 2 = 0 GROUP BY term),
hb AS (SELECT term, count(*) AS df, sum(tf) AS cf FROM tf WHERE docid % 2 = 1 GROUP BY term),
u AS (SELECT * FROM ha UNION ALL SELECT * FROM hb)
SELECT term, sum(df)::BIGINT AS df, sum(cf)::BIGINT AS cf FROM u GROUP BY term
"""

    sqls["intersection"] = f"""
WITH t0 AS (
  SELECT DISTINCT t.term FROM documents,
    unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS t(term)
  WHERE source = 'src0'
),
t1 AS (
  SELECT DISTINCT t.term FROM documents,
    unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS t(term)
  WHERE source = 'src1'
)
SELECT term FROM t0 INTERSECT SELECT term FROM t1
"""

    sqls["tpch_pricing"] = """
SELECT l_returnflag, l_linestatus,
       sum(l_quantity::BIGINT)::BIGINT AS sum_qty,
       sum(CAST(round(l_extendedprice * 100) AS BIGINT))::BIGINT
         AS sum_price_cents,
       count(*) AS n
FROM lineitem GROUP BY l_returnflag, l_linestatus
"""

    sqls["window_top_order"] = """
WITH r AS (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
  FROM orders
)
SELECT o_custkey, o_orderkey, o_totalprice FROM r WHERE rn = 1
"""

    sqls["events_hourly"] = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
       event_type, count(*) AS n,
       sum(CAST(round(value * 100) AS BIGINT))::BIGINT AS sum_cents
FROM events GROUP BY 1, 2
"""

    sqls["events_rollup"] = """
SELECT event_type, strftime(ts, '%Y-%m-%d') AS day, count(*) AS n,
       sum(CAST(round(value * 100) AS BIGINT))::BIGINT AS sum_cents
FROM events GROUP BY ROLLUP (event_type, strftime(ts, '%Y-%m-%d'))
"""

    sqls["events_json"] = r"""
SELECT regexp_extract(props, '"k":\s*(\d+)', 1)::INT AS k, count(*) AS n
FROM events GROUP BY 1
"""

    sqls["sessionize"] = """
WITH lagged AS (
  SELECT user_id, event_id, ts,
         CASE WHEN epoch(ts) - coalesce(epoch(lag(ts) OVER w), 0) > 1800
              THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT user_id, ts,
         (sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING))::BIGINT AS session_id
  FROM lagged
)
SELECT user_id, session_id, count(*) AS n_events,
       min(ts) AS start_ts, max(ts) AS end_ts
FROM sess GROUP BY user_id, session_id
"""

    # ASOF LEFT JOIN is native in DuckDB; the right side is deduplicated
    # to max event_id per (user, ts) to pin the same tie-break the Spark
    # operator applies (greatest tiebreak among equal timestamps)
    sqls["asof_join"] = """
WITH l AS (SELECT * FROM events WHERE event_type = 'purchase'),
r AS (
  SELECT * FROM (SELECT * FROM events WHERE event_type = 'view')
  QUALIFY row_number() OVER (PARTITION BY user_id, ts
                             ORDER BY event_id DESC) = 1
)
SELECT l.event_id, l.user_id, r.event_id AS r_event_id,
       r.value AS r_value
FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts
"""

    # the oracle states containment as a plain inequality join — the Spark
    # side's bucketed equi-join must produce the identical relation
    sqls["range_join"] = """
WITH lagged AS (
  SELECT user_id, event_id, ts,
         CASE WHEN epoch(ts) - coalesce(epoch(lag(ts) OVER w), 0) > 1800
              THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT user_id, ts,
         (sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING))::BIGINT AS session_id
  FROM lagged
),
intervals AS (
  SELECT user_id, session_id, min(ts) AS start_ts, max(ts) AS end_ts
  FROM sess GROUP BY user_id, session_id
)
SELECT e.event_id, e.user_id, i.session_id AS r_session_id
FROM events e JOIN intervals i
  ON e.user_id = i.user_id AND e.ts >= i.start_ts AND e.ts <= i.end_ts
WHERE e.event_type = 'error'
"""

    sqls["dedup_exact"] = """
SELECT md5(text) AS content_hash, count(*) AS n_dupes, min(doc_id) AS keep_docid
FROM documents GROUP BY md5(text)
"""

    from search_engine_spark.operators.dedup import (
        duplicate_spans_sql,
        remove_duplicate_spans_sql,
    )

    sqls["dedup_spans"] = duplicate_spans_sql(k=8)
    sqls["dedup_spans_apply"] = remove_duplicate_spans_sql(k=8)

    sqls["dedup_exact_suite"] = f"""
SELECT 'doc' AS method, content_hash AS key, '' AS payload,
       n_dupes::BIGINT AS n1, keep_docid::BIGINT AS n2
FROM ({sqls["dedup_exact"]})
UNION ALL
SELECT 'para' AS method, CAST(docid AS VARCHAR) AS key, clean_text AS payload,
       n_paras AS n1, n_kept AS n2
FROM ({sqls["paragraph_dedup"]})
UNION ALL
SELECT 'span' AS method, CAST(docid AS VARCHAR) AS key, '' AS payload,
       span_start AS n1, span_end AS n2
FROM ({sqls["dedup_spans"]})
"""

    sqls["jaccard_pairs"] = f"""
SELECT 'low' AS method, * FROM ({_jaccard_sql(0.08, with_lsh=False)})
UNION ALL
SELECT 'prefix' AS method, * FROM ({_jaccard_sql(0.3, with_lsh=False)})
"""
    sqls["jaccard_prefix"] = _jaccard_sql(0.3, with_lsh=False)
    sqls["minhash_lsh_pairs"] = _jaccard_sql(0.05, with_lsh=True)

    # near-dup clustering: min reachable docid over the undirected dup
    # graph — recursive CTE closure over the SAME pair relation the
    # minhash_lsh_pairs oracle produces; singletons cluster to themselves
    sqls["dedup_clusters"] = f"""
WITH RECURSIVE pairs AS ({_jaccard_sql(0.05, with_lsh=True)}),
edges AS (
  SELECT a AS src, b AS dst FROM pairs
  UNION SELECT b, a FROM pairs
),
reach(id, label) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.id
),
cc AS (SELECT id AS docid, min(label) AS cluster FROM reach GROUP BY id)
SELECT d.doc_id AS docid, coalesce(cc.cluster, d.doc_id) AS cluster
FROM documents d LEFT JOIN cc ON cc.docid = d.doc_id
"""

    sqls["dedup_keep"] = f"""
WITH RECURSIVE pairs AS ({_jaccard_sql(0.05, with_lsh=True)}),
edges AS (
  SELECT a AS src, b AS dst FROM pairs
  UNION SELECT b, a FROM pairs
),
reach(id, label) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.id
),
cc AS (SELECT id AS docid, min(label) AS cluster FROM reach GROUP BY id)
SELECT d.doc_id, d.lang, d.n_chars
FROM documents d LEFT JOIN cc ON cc.docid = d.doc_id
WHERE coalesce(cc.cluster, d.doc_id) = d.doc_id
"""

    mh_cols = ", ".join(f"mh{j}" for j in range(8))
    sqls["minhash_sigs"] = f"WITH {_minhash_cte()} SELECT docid, {mh_cols} FROM sigs"

    sqls["simhash"] = _simhash_sql()
    sqls["simhash_near_pairs"] = _simhash_near_pairs_sql(max_hamming=3)
    sqls["lsh_topk"] = _lsh_multiprobe_sql(k=10)
    sqls["ivf_topk"] = _ivf_topk_sql(k=10, n_pivots=8, nprobe=3)

    sqls["cosine_topk"] = f"""
WITH {_cosine_cte(0)}
SELECT vec_id, round(dot / (sqrt(na) * sqrt(nb)), 6) AS cos
FROM s WHERE vec_id <> 0
ORDER BY cos DESC, vec_id ASC LIMIT 10
"""

    sqls["knn_join"] = """
WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id IN (0, 1, 2)),
s AS (
  SELECT q.qid, e.vec_id,
         sum(list_extract(e.embedding, g.i)::DOUBLE * list_extract(q.qv, g.i)::DOUBLE) AS dot,
         sum(list_extract(e.embedding, g.i)::DOUBLE * list_extract(e.embedding, g.i)::DOUBLE) AS na,
         sum(list_extract(q.qv, g.i)::DOUBLE * list_extract(q.qv, g.i)::DOUBLE) AS nb
  FROM embeddings e, q, unnest(generate_series(1, 64)) AS g(i)
  WHERE e.vec_id <> q.qid
  GROUP BY q.qid, e.vec_id
),
r AS (
  SELECT qid, vec_id, round(dot / (sqrt(na) * sqrt(nb)), 6) AS cos,
         row_number() OVER (PARTITION BY qid
                            ORDER BY round(dot / (sqrt(na) * sqrt(nb)), 6) DESC,
                                     vec_id ASC) AS rank
  FROM s
)
SELECT qid, vec_id, cos, rank::INT AS rank FROM r WHERE rank <= 3
"""

    sqls["lang_id"] = _lang_sql()

    stop_filter = f"len(list_filter(toks, x -> list_contains([{STOP_LIST}], x)))"
    sqls["quality"] = f"""
WITH {TOKS_CTE},
base AS (
  SELECT docid, len(toks) AS n_tokens,
         len(list_distinct(toks)) AS n_unique,
         {stop_filter} AS n_stop,
         list_sum(list_transform(toks, x -> length(x)))::DOUBLE AS char_sum
  FROM toks WHERE len(toks) > 0
)
SELECT docid, n_tokens::INT AS n_tokens,
       round(n_unique * 1.0 / n_tokens, 6) AS uniq_ratio,
       round(n_stop * 1.0 / n_tokens, 6) AS stop_ratio,
       round(char_sum / n_tokens, 6) AS mean_len,
       floor((0.3 * least(n_tokens / 200.0, 1.0)
           + 0.3 * (n_unique * 1.0 / n_tokens)
           + 0.2 * (1.0 - n_stop * 1.0 / n_tokens)
           + 0.2 * least(char_sum / n_tokens / 8.0, 1.0)) * 1e6) / 1e6 AS quality
FROM base
"""

    sqls["token_counts"] = f"""
WITH {TOKS_CTE}
SELECT docid, len(toks)::INT AS n_tokens,
       len(list_distinct(toks))::INT AS n_unique,
       length(array_to_string(toks, ' '))::INT AS n_chars_norm
FROM toks
"""

    sqls["pack_sequences"] = f"""
WITH {TOKS_CTE},
tc AS (SELECT docid, CAST(len(toks) AS BIGINT) AS n_tokens FROM toks),
c AS (
  SELECT docid, n_tokens,
         CAST(COALESCE(SUM(n_tokens) OVER (
           ORDER BY docid ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0) AS BIGINT) AS tok_start
  FROM tc
)
SELECT docid, n_tokens, tok_start,
       tok_start // 256 AS seq_id,
       tok_start % 256 AS seq_offset,
       CAST(CASE WHEN n_tokens > 0
                  AND (tok_start + n_tokens - 1) // 256 <> tok_start // 256
            THEN 1 ELSE 0 END AS INT) AS straddles
FROM c
"""

    sqls["fingerprint"] = f"""
WITH {TOKS_CTE}
SELECT docid, md5(array_to_string(toks, ' ')) AS fp FROM toks
"""

    sqls["bpe_tokens"] = f"""
WITH {TOKS_CTE},
p AS (
  SELECT doc_id AS docid,
         len(regexp_extract_all(lower(text), '{TS.BPE_PIECE_RE}'))::INT AS n_pieces
  FROM documents
)
SELECT p.docid, p.n_pieces, len(t.toks)::INT AS n_words,
       CASE WHEN len(t.toks) > 0
            THEN round(p.n_pieces * 1.0 / len(t.toks), 6)
            ELSE 0.0 END AS pieces_per_word
FROM p JOIN toks t ON t.docid = p.docid
"""

    sqls["repetition"] = f"""
WITH {TOKS_CTE}, {POS_CTE},
n AS (SELECT docid, len(toks)::BIGINT AS n_tokens FROM toks
      WHERE len(toks) >= 2),
g AS (SELECT p.docid,
             p.term || ' ' || lead(p.term) OVER w AS bg,
             p.term || ' ' || lead(p.term) OVER w
                    || ' ' || lead(p.term, 2) OVER w AS tg
      FROM pos p WINDOW w AS (PARTITION BY p.docid ORDER BY p.pos)),
bc AS (SELECT docid, bg, count(*) AS c FROM g WHERE bg IS NOT NULL
       GROUP BY docid, bg),
bs AS (SELECT docid, sum(c)::BIGINT AS n_bigrams,
              count(*)::BIGINT AS n_distinct_bigrams,
              max(c)::BIGINT AS top_bigram_count
       FROM bc GROUP BY docid),
ts AS (SELECT docid, count(DISTINCT tg)::BIGINT AS n_tri_d FROM g
       WHERE tg IS NOT NULL GROUP BY docid)
SELECT n.docid, n.n_tokens, bs.n_bigrams, bs.n_distinct_bigrams,
       bs.top_bigram_count,
       floor((1.0 - bs.n_distinct_bigrams::DOUBLE / bs.n_bigrams) * 1e6)
         / 1e6 AS dup_bigram_frac,
       floor((2.0 * bs.top_bigram_count / n.n_tokens) * 1e6)
         / 1e6 AS top_bigram_frac,
       CASE WHEN n.n_tokens >= 3 THEN
         floor((1.0 - COALESCE(ts.n_tri_d, 0)::DOUBLE / (n.n_tokens - 2))
               * 1e6) / 1e6
       END AS dup_trigram_frac
FROM n JOIN bs USING (docid) LEFT JOIN ts USING (docid)
"""

    sqls["pii_scrub"] = f"""
SELECT doc_id AS docid,
       regexp_replace(regexp_replace(regexp_replace(
         text, '{TS.PII_EMAIL_RE}', '<EMAIL>', 'g'),
         '{TS.PII_IPV4_RE}', '<IP>', 'g'),
         '{TS.PII_PHONE_RE}', '\\1<PHONE>', 'g') AS clean_text,
       len(regexp_extract_all(text, '{TS.PII_EMAIL_RE}'))::BIGINT AS n_emails,
       len(regexp_extract_all(text, '{TS.PII_IPV4_RE}'))::BIGINT AS n_ips,
       len(regexp_extract_all(text, '{TS.PII_PHONE_RE}'))::BIGINT AS n_phones
FROM documents
"""

    sqls["split_assign"] = f"""
SELECT doc_id, lang,
       {SMP.split_assign_sql("doc_id", SPLIT_WEIGHTS)} AS split
FROM documents
"""

    sqls["domain_stats"] = f"""
WITH {_MESSY_URL_SQL}
{U.domain_stats_sql(table="msdocs")}
"""

    _stop_f = f"len(list_filter(toks, x -> list_contains([{STOP_LIST}], x)))"
    sqls["curation_pipeline"] = f"""
WITH {_MESSY_URL_SQL},
en AS (SELECT * FROM msdocs WHERE lang = 'en'),
toks AS (SELECT doc_id AS docid,
  list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')
  AS toks FROM en),
qb AS (
  SELECT docid, len(toks) AS n, len(list_distinct(toks)) AS u,
         {_stop_f} AS st,
         list_sum(list_transform(toks, x -> length(x)))::DOUBLE AS cs
  FROM toks WHERE len(toks) > 0),
q_keep AS (
  SELECT docid FROM qb
  WHERE floor((0.3 * least(n / 200.0, 1.0) + 0.3 * (u * 1.0 / n)
        + 0.2 * (1.0 - st * 1.0 / n)
        + 0.2 * least(cs / n / 8.0, 1.0)) * 1e6) / 1e6 >= {CURATION_Q_MIN}),
g AS (SELECT t.docid,
        list_extract(t.toks, g.i) || ' ' ||
        list_extract(t.toks, g.i + 1) AS bg
      FROM toks t, unnest(generate_series(1, len(t.toks) - 1)) AS g(i)
      WHERE len(t.toks) >= 2),
bs AS (SELECT docid, count(*) AS nb, count(DISTINCT bg) AS nd
       FROM g WHERE bg IS NOT NULL GROUP BY docid),
rep_keep AS (
  SELECT docid FROM bs
  WHERE floor((1.0 - nd * 1.0 / nb) * 1e6) / 1e6 <= {CURATION_REP_MAX}),
surv AS (
  SELECT e.* FROM en e
  JOIN q_keep q ON q.docid = e.doc_id
  JOIN rep_keep r ON r.docid = e.doc_id),
ukeep AS (SELECT min(doc_id) AS doc_id FROM surv
          GROUP BY {U.canonical_url_sql("url")}),
s2 AS (SELECT s.* FROM surv s JOIN ukeep k ON s.doc_id = k.doc_id),
tkeep AS (SELECT min(doc_id) AS doc_id FROM s2 GROUP BY text),
fin AS (SELECT s.doc_id FROM s2 s JOIN tkeep t ON s.doc_id = t.doc_id)
SELECT doc_id,
       {SMP.split_assign_sql("doc_id", SPLIT_WEIGHTS)} AS split
FROM fin
"""

    sqls["url_dedup"] = f"""
WITH {_MESSY_URL_SQL}
{U.url_dedup_sql(table="msdocs")}
"""

    from search_engine_spark.operators import frontier as FR

    sqls["frontier"] = FR.frontier_sql(
        _FRONTIER_PAGES_SQL,
        seen_sql=_FRONTIER_SEEN_SQL,
        per_host_cap=FRONTIER_HOST_CAP,
        blacklist=FRONTIER_BLACKLIST,
    )

    sqls["frontier_schedule"] = FR.politeness_schedule_sql(
        sqls["frontier"],
        default_delay_s=1.0,
        delays_sql=(
            "SELECT DISTINCT concat('site', (doc_id % 7)::VARCHAR,"
            " '.example') AS host,"
            " 0.5 * (1 + (doc_id % 7) % 3) AS delay_s"
            " FROM documents WHERE doc_id % 2 = 0 AND doc_id % 7 < 4"
        ),
    )

    sqls["frontier_robots"] = FR.frontier_sql(
        _FRONTIER_PAGES_SQL,
        seen_sql=_FRONTIER_SEEN_SQL,
        per_host_cap=FRONTIER_HOST_CAP,
        robots_sql=_FRONTIER_ROBOTS_SQL,
    )

    sqls["frontier_robots_fmw"] = FR.frontier_sql(
        _FRONTIER_PAGES_SQL,
        seen_sql=_FRONTIER_SEEN_SQL,
        per_host_cap=FRONTIER_HOST_CAP,
        robots_fmw_sql=_ROBOTS_FMW_SQL,
    )

    sqls["frontier_suite"] = f"""
SELECT 'base' AS method, host, url,
       (-1)::BIGINT AS slot, (-1.0)::DOUBLE AS not_before_s
FROM ({sqls["frontier"]})
UNION ALL
SELECT 'fmw' AS method, host, url,
       (-1)::BIGINT AS slot, (-1.0)::DOUBLE AS not_before_s
FROM ({sqls["frontier_robots_fmw"]})
UNION ALL
SELECT 'sched' AS method, host, url, slot, not_before_s
FROM ({sqls["frontier_schedule"]})
"""

    from search_engine_spark.operators.pagerank import synthetic_edges_sql

    sqls["bfs_hops"] = (
        "SELECT node AS docid, hop FROM ("
        + FR.bfs_hops_sql(
            prelude="n AS (SELECT count(*) AS n FROM documents),",
            edges_sql=synthetic_edges_sql(),
            seeds_sql=(
                "SELECT doc_id::BIGINT AS node FROM documents "
                "WHERE doc_id % 97 = 0"
            ),
            max_hops=BFS_MAX_HOPS,
        )
        + ")"
    )

    sqls["redirects"] = FR.resolve_redirects_sql(
        _REDIRECT_ALIASES_SQL, depth_bound=32
    )

    sqls["anchor_texts"] = FR.anchor_texts_sql(_FRONTIER_PAGES_SQL)

    sqls["anchor_bm25"] = FR.anchor_bm25_sql(
        _FRONTIER_PAGES_SQL, ANCHOR_QUERY, k=20
    )

    _bm25f_pages_cte = """n2 AS (SELECT count(*) AS n FROM documents),
fdocs AS (
  SELECT doc_id AS docid,
         concat('https://w.example/page', doc_id::VARCHAR) AS url,
         text
  FROM documents),
pages AS (
  SELECT f.url,
         concat('<a href="/page', ((f.docid * 13 + 7) % n2.n)::VARCHAR,
                '">',
                array_to_string(
                  (list_filter(string_split_regex(lower(f.text), '[^a-z0-9]+'),
                               x -> x <> ''))[1:2], ' '),
                '</a>') AS html
  FROM fdocs f, n2)"""
    _bm25f_title_cte = """fdocs AS (
  SELECT doc_id AS docid,
         lpad(doc_id::VARCHAR, 12, '0') AS url,
         text
  FROM documents),
ftitles AS (
  SELECT lpad(doc_id::VARCHAR, 12, '0') AS dst, t.term,
         count(*)::BIGINT AS tf
  FROM (SELECT doc_id,
               (list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                            x -> x <> ''))[1:4] AS ft
        FROM documents), unnest(ft) AS t(term)
  GROUP BY 1, 2)"""
    sqls["bm25f_title"] = (
        f"WITH {_bm25f_title_cte},"
        + T.bm25f_sql_tail(BM25F_QUERY, k=20, w_anchor=TITLE_W,
                           anchors_rel="ftitles")
    )
    # the title leg of boost_fusion_topk is declared above (before this
    # SQL exists) with a placeholder — splice it in now
    sqls["boost_fusion_topk"] = sqls["boost_fusion_topk"].replace(
        "__BM25F_TITLE__", sqls["bm25f_title"]
    )

    sqls["bm25f"] = (
        f"WITH {FR._anchor_ctes(_bm25f_pages_cte)},\n"
        "fanchors AS (SELECT dst, term, count(*)::BIGINT AS tf "
        "FROM atoks GROUP BY dst, term),"
        + T.bm25f_sql_tail(BM25F_QUERY, k=20)
    )

    sqls["lm_score"] = f"""
WITH {TOKS_CTE},
{FLAT_CTE},
tot AS (SELECT count(*) AS n, count(DISTINCT term) AS v FROM flat),
lp AS (
  SELECT term,
         floor(ln((count(*) + 1.0) / (tot.n + tot.v)) * 1e6)::BIGINT AS lp_micro
  FROM flat, tot GROUP BY term, tot.n, tot.v
)
SELECT f.docid, count(*)::BIGINT AS n_tokens,
       sum(lp.lp_micro)::BIGINT AS nats_micro,
       ((-(sum(lp.lp_micro)::BIGINT)) // count(*))::DOUBLE / 1000000.0
         AS avg_nats
FROM flat f JOIN lp USING (term)
GROUP BY f.docid
"""

    from search_engine_spark.operators.textstats import (
        SB_ALPHA_MICRO,
        gopher_filter_sql,
    )

    sqls["gopher_filter"] = gopher_filter_sql()

    from search_engine_spark.operators.curation import c4_clean_sql

    from search_engine_spark.operators.evaluation import search_eval_sql

    sqls["search_eval"] = search_eval_sql(
        results_sql="""
SELECT q.qid, (q.qid * 31 + r.rank * 7) % (SELECT count(*) FROM documents)
         AS docid, r.rank
FROM generate_series(0, 9) AS q(qid),
     generate_series(1, 10) AS r(rank)""",
        qrels_sql="""
SELECT q.qid, d.doc_id AS docid, d.doc_id % 3 AS rel
FROM generate_series(0, 9) AS q(qid), documents d
WHERE d.doc_id % (q.qid + 2) = 0""",
        k=10,
    )

    from search_engine_spark.operators.text_ops import more_like_this_sql

    sqls["more_like_this"] = more_like_this_sql(query_docid=7, k=10)

    from search_engine_spark.operators.events import (
        funnel_sql,
        retention_cohorts_sql,
    )

    from search_engine_spark.streaming.windows import view_click_join_sql

    sqls["view_click_join"] = view_click_join_sql(30)

    sqls["funnel"] = funnel_sql(["view", "click", "purchase"], window_hours=72)
    sqls["retention"] = retention_cohorts_sql(
        "signup", period_days=7, max_periods=8
    )

    from search_engine_spark.operators.similarity import mmr_rerank_sql

    sqls["mmr_rerank"] = mmr_rerank_sql(qid=0, k=5, pool=20)

    from search_engine_spark.operators.sketches import (
        bloom_probe_sql,
        cms_heavy_hitters_sql,
        hist_quantiles_sql,
    )

    sqls["hist_quantiles"] = hist_quantiles_sql(
        "n_chars", [10, 25, 50, 75, 90, 99], lo=0.0, hi=4096.0, buckets=128
    )

    sqls["cms_topk"] = cms_heavy_hitters_sql(k=25)

    _vocab_sql = f"WITH {TOKS_CTE} SELECT t.term FROM toks, unnest(toks.toks) AS t(term)"
    _probe_sql = (
        "WITH ptoks AS (SELECT "
        "list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), "
        "x -> x <> '') AS toks FROM documents WHERE doc_id % 97 = 0), "
        "pt AS (SELECT t.term FROM ptoks, unnest(ptoks.toks) AS t(term)) "
        "SELECT term FROM pt UNION ALL SELECT reverse(term) FROM pt"
    )
    sqls["bloom_probe"] = bloom_probe_sql(_vocab_sql, _probe_sql)

    from search_engine_spark.operators.layout import zorder_key_sql

    sqls["zorder_keys"] = f"""
WITH ev AS (
  SELECT event_id, user_id AS x,
         (epoch_us(ts::TIMESTAMP) // 3600000000)::BIGINT AS y
  FROM events
)
SELECT event_id, x, y, {zorder_key_sql('x', 'y')}::BIGINT AS z FROM ev
"""

    from search_engine_spark.operators.frontier import sitemap_entries_sql

    sqls["sitemap_parse"] = sitemap_entries_sql(_SITEMAP_CTE)

    sqls["c4_clean"] = c4_clean_sql(
        table="(SELECT doc_id, replace(text, 'batch', 'batch.' || chr(10))"
        " AS text FROM documents)"
    )

    sqls["lm_bigram"] = f"""
WITH {TOKS_CTE},
flat AS (
  SELECT docid, g.i AS pos, toks[g.i] AS term
  FROM toks, unnest(generate_series(1, len(toks))) AS g(i)
),
tot AS (SELECT count(*) AS n, count(DISTINCT term) AS v FROM flat),
lpu AS (
  SELECT term, count(*) AS c1,
         floor(ln((count(*) + 1.0) / (tot.n + tot.v)) * 1e6)::BIGINT AS lp_micro
  FROM flat, tot GROUP BY term, tot.n, tot.v
),
bg AS (
  SELECT a.term AS t1, b.term AS t2, count(*) AS c2
  FROM flat a JOIN flat b ON b.docid = a.docid AND b.pos = a.pos + 1
  GROUP BY a.term, b.term
),
lpb AS (
  SELECT t1, t2, floor(ln(c2::DOUBLE / u.c1) * 1e6)::BIGINT AS lp2_micro
  FROM bg JOIN lpu u ON u.term = bg.t1
),
scored AS (
  SELECT f.docid,
         CASE WHEN p.term IS NULL THEN u.lp_micro
              ELSE coalesce(b.lp2_micro, {SB_ALPHA_MICRO} + u.lp_micro)
         END AS lp
  FROM flat f
  JOIN lpu u ON u.term = f.term
  LEFT JOIN flat p ON p.docid = f.docid AND p.pos = f.pos - 1
  LEFT JOIN lpb b ON b.t1 = p.term AND b.t2 = f.term
)
SELECT docid, count(*)::BIGINT AS n_tokens,
       sum(lp)::BIGINT AS nats_micro,
       ((-(sum(lp)::BIGINT)) // count(*))::DOUBLE / 1000000.0 AS avg_nats
FROM scored GROUP BY docid
"""

    sqls["cosine_near_pairs"] = """
WITH s AS (
  SELECT a.vec_id AS a, b.vec_id AS b,
         sum(list_extract(a.embedding, g.i)::DOUBLE * list_extract(b.embedding, g.i)::DOUBLE) AS dot,
         sum(list_extract(a.embedding, g.i)::DOUBLE * list_extract(a.embedding, g.i)::DOUBLE) AS na,
         sum(list_extract(b.embedding, g.i)::DOUBLE * list_extract(b.embedding, g.i)::DOUBLE) AS nb
  FROM embeddings a, embeddings b, unnest(generate_series(1, 64)) AS g(i)
  WHERE a.vec_id < b.vec_id
  GROUP BY a.vec_id, b.vec_id
)
SELECT a, b, round(dot / (sqrt(na) * sqrt(nb)), 6) AS cos
FROM s WHERE round(dot / (sqrt(na) * sqrt(nb)), 6) >= 0.44
"""

    sqls["extract_digits"] = """
WITH toks AS (
  SELECT c_custkey AS docid,
         list_filter(string_split_regex(lower(c_name), '[^a-z0-9]+'), x -> x <> '') AS toks
  FROM customer
)
SELECT DISTINCT docid, t.digits
FROM toks, unnest(toks.toks) AS t(digits)
WHERE regexp_full_match(t.digits, '[0-9]+')
"""

    sqls["len_quantiles"] = """
SELECT lang, round(quantile_cont(n_chars, 0.5), 6) AS p50,
       round(quantile_cont(n_chars, 0.9), 6) AS p90,
       round(quantile_cont(n_chars, 0.99), 6) AS p99,
       count(*) AS n
FROM documents GROUP BY lang
"""

    # multimodal: payloads are pure functions of doc_id (linear pixel rule
    # px[i] = (doc_id*31 + i*7) % 256, dims (4+id%13) x (3+id%7)), so the
    # oracle reproduces decode/resize stats arithmetically — the Spark side
    # actually round-trips binary through the Arrow decode UDFs.
    sqls["media_decode"] = """
WITH m AS (
  SELECT doc_id, 4 + doc_id % 13 AS w, 3 + doc_id % 7 AS h
  FROM documents WHERE doc_id % 3 = 0
),
px AS (
  SELECT m.doc_id, m.w, m.h, (m.doc_id*31 + t.i*7) % 256 AS v
  FROM m, unnest(generate_series(0, m.w*m.h - 1)) AS t(i)
)
SELECT doc_id AS media_id, w::INT AS width, h::INT AS height,
       floor((sum(v)::DOUBLE / count(*)) * 1e6)/1e6 AS mean_px
FROM px GROUP BY doc_id, w, h
"""

    sqls["media_resize"] = """
WITH m AS (
  SELECT doc_id, 4 + doc_id % 13 AS w, 3 + doc_id % 7 AS h
  FROM documents WHERE doc_id % 3 = 0
),
cell AS (
  SELECT m.doc_id,
         ((ty.y * m.h) // 4) * m.w + ((tx.x * m.w) // 5) AS idx
  FROM m, unnest(generate_series(0,3)) AS ty(y),
          unnest(generate_series(0,4)) AS tx(x)
)
SELECT doc_id AS media_id, 5::INT AS width, 4::INT AS height,
       floor((sum((doc_id*31 + idx*7) % 256)::DOUBLE/count(*))*1e6)/1e6
         AS mean_px
FROM cell GROUP BY doc_id
"""

    sqls["media_frames"] = """
WITH v AS (
  SELECT doc_id, 8 + doc_id % 25 AS nf FROM documents WHERE doc_id % 3 = 2
)
SELECT doc_id AS media_id, t.i::INT AS frame_idx,
       doc_id::VARCHAR || '#' || t.i::VARCHAR AS frame_ref
FROM v, unnest(generate_series(0, nf-1, 4)) AS t(i)
"""

    sqls["media_images"] = f"""
SELECT 'orig' AS stage, * FROM ({sqls["media_decode"]})
UNION ALL
SELECT 'resized' AS stage, * FROM ({sqls["media_resize"]})
"""

    # audio payloads are real PCM16 WAV files whose samples follow
    # s[i] = ((doc_id*131 + i*17) % 4096) - 2048 with 64 + doc_id % 101
    # samples (multimodal.encode_linear_audio), so the oracle mirrors the
    # decode stats arithmetically while Spark decodes actual RIFF bytes.
    sqls["media_audio"] = """
WITH a AS (
  SELECT doc_id, 64 + doc_id % 101 AS n
  FROM documents WHERE doc_id % 3 = 1
),
s AS (
  SELECT a.doc_id, a.n, ((a.doc_id*131 + t.i*17) % 4096) - 2048 AS v
  FROM a, unnest(generate_series(0, a.n - 1)) AS t(i)
)
SELECT doc_id AS media_id, 16000::INT AS sample_rate,
       n::BIGINT AS n_samples, sum(v)::BIGINT AS sum_amp,
       max(v)::INT AS max_amp
FROM s GROUP BY doc_id, n
"""

    # video payloads are real monochrome Y4M streams whose luma follows
    # px[f][i] = (doc_id*31 + f*257 + i*7) % 256, dims (4+id%13) x
    # (3+id%7), 8 + id % 25 frames (multimodal.encode_linear_video);
    # every 4th frame's stats are mirrored arithmetically.
    sqls["media_video"] = """
WITH v AS (
  SELECT doc_id, 4 + doc_id % 13 AS w, 3 + doc_id % 7 AS h,
         8 + doc_id % 25 AS nf
  FROM documents WHERE doc_id % 3 = 2
),
fr AS (
  SELECT v.*, tf.f FROM v, unnest(generate_series(0, nf - 1, 4)) AS tf(f)
),
px AS (
  SELECT fr.doc_id, fr.f, fr.w, fr.h,
         (fr.doc_id*31 + fr.f*257 + t.i*7) % 256 AS luma
  FROM fr, unnest(generate_series(0, fr.w*fr.h - 1)) AS t(i)
)
SELECT doc_id AS media_id, f::INT AS frame_idx, w::INT AS width,
       h::INT AS height, sum(luma)::BIGINT AS sum_luma,
       max(luma)::INT AS max_luma
FROM px GROUP BY doc_id, f, w, h
"""

    sqls["ann_topk"] = f"""
SELECT 'lsh' AS method, vec_id, cos FROM ({sqls["lsh_topk"]})
UNION ALL
SELECT 'ivf' AS method, vec_id, cos FROM ({sqls["ivf_topk"]})
"""

    from search_engine_spark.operators.pagerank import hits_sql, pagerank_sql

    sqls["pagerank"] = pagerank_sql(iters=10)
    sqls["hits"] = hits_sql(iters=5)

    from search_engine_spark.operators.pagerank import synthetic_edges_sql

    _host_pr = pagerank_sql(
        iters=10,
        edges_cte=(
            "SELECT DISTINCT src % 97 AS src, dst % 97 AS dst FROM ("
            + synthetic_edges_sql()
            + ") WHERE src % 97 <> dst % 97"
        ),
        nodes_cte="SELECT DISTINCT doc_id::BIGINT % 97 AS id FROM documents",
    )
    sqls["host_rank"] = f"""
SELECT d.doc_id AS docid, (d.doc_id::BIGINT % 97) AS host,
       hr.rank AS host_rank
FROM documents d
JOIN ({_host_pr}) hr ON hr.docid = d.doc_id::BIGINT % 97
"""

    from search_engine_spark.functions.hashing import md5_int_sql

    sqls["contamination"] = f"""
WITH {TOKS_CTE},
sh AS (
  SELECT DISTINCT docid,
         array_to_string(toks[g.i : g.i + 2], ' ') AS shingle
  FROM toks, unnest(generate_series(1, greatest(len(toks) - 2, 0))) AS g(i)
),
shh AS (SELECT docid, {md5_int_sql("shingle")} AS h FROM sh),
c AS (SELECT docid, h FROM shh WHERE docid % 83 <> 0),
p AS (SELECT docid AS probe_id, h FROM shh WHERE docid % 83 = 0)
SELECT c.docid, p.probe_id, count(*) AS n_shared
FROM c JOIN p USING (h)
GROUP BY c.docid, p.probe_id
"""

    sqls["doc_signatures"] = f"""
WITH {TOKS_CTE},
p AS (
  SELECT doc_id AS docid,
         len(regexp_extract_all(lower(text), '{TS.BPE_PIECE_RE}'))::INT AS n_pieces
  FROM documents
)
SELECT t.docid, md5(array_to_string(t.toks, ' ')) AS fp,
       p.n_pieces, len(t.toks)::INT AS n_words,
       CASE WHEN len(t.toks) > 0
            THEN round(p.n_pieces * 1.0 / len(t.toks), 6)
            ELSE 0.0 END AS pieces_per_word
FROM toks t JOIN p ON p.docid = t.docid
"""

    # --- serving-tier re-rankers + corpus analytics (round 5) ---
    sqls["snippets"] = f"""
SELECT h.docid, h.score, s.snippet
FROM ({T.bm25_topk_sql_oracle(SNIPPET_QUERY, k=20)}) h
JOIN ({SV.snippets_sql(SNIPPET_QUERY)}) s ON h.docid = s.docid
"""

    _ages_sql = (
        "SELECT doc_id AS docid,"
        " ((SELECT max(doc_id) FROM documents) - doc_id) * 3600 AS age_secs"
        " FROM documents"
    )
    sqls["recency_topk"] = SV.recency_rerank_sql(
        T.bm25_topk_sql_oracle(SNIPPET_QUERY, k=SERVE_POOL), _ages_sql, k=10
    )

    _host_pool_sql = f"""
WITH {_MESSY_URL_SQL}
SELECT h.docid, {U.url_host_sql('m.url')} AS host, h.score
FROM ({T.bm25_topk_sql_oracle(SNIPPET_QUERY, k=SERVE_POOL)}) h
JOIN msdocs m ON h.docid = m.doc_id
"""
    sqls["host_collapse"] = SV.host_collapse_sql(_host_pool_sql, k=10)

    sqls["cooccur_pmi"] = TS.cooccur_pmi_sql(PMI_SEED, min_df=2, k=20)

    sqls["weighted_sample"] = f"""
SELECT doc_id, n_chars FROM documents
WHERE {SMP.weighted_sample_sql(
        "doc_id", "least(n_chars, 2000) / 2000.0"
    )}
"""

    _attr_pool_sql = f"""
WITH {_MESSY_URL_SQL}
SELECT h.docid, {U.url_host_sql('m.url')} AS host, m.lang, h.score
FROM ({T.bm25_topk_sql_oracle(SNIPPET_QUERY, k=SERVE_POOL)}) h
JOIN msdocs m ON h.docid = m.doc_id
"""
    sqls["facets"] = SV.facet_counts_sql(
        _attr_pool_sql, facets=["host", "lang"], k=10
    )

    sqls["page_after"] = f"""
WITH pgpool AS ({T.bm25_topk_sql_oracle(SNIPPET_QUERY, k=SERVE_POOL)}),
ranked AS (
  SELECT *, row_number() OVER (ORDER BY score DESC, docid ASC) AS rn
  FROM pgpool
)
SELECT docid, score FROM ranked WHERE rn BETWEEN 11 AND 20
ORDER BY score DESC, docid ASC
"""

    sqls["proximity_topk"] = SV.proximity_rerank_sql(
        T.bm25_topk_sql_oracle(" ".join(PROX_TERMS), k=SERVE_POOL),
        *PROX_TERMS,
        k=10,
    )

    sqls["domain_cap"] = U.domain_cap_sql(
        DOMAIN_CAP, table="msdocs", cols="doc_id",
        extra_cte=_MESSY_URL_SQL,
    )

    _delta_base = (
        "SELECT concat('https://ex.com/', doc_id::VARCHAR) AS url,"
        " md5(text) AS fp, md5(concat(text, 'v2')) AS fp2, doc_id AS _d"
        " FROM documents"
    )
    sqls["crawl_delta"] = U.crawl_delta_sql(
        f"SELECT url, fp FROM ({_delta_base}) WHERE _d % 10 <> 2",
        f"SELECT url, CASE WHEN _d % 10 = 5 THEN fp2 ELSE fp END AS fp"
        f" FROM ({_delta_base}) WHERE _d % 10 <> 3",
    )

    sqls["topk_deletes"] = T.bm25_topk_sql_oracle(
        "spark table join", k=20, where="doc_id % 7 <> 3"
    )

    sqls["sample_suite"] = f"""
SELECT 'bernoulli' AS mode, * FROM ({sqls["sample_bernoulli"]})
UNION ALL
SELECT 'stratified' AS mode, * FROM ({sqls["sample_stratified"]})
"""

    def _mi(expr: str) -> str:
        # DuckDB mirror of _micro_str (see the Spark side for why this
        # is tie-safe)
        return f"CAST(round(({expr}) * 1000000.0) AS BIGINT)::VARCHAR"

    sqls["serving_suite"] = f"""
SELECT 'snippet' AS method, docid::BIGINT AS docid, snippet AS val
FROM ({sqls["snippets"]})
UNION ALL SELECT 'recency', docid, {_mi("fscore")}
FROM ({sqls["recency_topk"]})
UNION ALL SELECT 'host', docid, host FROM ({sqls["host_collapse"]})
UNION ALL SELECT 'page', docid, {_mi("score")} FROM ({sqls["page_after"]})
UNION ALL SELECT 'prox', docid,
  {_mi("pscore")} || ':' || coalesce(minspan::VARCHAR, '-')
FROM ({sqls["proximity_topk"]})
UNION ALL SELECT 'facet', NULL::BIGINT,
  facet || '=' || value || ':' || n::VARCHAR
FROM ({sqls["facets"]})
UNION ALL SELECT 'related', NULL, term || ':' || {_mi("pmi")}
FROM ({sqls["cooccur_pmi"]})
UNION ALL SELECT 'delta', NULL, url || ' ' || change
FROM ({sqls["crawl_delta"]})
UNION ALL SELECT 'cap', doc_id, domain FROM ({sqls["domain_cap"]})
UNION ALL SELECT 'wsample', doc_id, n_chars::VARCHAR
FROM ({sqls["weighted_sample"]})
UNION ALL SELECT 'hits', docid, {_mi("auth")} || ':' || {_mi("hub")}
FROM ({sqls["hits"]})
"""

    return sqls


def oracle_sql() -> dict[str, str]:
    all_sqls = _all_oracle_sql()
    return {k: all_sqls[k] for k in queries() if k in all_sqls}


def extra_oracle_sql() -> dict[str, str]:
    all_sqls = _all_oracle_sql()
    return {k: all_sqls[k] for k in extra_queries() if k in all_sqls}
