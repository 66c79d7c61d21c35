"""Deduplication operators for large-scale training-data pipelines.

Four families, all DataFrame-declarative (JVM built-ins; no Python UDFs):

* **Exact** — hash-groupBy on a content digest (the reference's
  content-dedup table keyed by page-body hash,
  /root/reference/src/cis5550/jobs/Crawler.java:519-525).
* **N-gram Jaccard (exact)** — word-shingle inverted-index self-join:
  pairs sharing ≥1 shingle, |A∩B| by count, Jaccard from set sizes.
  Shingles with document frequency 1 are pruned BEFORE the join (they
  cannot create a pair — lossless). At 100 TB the quadratic head of
  ultra-common shingles is the bottleneck; the MinHash path below is the
  scale answer, this one is the exact verifier.
* **MinHash + LSH** — per-doc signatures (min over shingles of k md5-based
  hash functions), banded into LSH buckets; candidate pairs = bucket
  self-join; final answer verified with exact Jaccard. Deterministic
  (functions/hashing.py) so even the LSH stage is oracle-checkable.
* **SimHash** — 64-bit tf-weighted SimHash per document (two 32-bit
  halves); near-dup pairs = signature hamming distance ≤ r via
  bucket-join on 16-bit bit-bands.

All outputs order doc pairs (a < b) for stable comparison.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from search_engine_spark.functions.hashing import (
    md5_int,
    md5_int32,
    md5_int32_hi,
    md5_two_hash_cols,
)
from search_engine_spark.operators.text_ops import tokens_col
from search_engine_spark.session import widen_small_input

DEFAULT_SHINGLE = 3
DEFAULT_NUM_HASHES = 8
DEFAULT_BANDS = 4  # rows-per-band = num_hashes // bands


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------

def exact_dedup_groups(
    df: DataFrame, docid: str = "doc_id", text: str = "text"
) -> DataFrame:
    """(content_hash, n_dupes, keep_docid): one row per distinct content;
    keep_docid = smallest docid in the group (deterministic survivor)."""
    return (
        df.select(F.col(docid).alias("docid"), F.md5(F.col(text)).alias("content_hash"))
        .groupBy("content_hash")
        .agg(
            F.count(F.lit(1)).alias("n_dupes"),
            F.min("docid").alias("keep_docid"),
        )
    )


def exact_dedup(df: DataFrame, docid: str = "doc_id", text: str = "text") -> DataFrame:
    """The deduplicated table: keep the min-docid row per distinct text."""
    keep = exact_dedup_groups(df, docid, text).select(
        F.col("keep_docid").alias(docid)
    )
    return df.join(keep, docid, "left_semi")


def paragraph_dedup(
    df: DataFrame,
    docid: str = "doc_id",
    text: str = "text",
    sep: str = r"\n{2,}",
    join_sep: str = "\n\n",
    key: str = "text",
) -> DataFrame:
    """(docid, clean_text, n_paras, n_kept) — corpus-wide EXACT
    paragraph-level dedup (the standard training-data pass one level below
    document dedup: boilerplate headers/footers/navigation repeat across
    pages that are not document-level duplicates).

    Every paragraph (split on ``sep``) is kept only at its FIRST corpus
    occurrence — lexicographic-min ``struct(docid, idx)``, so there is no
    packed-key bit budget: any docid, any paragraph count, no silent
    overflow (review finding) — and each doc's survivors reassemble in
    original order joined by ``join_sep`` (separator runs are normalized
    by reassembly). Docs whose every paragraph is a repeat come back with
    ``clean_text = ''`` and ``n_kept = 0`` — the caller decides whether
    empty docs survive.

    ``key`` picks the SHUFFLE key for the first-occurrence aggregation
    and self-join:

    * ``"text"`` (default) — the paragraph text itself: exact, but the
      exchange carries every paragraph's bytes twice.
    * ``"hash"`` — ``xxhash64(para)``: the exchange carries an 8-byte
      key instead of the text (the dominant cost of this pass at 100 TB);
      identical output up to a ~2^-64 hash-collision merge
      (pytest-verified equal to the exact path on the gate corpus).

    Shape at 100 TB: one paragraph-keyed hash aggregation (partial
    map-side combine; a boilerplate paragraph repeated 10^9 times is ONE
    group, never one task's sort), one co-partitioned self-join on the
    paragraph key, one docid-keyed reassembly aggregation."""
    if key not in ("text", "hash"):
        raise ValueError(f"paragraph_dedup: key must be 'text' or 'hash', got {key!r}")
    d, t = F.col(docid), F.col(text)
    paras = df.select(
        d.alias("docid"),
        F.posexplode(F.split(t, sep)).alias("idx", "para"),
    ).filter(F.length(F.trim(F.col("para"))) > 0)
    pkey = F.xxhash64("para") if key == "hash" else F.col("para")
    paras = paras.withColumn("pkey", pkey)
    first = paras.groupBy("pkey").agg(
        F.min(F.struct("docid", "idx")).alias("keep")
    )
    kept = (
        paras.join(first, "pkey")  # co-partitioned: both sides pkey-keyed
        .filter(
            (F.col("docid") == F.col("keep.docid"))
            & (F.col("idx") == F.col("keep.idx"))
        )
        .select("docid", "idx", "para")
    )
    rebuilt = kept.groupBy("docid").agg(
        F.concat_ws(
            join_sep,
            F.transform(
                F.array_sort(F.collect_list(F.struct("idx", "para"))),
                lambda s: s["para"],
            ),
        ).alias("clean_text"),
        F.count(F.lit(1)).alias("n_kept"),
    )
    totals = paras.groupBy("docid").agg(F.count(F.lit(1)).alias("n_paras"))
    return (
        df.select(d.alias("docid"))
        .join(totals, "docid", "left")
        .join(rebuilt, "docid", "left")
        .select(
            "docid",
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            F.coalesce("n_paras", F.lit(0)).cast("long").alias("n_paras"),
            F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
        )
    )


def paragraph_dedup_sql(
    docs_select: str = "SELECT doc_id, text FROM documents",
    sep: str = r"\n{2,}",
    join_sep: str = "\n\n",
) -> str:
    """DuckDB mirror of :func:`paragraph_dedup` over a (doc_id, text)
    relation."""
    return f"""
WITH src AS ({docs_select}),
split AS (
  SELECT doc_id AS docid, string_split_regex(text, '{sep}') AS ps FROM src
),
paras AS (
  SELECT docid, g.i - 1 AS idx, list_extract(ps, g.i) AS para
  FROM split, unnest(generate_series(1, len(ps))) AS g(i)
  WHERE len(trim(list_extract(ps, g.i))) > 0
),
kept AS (
  SELECT docid, idx, para FROM (
    SELECT docid, idx, para,
           row_number() OVER (PARTITION BY para ORDER BY docid, idx) AS rn
    FROM paras)
  WHERE rn = 1
),
rebuilt AS (
  SELECT docid,
         string_agg(para, '{join_sep}' ORDER BY idx) AS clean_text,
         count(*) AS n_kept
  FROM kept GROUP BY docid
),
totals AS (SELECT docid, count(*) AS n_paras FROM paras GROUP BY docid)
SELECT s.doc_id AS docid,
       coalesce(r.clean_text, '') AS clean_text,
       coalesce(t.n_paras, 0)::BIGINT AS n_paras,
       coalesce(r.n_kept, 0)::BIGINT AS n_kept
FROM src s
LEFT JOIN totals t ON t.docid = s.doc_id
LEFT JOIN rebuilt r ON r.docid = s.doc_id
"""


# ---------------------------------------------------------------------------
# Substring-level exact dedup (duplicate spans)
# ---------------------------------------------------------------------------


def duplicate_spans(
    df: DataFrame,
    k: int = 8,
    docid: str = "doc_id",
    text: str = "text",
    keep_first: bool = True,
    key: str = "text",
) -> DataFrame:
    """(docid, span_start, span_end, n_tokens) — maximal token spans that
    duplicate text elsewhere in the corpus, one level below
    :func:`paragraph_dedup`: the ExactSubstr pass of Lee et al. 2022
    ("Deduplicating Training Data Makes Language Models Better"), which
    removes repeated spans that cross paragraph boundaries or sit inside
    otherwise-unique paragraphs. Their suffix-array scan is a
    shared-memory algorithm; the distributed re-expression is k-gram
    keyed: a span of length L >= k duplicates iff all of its k-grams do,
    so duplicated-k-gram occurrences, merged where they overlap or chain
    (next_start <= prev_start + k), are exactly the maximal duplicated
    spans at k-token resolution.

    ``keep_first=True`` (the Lee et al. contract) exempts the corpus-FIRST
    occurrence of each k-gram — lexicographic-min ``struct(docid, pos)``,
    the same winner rule as :func:`paragraph_dedup` — so one copy of every
    duplicated region survives removal. ``keep_first=False`` reports every
    occurrence (the symmetric "show me all repeated regions" audit view).

    ``key`` picks the shuffle key for the k-gram aggregation+join:
    ``"text"`` (default, exact) carries the space-joined k-gram itself;
    ``"hash"`` carries ``xxhash64(gram)`` — 8 bytes instead of ~k words,
    the dominant exchange at 100 TB, identical output up to a ~2^-64
    collision (pytest parity on the gate corpus).

    Spans are 0-based inclusive token indices over the engine tokenizer's
    token array. Shape at 100 TB: one gram-keyed hash aggregation with
    map-side combine (a boilerplate k-gram repeated 10^9 times is ONE
    group) + one co-partitioned join back on the gram key (AQE splits the
    hot keys — the reason this is agg+join, not a count window), then one
    docid-keyed window pass for the island merge."""
    if key not in ("text", "hash"):
        raise ValueError(
            f"duplicate_spans: key must be 'text' or 'hash', got {key!r}"
        )
    d = F.col(docid)
    toks = df.select(d.alias("docid"), tokens_col(text).alias("toks")).filter(
        F.size("toks") >= k
    )
    grams = toks.select(
        "docid",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(1), F.size("toks") - (k - 1)),
                lambda i: F.concat_ws(" ", F.slice(F.col("toks"), i, k)),
            )
        ).alias("pos", "gram"),
    )
    gkey = F.xxhash64("gram") if key == "hash" else F.col("gram")
    grams = grams.withColumn("gkey", gkey).select("docid", "pos", "gkey")
    stats = (
        grams.groupBy("gkey")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.min(F.struct("docid", "pos")).alias("first"),
        )
        .filter(F.col("cnt") >= 2)
    )
    dups = grams.join(stats, "gkey")  # co-partitioned: both gkey-keyed
    if keep_first:
        dups = dups.filter(
            (F.col("docid") != F.col("first.docid"))
            | (F.col("pos") != F.col("first.pos"))
        )
    w = Window.partitionBy("docid").orderBy("pos")
    isl = dups.select("docid", "pos").withColumn(
        "brk",
        F.when(F.col("pos") - F.lag("pos").over(w) <= k, F.lit(0)).otherwise(
            F.lit(1)
        ),
    )
    isl = isl.withColumn("island", F.sum("brk").over(w))
    return (
        isl.groupBy("docid", "island")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + F.lit(k - 1)).alias("span_end"),
        )
        .select(
            "docid",
            F.col("span_start").cast("long").alias("span_start"),
            F.col("span_end").cast("long").alias("span_end"),
            (F.col("span_end") - F.col("span_start") + 1)
            .cast("long")
            .alias("n_tokens"),
        )
    )


def remove_duplicate_spans(
    df: DataFrame,
    k: int = 8,
    docid: str = "doc_id",
    text: str = "text",
    key: str = "text",
    join_sep: str = " ",
) -> DataFrame:
    """(docid, clean_text, n_tokens, n_removed) — apply
    :func:`duplicate_spans` (keep_first semantics): drop every token whose
    0-based position falls inside a non-first duplicated span and rebuild
    the doc from the survivors. Spans per doc are few, so the apply is a
    docid equi-join + one higher-order array filter — no per-token
    shuffle."""
    toks = df.select(
        F.col(docid).alias("docid"), tokens_col(text).alias("toks")
    )
    spans = (
        duplicate_spans(
            df, k=k, docid=docid, text=text, keep_first=True, key=key
        )
        .groupBy("docid")
        .agg(
            F.collect_list(F.struct("span_start", "span_end")).alias("spans")
        )
    )
    kept = toks.join(spans, "docid", "left").withColumn(
        "kept",
        F.when(F.col("spans").isNull(), F.col("toks")).otherwise(
            F.zip_with(
                F.col("toks"),
                F.sequence(F.lit(0), F.size("toks") - 1),
                lambda t, i: F.when(
                    F.exists(
                        F.col("spans"),
                        lambda s: (i >= s["span_start"])
                        & (i <= s["span_end"]),
                    ),
                    F.lit(None),
                ).otherwise(t),
            )
        ),
    )
    kept = kept.withColumn(
        "kept", F.filter(F.col("kept"), lambda t: t.isNotNull())
    )
    return kept.select(
        "docid",
        F.concat_ws(join_sep, "kept").alias("clean_text"),
        F.size("toks").cast("long").alias("n_tokens"),
        (F.size("toks") - F.size("kept")).cast("long").alias("n_removed"),
    )


def duplicate_spans_sql(
    k: int = 8,
    keep_first: bool = True,
    table: str = "documents",
    docid: str = "doc_id",
    text: str = "text",
) -> str:
    """DuckDB mirror of :func:`duplicate_spans` (key='text'); positions
    converted to the same 0-based token indices."""
    winner = "AND rn > 1" if keep_first else ""
    return f"""
WITH toks AS (
  SELECT {docid} AS docid,
         list_filter(string_split_regex(lower({text}), '[^a-z0-9]+'),
                     x -> x <> '') AS toks
  FROM {table}
),
grams AS (
  SELECT docid, g.i - 1 AS pos,
         array_to_string(toks[g.i : g.i + {k - 1}], ' ') AS gram
  FROM toks, unnest(generate_series(1, len(toks) - {k - 1})) AS g(i)
  WHERE len(toks) >= {k}
),
marked AS (
  SELECT docid, pos,
         row_number() OVER (PARTITION BY gram ORDER BY docid, pos) AS rn,
         count(*) OVER (PARTITION BY gram) AS cnt
  FROM grams
),
dups AS (SELECT docid, pos FROM marked WHERE cnt >= 2 {winner}),
isl AS (
  SELECT docid, pos,
         CASE WHEN pos - lag(pos) OVER (PARTITION BY docid ORDER BY pos)
                   <= {k} THEN 0 ELSE 1 END AS brk
  FROM dups
),
isl2 AS (
  SELECT docid, pos,
         sum(brk) OVER (PARTITION BY docid ORDER BY pos) AS island
  FROM isl
)
SELECT docid,
       min(pos)::BIGINT AS span_start,
       (max(pos) + {k - 1})::BIGINT AS span_end,
       (max(pos) + {k} - min(pos))::BIGINT AS n_tokens
FROM isl2 GROUP BY docid, island
"""


# ---------------------------------------------------------------------------
# Shingling
# ---------------------------------------------------------------------------

def _shingles_from_tokens(toks: Column, n: int) -> Column:
    # Guard: for docs with fewer than n tokens, sequence(0, size-n) would
    # run DOWNWARD (step defaults to -1 when start > stop) and slice() then
    # crashes on index 0 — short/empty docs must yield no shingles instead.
    sh = F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - n),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return F.array_distinct(sh)


def shingles(
    df: DataFrame, docid: str = "doc_id", text: str = "text", n: int = DEFAULT_SHINGLE
) -> DataFrame:
    """(docid, shingle) — DISTINCT word n-gram shingles per doc, built with
    array built-ins (per-row array_distinct — no distinct shuffle).

    The token array binds in its own Project (multiply-referenced,
    non-cheap → CollapseProject keeps it) so the regex tokenizer runs once
    per row, not once per reference inside the shingle expression."""
    df = widen_small_input(df)
    t = df.select(
        F.col(docid).alias("docid"), tokens_col(text).alias("_toks")
    )
    return t.select(
        "docid",
        F.explode(_shingles_from_tokens(F.col("_toks"), n)).alias("shingle"),
    )


# ---------------------------------------------------------------------------
# Exact n-gram Jaccard pairs
# ---------------------------------------------------------------------------

# Below this threshold the PPJoin prefix (|A| - ceil(t·|A|) + 1 shingles)
# covers nearly the whole set, so the filter's window + joins cost more
# than they prune; the plain inverted-index join wins.
PREFIX_FILTER_MIN_T = 0.3


def jaccard_pairs(
    df: DataFrame,
    threshold: float,
    docid: str = "doc_id",
    text: str = "text",
    n: int = DEFAULT_SHINGLE,
    prefix_filter: bool | None = None,
) -> DataFrame:
    """(a, b, jaccard) for all doc pairs with shingle-Jaccard ≥ threshold.

    Two LOSSLESS candidate-generation strategies, auto-selected on the
    threshold (``prefix_filter=None``):

    * **Prefix filtering** (PPJoin; Xiao, Wang, Lin & Yu, WWW 2008;
      Chaudhuri et al., ICDE 2006) for t ≥ 0.3: order each doc's shingles
      by global document frequency ascending (rare first) and self-join
      only the first ``|A| - ceil(t'·|A|) + 1`` per doc. J(A,B) ≥ t forces
      |A∩B| ≥ t·|A|, so any qualifying pair must meet inside the prefix —
      the df² blow-up of stop-shingles never materializes. t' = t − 5e-7
      absorbs the final 6-dp rounding.
    * **Inverted-index join** for low thresholds (prefix ≈ whole set):
      pairs sharing ≥1 non-singleton shingle.

    Survivors of either are verified with the exact intersection count;
    results are identical. jaccard rounded to 6 dp for cross-engine
    stability."""
    if prefix_filter is None:
        prefix_filter = threshold >= PREFIX_FILTER_MIN_T
    # NB: no internal persist — an operator-owned cache can never be
    # unpersisted at the right time; callers batching many thresholds over
    # one corpus should cache shingles() themselves.
    sh = shingles(df, docid, text, n)
    # sizes via groupBy (not a per-row size() expression): the aggregation
    # ends in an exchange AQE can reuse across the two final size joins,
    # where a map-only subtree re-executes the shingle scan per reference
    # (measured ~25% slower)
    sizes = sh.groupBy("docid").agg(F.count(F.lit(1)).alias("sz"))
    if not prefix_filter:
        return _jaccard_inverted(sh, sizes, threshold)
    freq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("fdf"))
    nonsingle = sh.join(freq.filter(F.col("fdf") > 1), "shingle")
    if prefix_filter:
        t_relaxed = max(0.0, threshold - 5e-7)
        w = Window.partitionBy("docid").orderBy(
            F.col("fdf").asc(), F.col("shingle").asc()
        )
        cand_src = (
            nonsingle.withColumn("rid", F.row_number().over(w))
            .join(sizes, "docid")
            .filter(
                F.col("rid")
                <= F.col("sz") - F.ceil(F.lit(t_relaxed) * F.col("sz")) + 1
            )
            .select("docid", "shingle")
        )
        cands = (
            cand_src.select(F.col("docid").alias("a"), "shingle")
            .join(
                cand_src.select(F.col("docid").alias("b"), "shingle"),
                "shingle",
            )
            .filter(F.col("a") < F.col("b"))
            .select("a", "b")
            .distinct()
        )
        # exact verification of candidates only (pair-local intersection)
        left = sh.select(F.col("docid").alias("a"), "shingle")
        right = sh.select(F.col("docid").alias("b"), "shingle")
        inter = (
            cands.join(left, "a")
            .join(right, ["b", "shingle"])
            .groupBy("a", "b")
            .agg(F.count(F.lit(1)).alias("inter"))
        )
    out = (
        inter.join(sizes.select(F.col("docid").alias("a"), F.col("sz").alias("sza")), "a")
        .join(sizes.select(F.col("docid").alias("b"), F.col("sz").alias("szb")), "b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("inter")
                / (F.col("sza") + F.col("szb") - F.col("inter")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("a", "b", "jaccard")
    )
    return out


# A shingle shared by m docs yields m(m-1)/2 pairs; above this cut the
# pairs are generated by a distributed self-join (rows spread across
# tasks) instead of exploding m² structs inside one task's array row.
HOT_SHINGLE_CUT = 512


def _jaccard_inverted(
    sh: DataFrame, sizes: DataFrame, threshold: float
) -> DataFrame:
    """Low-threshold exact Jaccard: ONE inverted-index aggregation
    (groupBy shingle → sorted posting array), then candidate pairs are
    generated MAP-SIDE from each posting array (nested transform —
    no row self-join, no shuffle of per-occurrence rows). Shingles with
    posting lists longer than HOT_SHINGLE_CUT take the classic self-join
    path so one task never explodes the m² head of a stop-shingle."""
    inv = (
        sh.groupBy("shingle")
        .agg(F.array_sort(F.collect_list("docid")).alias("ds"))
        .filter(F.size("ds") > 1)
    )
    cold = inv.filter(F.size("ds") <= HOT_SHINGLE_CUT)
    ds = F.col("ds")
    pair_arr = F.flatten(
        F.transform(
            ds,
            lambda x, i: F.transform(
                F.slice(ds, i + 2, F.size(ds)),
                lambda y: F.struct(x.alias("a"), y.alias("b")),
            ),
        )
    )
    cold_pairs = cold.select(F.explode(pair_arr).alias("p")).select(
        F.col("p.a").alias("a"), F.col("p.b").alias("b")
    )
    hot = inv.filter(F.size("ds") > HOT_SHINGLE_CUT).select(
        "shingle", F.explode(ds).alias("docid")
    )
    hot_pairs = (
        hot.select("shingle", F.col("docid").alias("a"))
        .join(hot.select("shingle", F.col("docid").alias("b")), "shingle")
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
    )
    inter = (
        cold_pairs.unionByName(hot_pairs)
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return (
        inter.join(
            sizes.select(F.col("docid").alias("a"), F.col("sz").alias("sza")),
            "a",
        )
        .join(
            sizes.select(F.col("docid").alias("b"), F.col("sz").alias("szb")),
            "b",
        )
        .withColumn(
            "jaccard",
            F.round(
                F.col("inter") / (F.col("sza") + F.col("szb") - F.col("inter")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("a", "b", "jaccard")
    )


# ---------------------------------------------------------------------------
# Benchmark decontamination (cross-corpus n-gram overlap)
# ---------------------------------------------------------------------------

def contamination(
    corpus: DataFrame,
    probes: DataFrame,
    n: int = 13,
    docid: str = "doc_id",
    text: str = "text",
    probe_id: str = "doc_id",
    probe_text: str = "text",
) -> DataFrame:
    """(docid, probe_id, n_shared) — training-data decontamination: for
    every corpus document, the count of DISTINCT token n-grams it shares
    with each probe (benchmark/eval) document. Default n=13 follows the
    convention popularized by GPT-3's 13-gram decontamination.

    Scale shape: the probe side (eval suites) is small by contract →
    broadcast hash join, so the corpus side streams map-side with NO
    shuffle of corpus shingles; the join key is the 60-bit md5 shingle
    hash (one long, not the n-token string). Both engines hash
    identically, so the result is oracle-mirrorable including any
    (negligible, 2^-60) collision behavior."""
    cs = shingles(corpus, docid, text, n).select(
        "docid", md5_int(F.col("shingle")).alias("h")
    )
    ps = shingles(probes, probe_id, probe_text, n).select(
        F.col("docid").alias("probe_id"), md5_int(F.col("shingle")).alias("h")
    )
    return (
        cs.join(F.broadcast(ps), "h")
        .groupBy("docid", "probe_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )


def decontaminate(
    corpus: DataFrame,
    probes: DataFrame,
    n: int = 13,
    min_shared: int = 1,
    docid: str = "doc_id",
    text: str = "text",
    probe_id: str | None = None,
    probe_text: str | None = None,
) -> DataFrame:
    """The cleaned corpus: drop every document sharing ≥ ``min_shared``
    n-grams with ANY probe document (left_anti on the contamination
    relation). Probe column names default to the corpus's."""
    hits = (
        contamination(
            corpus, probes, n, docid, text,
            probe_id=probe_id or docid, probe_text=probe_text or text,
        )
        .filter(F.col("n_shared") >= min_shared)
        .select(F.col("docid").alias(docid))
        .distinct()
    )
    return corpus.join(hits, docid, "left_anti")


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

def minhash_signatures(
    df: DataFrame,
    docid: str = "doc_id",
    text: str = "text",
    n: int = DEFAULT_SHINGLE,
    num_hashes: int = DEFAULT_NUM_HASHES,
) -> DataFrame:
    """(docid, mh0..mh{k-1}) — MinHash signature per doc: min over its
    shingles of k hash functions from the two-hash family h_j = h1 + j·h2
    (Kirsch & Mitzenmacher 2006) — ONE md5 digest per shingle instead of
    k. One shuffle (groupBy docid) with map-side partial min aggregation."""
    sh = shingles(df, docid, text, n)
    hashed = sh.select(
        "docid", *md5_two_hash_cols(F.col("shingle"), num_hashes)
    )
    return hashed.groupBy("docid").agg(
        *[F.min(f"h{j}").alias(f"mh{j}") for j in range(num_hashes)]
    )


def lsh_candidate_pairs(
    sigs: DataFrame,
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = DEFAULT_BANDS,
) -> DataFrame:
    """(a, b) candidate pairs: docs agreeing on ALL rows of ≥1 band.

    Signature matrix banded r = k/bands rows per band; band key is the
    struct of its minhashes → self-join per band → distinct pairs. This is
    the scale path: cost ∝ bucket sizes, not corpus².

    Signatures are localCheckpoint'ed first — the banded union references
    them 2·bands times and would re-run the shingle+minhash pipeline per
    reference otherwise; the materialized form is k+1 longs per doc."""
    sigs = sigs.localCheckpoint()
    r = num_hashes // bands
    parts = []
    for b in range(bands):
        cols = [
            F.col(f"mh{b * r + i}").alias(f"k{i}") for i in range(r)
        ]
        parts.append(
            sigs.select(
                F.col("docid"),
                F.lit(b).alias("band"),
                F.struct(*cols).alias("key"),
            )
        )
    banded = parts[0]
    for p in parts[1:]:
        banded = banded.unionByName(p)
    left = banded.select("band", "key", F.col("docid").alias("a"))
    right = banded.select("band", "key", F.col("docid").alias("b"))
    return (
        left.join(right, ["band", "key"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )


def minhash_dedup_pairs(
    df: DataFrame,
    threshold: float,
    docid: str = "doc_id",
    text: str = "text",
    n: int = DEFAULT_SHINGLE,
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = DEFAULT_BANDS,
) -> DataFrame:
    """LSH candidates verified by exact Jaccard ≥ threshold → (a, b, jaccard).

    Exactness note: LSH can miss pairs (false negatives) — this operator's
    contract is 'pairs found by LSH that truly exceed the threshold', the
    standard trade at scale. jaccard_pairs() is the exhaustive variant."""
    sigs = minhash_signatures(df, docid, text, n, num_hashes)
    cands = lsh_candidate_pairs(sigs, num_hashes, bands)
    sh = shingles(df, docid, text, n)
    sizes = sh.groupBy("docid").agg(F.count(F.lit(1)).alias("sz"))
    # exact-verify only the candidate pairs: restrict the shingle-shingle
    # join to (a, b) candidates so intersection counting is pair-local
    left = sh.select(F.col("docid").alias("a"), "shingle")
    right = sh.select(F.col("docid").alias("b"), "shingle")
    inter = (
        cands.join(left, "a")
        .join(right, ["b", "shingle"])
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return (
        inter.join(sizes.select(F.col("docid").alias("a"), F.col("sz").alias("sza")), "a")
        .join(sizes.select(F.col("docid").alias("b"), F.col("sz").alias("szb")), "b")
        .withColumn(
            "jaccard",
            F.round(F.col("inter") / (F.col("sza") + F.col("szb") - F.col("inter")), 6),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("a", "b", "jaccard")
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

SIMHASH_BITS = 64  # r2's 32-bit signature banded into 8-bit keys = only
# 256 buckets per band — effectively quadratic at web scale. 64 bits with
# 16-bit bands (max_hamming=3) gives 65,536 buckets per band; signatures
# are carried as two 32-bit halves (sim_lo bits 0-31, sim_hi bits 32-63)
# so no shift ever touches a sign bit in either engine.

SIMHASH_GATHER_CHUNK = 1 << 18  # max occurrences per bit-matrix gather


def _make_simhash_batches(chunk: int):
    """Arrow worker factory for :func:`simhash`: per-doc 64-bit signature,
    fully vectorized. One md5 per DISTINCT term per batch (memoized via
    factorize — the vocab is orders of magnitude smaller than the
    occurrence stream), bit counting via a (uniques × 64) bit matrix
    indexed by occurrence code and summed per doc with ``add.reduceat``.
    Bit-identical to the DuckDB mirror (__spark_entry__._simhash_ctes):
    same "0:"-tagged md5 halves, same 2·s_j > total majority rule.
    ``chunk`` is closed over at plan-build time (module globals are NOT
    shared with the executor-side Python workers)."""
    def _simhash_batches(batches):
        import hashlib

        import numpy as np
        import pandas as pd

        shifts = np.arange(32, dtype=np.uint32)
        weights = (1 << np.arange(32, dtype=np.uint64)).astype(np.uint64)
        for pdf in batches:
            toks = pdf["_toks"]
            # NULL text → NULL token array (split of NULL) → None here;
            # treat as empty so the doc is dropped like the explode-based
            # plan did, instead of len(None) crashing the whole job
            lens = np.fromiter((0 if t is None else len(t) for t in toks),
                               dtype=np.int64, count=len(toks))
            keep = lens > 0  # no tokens → no signature (explode semantics)
            if not keep.any():
                continue
            docids = pdf["docid"].to_numpy()[keep]
            lens = lens[keep]
            flat = np.concatenate([np.asarray(t, dtype=object)
                                   for t, k in zip(toks, keep) if k])
            codes, uniq = pd.factorize(flat)
            digests = [hashlib.md5(b"0:" + u.encode()).digest() for u in uniq]
            ulo = np.frombuffer(
                b"".join(d[:4] for d in digests), dtype=">u4"
            ).astype(np.uint32)
            uhi = np.frombuffer(
                b"".join(d[4:8] for d in digests), dtype=">u4"
            ).astype(np.uint32)
            bits = np.concatenate(
                [((ulo[:, None] >> shifts) & 1), ((uhi[:, None] >> shifts) & 1)],
                axis=1,
            ).astype(np.uint8)  # (U, 64), bit b little-endian within each half
            starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
            ends = starts + lens
            # Chunk the occurrence gather: bits[codes] is 64 B/occurrence as
            # int32 — unchunked, a 10k-doc batch of 2k-token docs would
            # materialize GBs in one allocation (review finding). ~260k
            # occurrences per slice caps the transient at ~64 MB; a single
            # doc longer than the chunk still processes whole (its gather is
            # bounded by its own length).
            n_docs = len(lens)
            lo = np.empty(n_docs, dtype=np.uint64)
            hi = np.empty(n_docs, dtype=np.uint64)
            d0 = 0
            while d0 < n_docs:
                occ0 = starts[d0]
                d1 = max(
                    int(np.searchsorted(ends, occ0 + chunk, side="right")),
                    d0 + 1,
                )
                occ1 = ends[d1 - 1]
                sums = np.add.reduceat(
                    bits[codes[occ0:occ1]].astype(np.int32),
                    starts[d0:d1] - occ0,
                    axis=0,
                )
                setbits = (2 * sums) > lens[d0:d1, None]
                lo[d0:d1] = (
                    setbits[:, :32].astype(np.uint64) * weights
                ).sum(axis=1)
                hi[d0:d1] = (
                    setbits[:, 32:].astype(np.uint64) * weights
                ).sum(axis=1)
                d0 = d1
            yield pd.DataFrame({
                "docid": docids,
                "sim_lo": lo.astype(np.int64),
                "sim_hi": hi.astype(np.int64),
            })

    return _simhash_batches


def simhash(
    df: DataFrame,
    docid: str = "doc_id",
    text: str = "text",
    gather_chunk: int | None = None,
) -> DataFrame:
    """(docid, sim_lo, sim_hi) — 64-bit tf-weighted SimHash (Charikar
    2002) as two non-negative 32-bit halves.

    Plan: JVM tokenize → ONE Arrow pass computing each doc's signature
    locally (``_simhash_batches``) — ZERO shuffles: the signature is a
    per-doc function, so nothing needs co-location. The r2 plan shipped
    every token occurrence through a keyed 65-column aggregation exchange;
    at web scale that shuffle was pure waste. tf-weighting is free
    (Σ_terms tf·bit_j ≡ Σ_occurrences bit_j); bit j is set iff
    2·s_j > total, matching the SQL mirror exactly."""
    df = widen_small_input(df)
    toks = df.select(
        F.col(docid).alias("docid"), tokens_col(text).alias("_toks")
    )
    # docid keeps the caller's type (bigint doc ids, string urls, ...)
    id_type = toks.schema["docid"].dataType.simpleString()
    return toks.mapInPandas(
        _make_simhash_batches(gather_chunk or SIMHASH_GATHER_CHUNK),
        schema=f"docid {id_type}, sim_lo long, sim_hi long",
    )


def _band_key(lo: Column, hi: Column, start: int, width: int) -> Column:
    """Bits [start, start+width) of the 64-bit signature held as two
    non-negative 32-bit halves — handles bands straddling the halves."""
    end = start + width
    if end <= 32:
        return F.shiftright(lo, start).bitwiseAND(F.lit((1 << width) - 1))
    if start >= 32:
        return F.shiftright(hi, start - 32).bitwiseAND(
            F.lit((1 << width) - 1)
        )
    lo_bits = 32 - start
    lo_part = F.shiftright(lo, start)  # already < 2^lo_bits
    hi_part = hi.bitwiseAND(F.lit((1 << (end - 32)) - 1))
    return lo_part + F.shiftleft(hi_part, lo_bits)


def simhash_near_pairs(
    df: DataFrame,
    max_hamming: int = 3,
    docid: str = "doc_id",
    text: str = "text",
) -> DataFrame:
    """(a, b, hamming) pairs with SimHash hamming distance ≤ max_hamming.

    Scale path: split the 64-bit signature into (max_hamming+1) bit-bands
    — any pair within distance r agrees exactly on ≥1 band (pigeonhole) —
    bucket-join per band, then verify with bit_count(xor) over both
    halves. Default r=3 → 4 bands × 16 bits = 65,536 buckets per band.

    The signature table is localCheckpoint'ed first: the banded union
    references it 2(r+1) times (bands × join sides) and would otherwise
    re-run the whole signature pipeline per reference (~8× at r=3); the
    materialized form is only 3 longs per doc."""
    sigs = simhash(df, docid, text).localCheckpoint()
    nbands = max_hamming + 1
    width = SIMHASH_BITS // nbands
    parts = []
    for b in range(nbands):
        start = b * width
        w = width if b < nbands - 1 else SIMHASH_BITS - start
        parts.append(
            sigs.select(
                "docid",
                "sim_lo",
                "sim_hi",
                F.lit(b).alias("band"),
                _band_key(F.col("sim_lo"), F.col("sim_hi"), start, w).alias(
                    "key"
                ),
            )
        )
    banded = parts[0]
    for p in parts[1:]:
        banded = banded.unionByName(p)
    left = banded.select(
        "band", "key", F.col("docid").alias("a"),
        F.col("sim_lo").alias("la"), F.col("sim_hi").alias("ha"),
    )
    right = banded.select(
        "band", "key", F.col("docid").alias("b"),
        F.col("sim_lo").alias("lb"), F.col("sim_hi").alias("hb"),
    )
    cands = (
        left.join(right, ["band", "key"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b", "la", "ha", "lb", "hb")
        .distinct()
    )
    return (
        cands.withColumn(
            "hamming",
            F.bit_count(F.col("la").bitwiseXOR(F.col("lb")))
            + F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))),
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("a", "b", "hamming")
    )


# ---------------------------------------------------------------------------
# Near-dup clustering (connected components over dup pairs)
# ---------------------------------------------------------------------------

def connected_components(
    pairs: DataFrame, max_iter: int = 50, algorithm: str = "star"
) -> DataFrame:
    """(docid, cluster) for every vertex in ``pairs(a, b)``: cluster = the
    minimum docid reachable in the undirected dup graph.

    Two algorithms, identical output:

    * ``"star"`` (default, the scale path) — alternating large-star /
      small-star rounds (Kiveris et al., "Connected Components in
      MapReduce and Beyond", SoCC 2014): converges in O(log n) rounds on
      ANY topology, including the chain-shaped dup graphs (templated
      near-dups A~B~C~…) that force label propagation into O(diameter)
      rounds.
    * ``"label"`` — min-label propagation (one shuffle per round, the
      reference's PageRank-style iterative join pattern); fine for the
      shallow clusters real dedup produces.

    Both run to FIXPOINT and raise RuntimeError if ``max_iter`` rounds
    pass without converging (r2 silently returned partial labels —
    downstream dedup would then keep extra near-dup representatives).
    ``localCheckpoint`` truncates lineage each round.

    ``pairs`` is materialized up front: both algorithms derive several
    relations from it (vertices + symmetric edges) and an expensive
    upstream pair pipeline (LSH + exact verify) would re-run per
    derivation otherwise. Dup pairs are small relative to the corpus."""
    pairs = pairs.localCheckpoint()
    if algorithm == "star":
        return _cc_two_phase(pairs, max_iter)
    return _cc_label_prop(pairs, max_iter)


def _cc_label_prop(pairs: DataFrame, max_iter: int) -> DataFrame:
    edges = (
        pairs.select(F.col("a").alias("src"), F.col("b").alias("dst"))
        .unionByName(
            pairs.select(F.col("b").alias("src"), F.col("a").alias("dst"))
        )
        .distinct()
    )
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
        .localCheckpoint()
    )
    changed = 1
    for _ in range(max_iter):
        neigh = (
            edges.join(labels, edges["src"] == labels["id"])
            .groupBy(F.col("dst").alias("id"))
            .agg(F.min("label").alias("nlabel"))
        )
        new = (
            labels.join(neigh, "id", "left")
            .select(
                "id",
                F.least(
                    F.col("label"), F.coalesce("nlabel", F.col("label"))
                ).alias("label"),
            )
            .localCheckpoint()
        )
        changed = (
            new.join(labels.withColumnRenamed("label", "old"), "id")
            .filter(F.col("label") != F.col("old"))
            .count()
        )
        labels = new
        if changed == 0:
            break
    if changed != 0:
        raise RuntimeError(
            f"connected_components(label) did not converge in {max_iter} "
            "rounds — component diameter exceeds the budget; use "
            "algorithm='star' (O(log n) rounds) or raise max_iter"
        )
    return labels.select(
        F.col("id").alias("docid"), F.col("label").alias("cluster")
    )


def _edge_fingerprint(e: DataFrame) -> tuple:
    """(count, XOR of xxhash64(u,v)) — order-independent content digest
    of an edge set (sets are distinct()-ed, so XOR never self-cancels);
    unequal fingerprints prove the sets differ without a join."""
    row = e.agg(
        F.count(F.lit(1)), F.expr("bit_xor(xxhash64(u, v))")
    ).collect()[0]
    return (row[0], row[1])


def _cc_two_phase(pairs: DataFrame, max_iter: int) -> DataFrame:
    """Large-star/small-star alternation. State = a directed edge set;
    at the fixpoint it is exactly {(v, min-of-component(v))} for every
    non-root vertex — a forest of depth-1 stars.

    large-star: per center u over its undirected neighbourhood Γ(u),
    m = min(Γ(u) ∪ {u}); emit (v, m) for v ∈ Γ(u), v > u. All output
    edges point strictly downhill (larger → smaller id).
    small-star: per center u over its downhill neighbours N(u) (all
    v < u after large-star), m = min(N(u)); emit (u, m) and (v, m) for
    the other v ∈ N(u). Neither phase needs a collect_list — both are
    min-aggregations + joins, so a high-degree hub never materializes
    its neighbour set in one task."""
    vertices = (
        pairs.select(F.col("a").alias("id"))
        .unionByName(pairs.select(F.col("b").alias("id")))
        .distinct()
        .localCheckpoint()
    )
    e = (
        pairs.select(F.col("a").alias("u"), F.col("b").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint()
    )
    for _ in range(max_iter):
        # --- large-star over the symmetric closure
        und = e.unionByName(
            e.select(F.col("v").alias("u"), F.col("u").alias("v"))
        ).distinct()
        mins = und.groupBy("u").agg(F.min("v").alias("mn"))
        ls = (
            und.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(
                F.col("v").alias("u"),
                F.least(F.col("mn"), F.col("u")).alias("v"),
            )
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        # --- small-star over the downhill edges
        smins = ls.groupBy("u").agg(F.min("v").alias("m"))
        ss_others = (
            ls.join(smins, "u")
            .filter(F.col("v") != F.col("m"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )
        ss_self = smins.select("u", F.col("m").alias("v"))
        new = (
            ss_others.unionByName(ss_self)
            .filter(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint()
        )
        # cheap order-independent fingerprint first; only a fingerprint
        # match pays for the exact set-equality confirmation
        stable = _edge_fingerprint(new) == _edge_fingerprint(e) and (
            new.exceptAll(e).unionAll(e.exceptAll(new)).limit(1).count() == 0
        )
        e = new
        if stable:
            break
    else:
        raise RuntimeError(
            f"connected_components(star) did not converge in {max_iter} "
            "rounds (expected O(log n)) — graph state is oscillating; "
            "raise max_iter"
        )
    return (
        vertices.join(e, vertices["id"] == e["u"], "left")
        .select(
            F.col("id").alias("docid"),
            F.coalesce(F.col("v"), F.col("id")).alias("cluster"),
        )
    )


def dedup_clusters(
    df: DataFrame,
    threshold: float,
    docid: str = "doc_id",
    text: str = "text",
) -> DataFrame:
    """(docid, cluster) over ALL docs: near-dup clusters from the
    MinHash+LSH pair stage closed under transitivity (A~B, B~C → one
    cluster even when A,C don't collide); singletons cluster to
    themselves. The keep-policy is then `cluster == docid`."""
    pairs = minhash_dedup_pairs(df, threshold, docid, text)
    cc = connected_components(pairs)
    return (
        df.select(F.col(docid).alias("docid"))
        .join(cc, "docid", "left")
        .select(
            "docid", F.coalesce("cluster", F.col("docid")).alias("cluster")
        )
    )


def dedup_by_cluster(
    df: DataFrame,
    threshold: float,
    docid: str = "doc_id",
    text: str = "text",
) -> DataFrame:
    """The near-dup-deduplicated table: keep exactly one doc per
    transitive near-dup cluster (the min-docid representative). This is
    the row-level output corpus curation actually consumes — exact_dedup
    removes byte-identical copies; this removes near-copies too."""
    keep = (
        dedup_clusters(df, threshold, docid, text)
        .filter(F.col("cluster") == F.col("docid"))
        .select(F.col("docid").alias(docid))
    )
    return df.join(keep, docid, "left_semi")


def remove_duplicate_spans_sql(
    k: int = 8,
    table: str = "documents",
    docid: str = "doc_id",
    text: str = "text",
    join_sep: str = " ",
) -> str:
    """DuckDB mirror of :func:`remove_duplicate_spans` — positions
    anti-joined against the (materialized) span relation, survivors
    re-aggregated in order."""
    spans = duplicate_spans_sql(
        k=k, keep_first=True, table=table, docid=docid, text=text
    )
    return f"""
WITH toks AS (
  SELECT {docid} AS docid,
         list_filter(string_split_regex(lower({text}), '[^a-z0-9]+'),
                     x -> x <> '') AS toks
  FROM {table}
),
pos AS (
  SELECT docid, g.i - 1 AS pos, list_extract(toks, g.i) AS term
  FROM toks, unnest(generate_series(1, len(toks))) AS g(i)
),
spans AS MATERIALIZED ({spans}),
kept AS (
  SELECT p.docid, p.pos, p.term
  FROM pos p
  WHERE NOT EXISTS (
    SELECT 1 FROM spans s
    WHERE s.docid = p.docid
      AND p.pos BETWEEN s.span_start AND s.span_end)
),
rebuilt AS (
  SELECT docid, string_agg(term, '{join_sep}' ORDER BY pos) AS clean_text,
         count(*) AS kept_n
  FROM kept GROUP BY docid
)
SELECT t.docid,
       coalesce(r.clean_text, '') AS clean_text,
       len(t.toks)::BIGINT AS n_tokens,
       (len(t.toks) - coalesce(r.kept_n, 0))::BIGINT AS n_removed
FROM toks t LEFT JOIN rebuilt r USING (docid)
"""
