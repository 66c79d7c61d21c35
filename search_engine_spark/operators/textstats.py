"""Text-analysis operators for training-data pipelines.

All pure DataFrame built-ins (JVM-side, whole-stage codegen) with exact
DuckDB-SQL mirrors for the correctness gate:

* token counting (whitespace/regex tokens, unique counts)
* quality scoring (length / lexical-diversity / stopword-ratio features)
* language ID (marker-token n-gram heuristic)
* document fingerprinting (normalized-content digest)
* autocomplete (prefix → top terms by df — the reference's trie,
  /root/reference/src/cis5550/frontend/Trie.java:19-82, as a declarative
  query over the term-stats table)
* pattern extraction (the reference's zip-code extractor,
  /root/reference/src/cis5550/jobs/IndexerProject.java:362-376, generalized)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from search_engine_spark.operators.text_ops import tokens_col
from search_engine_spark.oracle.text import STOPWORDS

Q_DECIMALS = 6

# marker tokens per language for the n-gram-heuristic language classifier;
# deterministic priority order for ties: en < de < es < fr
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is", "in", "that", "it", "with", "for"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "mit", "ein", "eine", "von"],
    "es": ["el", "la", "los", "las", "que", "y", "en", "un", "una", "por"],
    "fr": ["le", "les", "et", "des", "un", "une", "est", "dans", "pour", "qui"],
}


def token_counts(
    df: DataFrame, docid: str = "doc_id", text: str = "text"
) -> DataFrame:
    """(docid, n_tokens, n_unique, n_chars_norm)."""
    toks = tokens_col(text)
    return df.select(
        F.col(docid).alias("docid"),
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_unique"),
        F.length(F.concat_ws(" ", toks)).alias("n_chars_norm"),
    )


# BPE-ish subword pieces: letter chunks ≤4 chars (the typical subword
# granularity), digit chunks ≤3 (number tokenization), single punctuation.
# Alternatives have disjoint first-char classes and greedy bounded
# quantifiers, so Java regex (Spark) and RE2 (DuckDB) match identically.
BPE_PIECE_RE = r"[a-z]{1,4}|[0-9]{1,3}|[^a-z0-9\s]"


def bpe_token_estimate(
    df: DataFrame, docid: str = "doc_id", text: str = "text"
) -> DataFrame:
    """(docid, n_pieces, n_words, pieces_per_word) — regex-chunk estimate
    of a BPE tokenizer's token count (what an LLM-data pipeline budgets
    by), fully engine-portable (no tokenizer library)."""
    pieces = F.regexp_extract_all(
        F.lower(F.col(text)), F.lit(BPE_PIECE_RE), 0
    )
    words = tokens_col(text)
    out = df.select(
        F.col(docid).alias("docid"),
        F.size(pieces).alias("n_pieces"),
        F.size(words).alias("n_words"),
    )
    return out.withColumn(
        "pieces_per_word",
        F.when(
            F.col("n_words") > 0,
            F.round(F.col("n_pieces") / F.col("n_words"), Q_DECIMALS),
        ).otherwise(F.lit(0.0)),
    )


def _stop_hits(toks: Column) -> Column:
    stops = F.array(*[F.lit(s) for s in sorted(STOPWORDS)])
    return F.size(F.filter(toks, lambda x: F.array_contains(stops, x)))


def quality_score(
    df: DataFrame, docid: str = "doc_id", text: str = "text"
) -> DataFrame:
    """(docid, n_tokens, uniq_ratio, stop_ratio, mean_len, quality).

    quality = 0.3·min(n_tokens/200, 1) + 0.3·uniq_ratio
            + 0.2·(1 − stop_ratio) + 0.2·min(mean_len/8, 1), rounded.
    A length/diversity/stopword heuristic in the C4/Gopher-rule family —
    deterministic, engine-mirrorable arithmetic."""
    toks = tokens_col(text)
    base = df.select(
        F.col(docid).alias("docid"),
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_unique"),
        _stop_hits(toks).alias("n_stop"),
        F.aggregate(
            F.transform(toks, lambda x: F.length(x).cast("double")),
            F.lit(0.0),
            lambda a, x: a + x,
        ).alias("char_sum"),
    ).filter(F.col("n_tokens") > 0)
    return (
        base.withColumn("uniq_ratio", F.round(F.col("n_unique") / F.col("n_tokens"), Q_DECIMALS))
        .withColumn("stop_ratio", F.round(F.col("n_stop") / F.col("n_tokens"), Q_DECIMALS))
        .withColumn("mean_len", F.round(F.col("char_sum") / F.col("n_tokens"), Q_DECIMALS))
        .withColumn(
            "quality",
            # floor-quantized instead of round(): token counts with
            # power-of-two denominators make exact .5 boundaries common,
            # where round-half-up (Spark) and round-half-even (DuckDB)
            # disagree; floor of the identical IEEE754 double is portable
            F.floor(
                (
                    F.lit(0.3) * F.least(F.col("n_tokens") / F.lit(200.0), F.lit(1.0))
                    + F.lit(0.3) * (F.col("n_unique") / F.col("n_tokens"))
                    + F.lit(0.2) * (F.lit(1.0) - F.col("n_stop") / F.col("n_tokens"))
                    + F.lit(0.2) * F.least(F.col("char_sum") / F.col("n_tokens") / F.lit(8.0), F.lit(1.0))
                )
                * F.lit(1e6)
            )
            / F.lit(1e6),
        )
        .select("docid", "n_tokens", "uniq_ratio", "stop_ratio", "mean_len", "quality")
    )


def lang_id(
    df: DataFrame, docid: str = "doc_id", text: str = "text"
) -> DataFrame:
    """(docid, pred_lang, best_hits) — marker-token language classifier.

    Scores each language by marker-token occurrences; argmax with a fixed
    priority tie-break (en, de, es, fr; 'und' = undetermined when no marker
    hits). The greatest-of-struct argmax stays JVM-side."""
    toks = tokens_col(text)
    langs = list(LANG_MARKERS)
    sel = [F.col(docid).alias("docid")]
    for lang in langs:
        markers = F.array(*[F.lit(m) for m in LANG_MARKERS[lang]])
        sel.append(
            F.size(F.filter(toks, lambda x: F.array_contains(markers, x))).alias(f"hits_{lang}")
        )
    base = df.select(*sel)
    # argmax via greatest(struct(hits, -priority)): higher hits win, then
    # earlier-listed language
    cands = [
        F.struct(
            F.col(f"hits_{lang}").alias("h"),
            F.lit(-i).alias("negp"),
            F.lit(lang).alias("lang"),
        )
        for i, lang in enumerate(langs)
    ]
    best = F.greatest(*cands)
    return base.select(
        "docid",
        F.when(best.getField("h") > 0, best.getField("lang"))
        .otherwise(F.lit("und"))
        .alias("pred_lang"),
        best.getField("h").alias("best_hits"),
    )


def fingerprint(
    df: DataFrame, docid: str = "doc_id", text: str = "text"
) -> DataFrame:
    """(docid, fp) — md5 digest of the token-normalized content (lower,
    punctuation collapsed). Identical content ⇒ identical fp regardless of
    spacing/case — the content-dedup key (Crawler.java:519-525 analogue)."""
    return df.select(
        F.col(docid).alias("docid"),
        F.md5(F.concat_ws(" ", tokens_col(text))).alias("fp"),
    )


def extract_pattern_tokens(
    df: DataFrame,
    pattern: str,
    docid: str = "doc_id",
    text: str = "text",
) -> DataFrame:
    """(docid, token) — distinct tokens fully matching ``pattern``.
    With pattern=^[0-9]{5}$ + range filter this is the reference's
    zip-code extractor (IndexerProject.java:362-376)."""
    toks = tokens_col(text)
    return (
        df.select(
            F.col(docid).alias("docid"),
            F.explode(F.filter(toks, lambda x: x.rlike(pattern))).alias("token"),
        )
        .distinct()
    )


def zipcodes(df: DataFrame, docid: str = "doc_id", text: str = "text") -> DataFrame:
    """(docid, zipcode) — 5-digit tokens in [00501, 99950]."""
    return (
        extract_pattern_tokens(df, "^[0-9]{5}$", docid, text)
        .withColumn("z", F.col("token").cast("int"))
        .filter((F.col("z") >= 501) & (F.col("z") <= 99950))
        .select("docid", F.col("token").alias("zipcode"))
    )


def autocomplete(
    terms: DataFrame, prefix: str, k: int = 10, term: str = "term", df_col: str = "df"
) -> DataFrame:
    """(term, df) — top-k completions of ``prefix`` by document frequency
    (desc, then term asc). Declarative replacement for the reference trie;
    on a term-sorted table the LIKE 'p%' predicate prunes to one range."""
    return (
        terms.filter(F.col(term).startswith(prefix))
        .select(term, df_col)
        .orderBy(F.col(df_col).desc(), F.col(term).asc())
        .limit(k)
    )


def spell_suggest(
    terms: DataFrame,
    query: str,
    k: int = 5,
    max_dist: int = 2,
    term: str = "term",
    df_col: str = "df",
) -> DataFrame:
    """(qterm, suggestion, dist, df) — "did you mean": for each token of
    ``query`` that is NOT in the vocabulary, the top-k in-vocabulary terms
    within ``max_dist`` edits, ranked (dist asc, df desc, term asc).
    In-vocabulary tokens return themselves at dist 0 (nothing to fix).

    Shape: ``terms`` is the index's term-stats table (vocabulary-sized,
    orders of magnitude smaller than the corpus). The length-window
    predicate ``abs(len(t) - len(q)) <= max_dist`` is a plain column
    filter pushed into the scan before any levenshtein evaluates; the
    edit distance itself is the JVM built-in (whole-stage codegen, no
    Python). Per-qterm ranking is a window over the few hundred
    length-window survivors. At a 10^9-term vocabulary the scale path is
    the deletes-index (SymSpell) pair :func:`spell_deletes_index` +
    :func:`spell_suggest_symspell` — same output contract (parity-tested),
    one precomputed table; the brute scan here is the exact verifier."""
    from search_engine_spark.oracle.text import tokenize

    qterms = [
        (t, len(t))
        for t in dict.fromkeys(
            t for t, _ in tokenize(query, stem=False, cap=None)
        )
    ]
    spark = terms.sparkSession
    if not qterms:
        return spark.createDataFrame(
            [], "qterm string, suggestion string, dist int, df bigint"
        )
    qdf = spark.createDataFrame(qterms, "qterm string, qlen int")
    cand = (
        terms.select(
            F.col(term).alias("suggestion"), F.col(df_col).alias("df")
        )
        .join(
            F.broadcast(qdf),
            F.abs(F.length("suggestion") - F.col("qlen")) <= max_dist,
        )
        .withColumn(
            "dist", F.levenshtein(F.col("qterm"), F.col("suggestion"))
        )
        .filter(F.col("dist") <= max_dist)
    )
    return _rank_spell_candidates(cand, k)


def _rank_spell_candidates(cand: DataFrame, k: int) -> DataFrame:
    """Shared ranking tail of both spell paths (brute length-window scan
    and SymSpell deletes-join): per-qterm top-k by (dist asc, df desc,
    term asc), with the exact-hit short-circuit — a qterm that IS in the
    vocabulary keeps only its dist-0 row. ``cand`` needs columns
    (qterm, suggestion, dist, df); structural sharing is what makes the
    two paths rank-identical by construction."""
    w_ord = Window.partitionBy("qterm").orderBy(
        F.col("dist").asc(), F.col("df").desc(), F.col("suggestion").asc()
    )
    w_all = Window.partitionBy("qterm")
    # single pass over the candidates: the exact-hit flag is a window max
    # over the same partition key as the ranking window (ONE shuffle, no
    # self-joins — the candidate scan executes exactly once). A dist-0
    # row is unique per qterm (suggestion == qterm), so the exact case
    # keeps exactly that row.
    return (
        cand.select("qterm", "suggestion", "dist", "df")
        .withColumn(
            "_exact", F.max((F.col("dist") == 0).cast("int")).over(w_all)
        )
        .filter((F.col("_exact") == 0) | (F.col("dist") == 0))
        .withColumn("_rk", F.row_number().over(w_ord))
        .filter(F.col("_rk") <= k)
        .select(
            "qterm", "suggestion",
            F.col("dist").cast("long").alias("dist"),
            F.col("df").cast("long").alias("df"),
        )
    )


# single-deletion variants of a string column, entirely JVM-side: one
# array of length(c) strings, each dropping position i. The length guard
# matters: Spark's sequence(1, 0) is the DESCENDING [1, 0], not empty.
_DEL1_EXPR = (
    "CASE WHEN length({c}) = 0 THEN array() "
    "ELSE transform(sequence(1, length({c})), "
    "i -> concat(substring({c}, 1, i - 1), "
    "substring({c}, i + 1, length({c})))) END"
)


def spell_deletes_index(
    terms: DataFrame,
    max_dist: int = 2,
    term: str = "term",
    df_col: str = "df",
    buckets: int | None = None,
) -> DataFrame:
    """(variant, suggestion, df) — the SymSpell deletes index: every
    vocabulary term keyed by EVERY string reachable from it with at most
    ``max_dist`` character deletions (including itself at 0 deletions).

    This is the precompute-once side of the 10^9-term spell path: for a
    term of length L and max_dist 2 the fan-out is 1 + L + L(L-1)/2
    variants (~60 rows for a 10-char term), so the index is a small
    constant factor over the vocabulary — negligible next to the corpus.
    Variant generation is a JVM higher-order ``transform`` (no Python);
    the per-round ``dropDuplicates`` bounds the frontier (deleting chars
    from different positions often collides, e.g. repeated letters). At
    scale, write this out bucketed/sorted by ``variant`` so lookups are
    one pruned range scan per query variant.

    Completeness contract (standard SymSpell argument): if
    lev(q, s) <= d then q and s share a common string reachable by at
    most d deletions from EACH side — so joining the query's own delete
    variants against an index built with the same (or larger)
    ``max_dist`` yields a candidate superset, and the final exact
    levenshtein verify in :func:`spell_suggest_symspell` makes the
    output exact.

    ``buckets``: when set, adds ``bucket = crc32(variant) % buckets`` —
    write the index ``partitionBy("bucket")`` and pass the same
    ``buckets`` to :func:`spell_suggest_symspell` so the probe becomes a
    PARTITION-PRUNED read of <= n_variants directories instead of a full
    index scan. crc32 is deliberately the hash (JVM ``F.crc32`` ==
    Python ``zlib.crc32``), so the serving side computes bucket ids for
    its literal variants without a Spark job. A plain ``variant IN``
    predicate does NOT prune here: past the parquet pushdown threshold
    (~10 values) Spark pushes only the min..max range, which on a
    web-scale variant space spans everything."""
    base = terms.select(
        F.col(term).alias("suggestion"),
        F.col(df_col).alias("df"),
        F.col(term).alias("variant"),
    )
    out = base
    frontier = base
    for _ in range(max_dist):
        frontier = frontier.select(
            "suggestion",
            "df",
            F.explode(F.expr(_DEL1_EXPR.format(c="variant"))).alias(
                "variant"
            ),
        ).dropDuplicates(["suggestion", "variant"])
        out = out.unionByName(frontier)
    out = out.dropDuplicates(["suggestion", "variant"])
    if buckets is not None:
        out = out.withColumn(
            "bucket",
            F.pmod(F.crc32(F.col("variant").cast("binary")), F.lit(buckets)),
        )
    return out


def _delete_variants(word: str, max_dist: int) -> set[str]:
    """Driver-side (query-sized) mirror of the index's variant fan-out."""
    seen = {word}
    frontier = {word}
    for _ in range(max_dist):
        nxt = {w[:i] + w[i + 1:] for w in frontier for i in range(len(w))}
        frontier = nxt - seen
        seen |= nxt
    return seen


def spell_suggest_symspell(
    deletes: DataFrame,
    query: str,
    k: int = 5,
    max_dist: int = 2,
    buckets: int | None = None,
) -> DataFrame:
    """(qterm, suggestion, dist, df) — :func:`spell_suggest` served from a
    precomputed :func:`spell_deletes_index` instead of a vocabulary scan.
    ``max_dist`` must be <= the index's build-time max_dist (candidate
    completeness, see the index docstring); output is rank-identical to
    the brute path by the shared :func:`_rank_spell_candidates` tail and
    the exact levenshtein verify (parity-tested).

    Scale shape: the query's own delete variants are driver-side literals
    (a misspelled token has ~dozens), pushed as a ``variant IN (...)``
    predicate into the index scan — on a variant-sorted/bucketed index
    that's a handful of pruned range reads, NOT a vocabulary pass; the
    (qterm, variant) map is broadcast. This is why the deletes-join wins
    at web-scale vocabularies where the brute length-window scan touches
    every term of similar length."""
    from search_engine_spark.oracle.text import tokenize

    spark = deletes.sparkSession
    qterms = list(
        dict.fromkeys(t for t, _ in tokenize(query, stem=False, cap=None))
    )
    if not qterms:
        return spark.createDataFrame(
            [], "qterm string, suggestion string, dist long, df bigint"
        )
    pairs = [
        (q, v) for q in qterms for v in sorted(_delete_variants(q, max_dist))
    ]
    qdf = spark.createDataFrame(pairs, "qterm string, variant string")
    all_variants = sorted({v for _, v in pairs})
    if buckets is not None:
        # partition pruning: bucket ids of the literal variants, computed
        # driver-side with the same hash the index writer used (zlib.crc32
        # == F.crc32). This is the read that makes the probe O(variants),
        # not O(index) — see spell_deletes_index.
        import zlib

        bucket_ids = sorted(
            {zlib.crc32(v.encode("utf-8")) % buckets for v in all_variants}
        )
        deletes = deletes.filter(F.col("bucket").isin(bucket_ids))
    cand = (
        deletes.filter(F.col("variant").isin(all_variants))
        .join(F.broadcast(qdf), "variant")
        # repartition by qterm BEFORE the pair-dedup: hash(qterm) is a
        # subset-clustering for groups (qterm, suggestion) AND for the
        # ranking window's partition key, so dedup + window reuse this ONE
        # exchange instead of shuffling twice
        .repartition("qterm")
        .dropDuplicates(["qterm", "suggestion"])
        .withColumn(
            "dist", F.levenshtein(F.col("qterm"), F.col("suggestion"))
        )
        .filter(F.col("dist") <= max_dist)
    )
    return _rank_spell_candidates(cand, k)


def spell_suggest_sql(
    query: str, k: int = 5, max_dist: int = 2,
    terms_sql: str = "SELECT term, df FROM terms",
) -> str:
    """DuckDB mirror of :func:`spell_suggest` over a (term, df) relation."""
    from search_engine_spark.oracle.text import tokenize

    qterms = list(
        dict.fromkeys(t for t, _ in tokenize(query, stem=False, cap=None))
    )
    vals = ", ".join(f"('{t}')" for t in qterms) or "(NULL)"
    return f"""
WITH vocab AS ({terms_sql}),
q(qterm) AS (VALUES {vals}),
cand AS (
  SELECT q.qterm, v.term AS suggestion,
         levenshtein(q.qterm, v.term) AS dist, v.df
  FROM q JOIN vocab v ON abs(len(v.term) - len(q.qterm)) <= {max_dist}
  WHERE levenshtein(q.qterm, v.term) <= {max_dist}
),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY qterm ORDER BY dist ASC, df DESC, suggestion ASC
  ) AS rk FROM cand
),
exact AS (SELECT DISTINCT qterm FROM cand WHERE dist = 0)
SELECT qterm, suggestion, dist::BIGINT AS dist, df::BIGINT AS df FROM ranked
WHERE rk <= {k}
  AND (dist = 0 OR qterm NOT IN (SELECT qterm FROM exact))
"""


def length_quantiles(
    df: DataFrame,
    group: str = "lang",
    col: str = "n_chars",
    probs: tuple[float, ...] = (0.5, 0.9, 0.99),
) -> DataFrame:
    """Per-group EXACT continuous quantiles of a numeric column (corpus
    length profiling — the distribution check every training-data
    pipeline runs before filtering). Spark's ``percentile`` is the exact
    interpolating aggregate (sort-based within group); at 100 TB swap to
    ``percentile_approx`` when a bounded-memory sketch is acceptable —
    same call shape, documented tolerance."""
    aggs = [
        F.round(F.expr(f"percentile({col}, {p})"), 6).alias(
            f"p{str(p)[2:].ljust(2, '0')}"
        )
        for p in probs
    ]
    return df.groupBy(group).agg(*aggs, F.count(F.lit(1)).alias("n"))


# ---------------------------------------------------------------------------
# Web-corpus curation: repetition rules + PII scrubbing
# ---------------------------------------------------------------------------

REP_QUANT = 1e6  # floor-quantize fractions (same rationale as quality_score)


def repetition_stats(
    df: DataFrame, docid: str = "doc_id", text: str = "text"
) -> DataFrame:
    """(docid, n_tokens, n_bigrams, n_distinct_bigrams, top_bigram_count,
    dup_bigram_frac, top_bigram_frac, dup_trigram_frac) — the
    repetition-based quality signals of the Gopher rules (Rae et al. 2021,
    appendix A1): boilerplate/templated web text shows up as a high
    fraction of duplicated word n-grams and a single dominant n-gram.

    * ``dup_bigram_frac``  = 1 − distinct_bigrams / bigrams
    * ``top_bigram_frac``  = tokens covered by the most frequent bigram
      / n_tokens (= 2·top_count / n_tokens, Gopher's "top n-gram
      fraction" in token rather than character units)
    * ``dup_trigram_frac`` = 1 − distinct_trigrams / trigrams
      (NULL when the doc has < 3 tokens)

    Docs with < 2 tokens have no bigrams and are excluded (no repetition
    signal is defined for them).

    Plan: tokenize → bigram array via ``zip_with`` over two slices (JVM,
    no explode for the array-level stats) → ONE explode of bigrams →
    groupBy(docid, bigram) → groupBy(docid) for the mode count. Trigram
    distinct counts are computed at array level (``array_distinct``)
    before the explode, so the whole operator is one explode + two keyed
    aggregations — the term_frequencies shape, map-side partial aggs
    included. Fractions are floor-quantized to 1e-6 so Spark and the
    DuckDB mirror agree on exact .5 boundaries."""
    toks = tokens_col(text)
    n = F.size(toks)
    # CaseWhen evaluates branches lazily per row: the n>=2 guard keeps
    # slice() from seeing a negative length on zero-token docs (punct-only
    # text) — found by the hypothesis cross-engine property test.
    bigrams = F.when(
        n >= 2,
        F.zip_with(
            F.slice(toks, 1, n - 1),
            F.slice(toks, 2, n - 1),
            lambda a, b: F.concat_ws(" ", a, b),
        ),
    ).otherwise(F.array().cast("array<string>"))
    trigrams = F.when(
        n >= 3,
        F.zip_with(
            F.slice(toks, 1, n - 2),
            F.zip_with(
                F.slice(toks, 2, n - 2),
                F.slice(toks, 3, n - 2),
                lambda b, c: F.concat_ws(" ", b, c),
            ),
            lambda a, bc: F.concat_ws(" ", a, bc),
        ),
    ).otherwise(F.array().cast("array<string>"))
    base = df.select(
        F.col(docid).alias("docid"),
        n.alias("n_tokens"),
        F.size(F.array_distinct(trigrams)).alias("n_tri_d"),
        bigrams.alias("_bigrams"),
    ).filter(F.col("n_tokens") >= 2)
    ex = base.select(
        "docid", "n_tokens", "n_tri_d", F.explode("_bigrams").alias("bg")
    )
    cnt = ex.groupBy("docid", "n_tokens", "n_tri_d", "bg").agg(
        F.count(F.lit(1)).alias("c")
    )
    agg = cnt.groupBy("docid", "n_tokens", "n_tri_d").agg(
        F.sum("c").alias("n_bigrams"),
        F.count(F.lit(1)).alias("n_distinct_bigrams"),
        F.max("c").alias("top_bigram_count"),
    )

    def quant(x):
        return F.floor(x * F.lit(REP_QUANT)) / F.lit(REP_QUANT)

    n_tri = F.greatest(F.col("n_tokens") - 2, F.lit(0))
    return agg.select(
        "docid",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("n_bigrams").cast("long").alias("n_bigrams"),
        F.col("n_distinct_bigrams").cast("long").alias("n_distinct_bigrams"),
        F.col("top_bigram_count").cast("long").alias("top_bigram_count"),
        quant(
            F.lit(1.0) - F.col("n_distinct_bigrams") / F.col("n_bigrams")
        ).alias("dup_bigram_frac"),
        quant(
            F.lit(2.0) * F.col("top_bigram_count") / F.col("n_tokens")
        ).alias("top_bigram_frac"),
        F.when(
            n_tri > 0, quant(F.lit(1.0) - F.col("n_tri_d") / n_tri)
        ).alias("dup_trigram_frac"),
    )


LM_QUANT = 1e6  # per-term logprobs quantized to integer micro-nats


def lm_logprob_table(
    df: DataFrame, docid: str = "doc_id", text: str = "text"
) -> DataFrame:
    """(term, c, lp_micro) — add-one-smoothed unigram language model over
    the corpus: p(t) = (c(t)+1) / (N+V). Logprobs are FLOOR-quantized to
    integer micro-nats so every downstream sum is integer arithmetic —
    associative, partitioning-independent, and bit-identical across
    engines (only the V per-term quantizations involve floats, not the
    N per-token sums). One keyed aggregation; N and V ride along via a
    broadcast of the 1-row total."""
    flat = df.select(
        F.col(docid).alias("docid"),
        F.explode(tokens_col(text)).alias("term"),
    )
    totals = flat.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("term").alias("v"),
    )
    counts = flat.groupBy("term").agg(F.count(F.lit(1)).alias("c"))
    return counts.crossJoin(F.broadcast(totals)).select(
        "term",
        "c",
        F.floor(
            F.log((F.col("c") + 1.0) / (F.col("n") + F.col("v"))) * F.lit(LM_QUANT)
        )
        .cast("long")
        .alias("lp_micro"),
    )


def lm_score(
    df: DataFrame,
    docid: str = "doc_id",
    text: str = "text",
    lm: DataFrame | None = None,
) -> DataFrame:
    """(docid, n_tokens, nats_micro, avg_nats) — per-document unigram
    cross-entropy, the perplexity-filter signal of the CCNet/CC-Net-family
    webtext pipelines (docs whose token distribution is far from the
    corpus LM are boilerplate or noise; filter on an ``avg_nats`` band).

    ``lm`` defaults to the corpus's own unigram model
    (:func:`lm_logprob_table`) — the self-scored form every curation run
    starts from; pass a model trained on a clean reference corpus for the
    CCNet setup proper (terms absent from that model are dropped by the
    inner join — pre-extend the table with an OOV floor row per term if
    unseen-mass scoring is wanted). ``nats_micro`` is an exact integer;
    ``avg_nats`` divides it once at the end (deterministic given identical
    integers).

    Scale: one explode + one keyed agg per pass; the vocab table is
    broadcast (Zipf keeps real vocabularies in the 10^6-10^8 range). Docs
    with zero tokens carry no signal and are excluded."""
    if lm is None:
        lm = lm_logprob_table(df, docid, text)
    lm = F.broadcast(lm.select("term", "lp_micro"))
    flat = df.select(
        F.col(docid).alias("docid"),
        F.explode(tokens_col(text)).alias("term"),
    )
    return (
        flat.join(lm, "term")
        .groupBy("docid")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("lp_micro").alias("nats_micro"),
        )
        .select(
            "docid",
            "n_tokens",
            "nats_micro",
            # avg truncated to micro-nat precision via INTEGER division
            # (both engines' int div truncates toward zero; the numerator
            # is positive), then one exact double op. No float rounding
            # anywhere, so the value is bit-identical across engines and
            # plans — F.round at 6 dp sat on a .5 boundary at sf0.1 and
            # split from DuckDB's round by one ulp (review find).
            (
                F.expr("(-nats_micro) div n_tokens").cast("double")
                / F.lit(float(LM_QUANT))
            ).alias("avg_nats"),
        )
    )


# Gopher quality-rule stopword probe (Rae et al. 2021 Appendix A: a doc
# must contain at least 2 of these to pass the "contains common English
# function words" rule).
GOPHER_REQ_STOPS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_filter(
    df: DataFrame,
    docid: str = "doc_id",
    text: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_len: float = 3.0,
    max_mean_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    max_bullet_frac: float = 0.9,
    max_ellipsis_frac: float = 0.3,
    min_alpha_frac: float = 0.8,
    min_req_stops: int = 2,
) -> DataFrame:
    """(docid, n_words, mean_word_len, symbol_ratio, bullet_frac,
    ellipsis_frac, alpha_frac, n_req_stops, passes, fail_reasons) — the
    Gopher rule-based document filter (Rae et al. 2021, Appendix A;
    the rule set C4's successors standardized on):

    * word count in [min_words, max_words]            (``words``)
    * mean word length in [min_mean_len, max_mean_len] (``mean_len``)
    * '#'-or-'...' symbols per word <= max_symbol_ratio (``symbols``)
    * lines starting with a bullet <= max_bullet_frac   (``bullets``)
    * lines ending in an ellipsis <= max_ellipsis_frac  (``ellipsis``)
    * words containing a letter >= min_alpha_frac       (``alpha``)
    * >= min_req_stops of the 8 required stopwords      (``stops``)

    ``fail_reasons`` is the comma-joined list of the rule tags above that
    failed ('' when ``passes``). Words are WHITESPACE-split raw words
    (the paper's definition), not engine tokens. All flags compare
    unrounded doubles (identical IEEE arithmetic in both engines); the
    reported ratios are 6-dp-rounded views. Docs with zero words are
    excluded (no denominator — upstream length rules drop them anyway).

    Plan shape: one narrow projection per doc, array built-ins only — no
    explode, no shuffle, no Python. Embarrassingly parallel at any
    scale."""
    words = F.filter(
        F.split(F.col(text), r"\s+"), lambda w: w != ""
    )
    lines = F.filter(
        F.split(F.col(text), "\n"), lambda x: F.trim(x) != ""
    )
    base = df.select(
        F.col(docid).alias("docid"),
        F.size(words).alias("n_words"),
        F.aggregate(
            F.transform(words, lambda w: F.length(w).cast("long")),
            F.lit(0).cast("long"),
            lambda a, x: a + x,
        ).alias("char_sum"),
        (
            (F.length(text) - F.length(F.regexp_replace(text, "#", "")))
            + (
                F.length(text)
                - F.length(F.replace(F.col(text), F.lit("...")))
            )
            / F.lit(3)
        ).alias("n_symbols"),
        F.size(lines).alias("n_lines"),
        F.size(
            F.filter(
                lines,
                lambda x: F.substring(F.ltrim(x), 1, 1).isin(
                    "-", "*", "•"
                ),
            )
        ).alias("n_bullet"),
        F.size(
            F.filter(
                lines,
                lambda x: F.rtrim(x).endswith("...")
                | F.rtrim(x).endswith("…"),
            )
        ).alias("n_ellipsis"),
        F.size(
            F.filter(words, lambda w: w.rlike("[A-Za-z]"))
        ).alias("n_alpha"),
        F.aggregate(
            F.array(*[F.lit(s) for s in GOPHER_REQ_STOPS]),
            F.lit(0).cast("long"),
            lambda a, s: a
            + F.when(
                F.array_contains(
                    F.transform(words, lambda w: F.lower(w)), s
                ),
                F.lit(1),
            )
            .otherwise(F.lit(0))
            .cast("long"),
        ).alias("n_req_stops"),
    ).filter(F.col("n_words") > 0)
    mean_len = F.col("char_sum") / F.col("n_words")
    symbol_ratio = F.col("n_symbols") / F.col("n_words")
    bullet_frac = F.col("n_bullet") / F.col("n_lines")
    ellipsis_frac = F.col("n_ellipsis") / F.col("n_lines")
    alpha_frac = F.col("n_alpha") / F.col("n_words")
    rules = [
        (
            "words",
            (F.col("n_words") >= min_words)
            & (F.col("n_words") <= max_words),
        ),
        ("mean_len", (mean_len >= min_mean_len) & (mean_len <= max_mean_len)),
        ("symbols", symbol_ratio <= max_symbol_ratio),
        ("bullets", bullet_frac <= max_bullet_frac),
        ("ellipsis", ellipsis_frac <= max_ellipsis_frac),
        ("alpha", alpha_frac >= min_alpha_frac),
        ("stops", F.col("n_req_stops") >= min_req_stops),
    ]
    passes = rules[0][1]
    for _, flag in rules[1:]:
        passes = passes & flag
    return base.select(
        "docid",
        F.col("n_words").cast("long").alias("n_words"),
        F.round(mean_len, Q_DECIMALS).alias("mean_word_len"),
        F.round(symbol_ratio, Q_DECIMALS).alias("symbol_ratio"),
        F.round(bullet_frac, Q_DECIMALS).alias("bullet_frac"),
        F.round(ellipsis_frac, Q_DECIMALS).alias("ellipsis_frac"),
        F.round(alpha_frac, Q_DECIMALS).alias("alpha_frac"),
        F.col("n_req_stops").cast("long").alias("n_req_stops"),
        passes.alias("passes"),
        F.concat_ws(
            ",",
            *[
                F.when(~flag, F.lit(tag)).otherwise(F.lit(None))
                for tag, flag in rules
            ],
        ).alias("fail_reasons"),
    )


def gopher_filter_sql(
    table: str = "documents",
    docid: str = "doc_id",
    text: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_len: float = 3.0,
    max_mean_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    max_bullet_frac: float = 0.9,
    max_ellipsis_frac: float = 0.3,
    min_alpha_frac: float = 0.8,
    min_req_stops: int = 2,
) -> str:
    """DuckDB mirror of :func:`gopher_filter` (same raw-word/line
    definitions, same unrounded-flag / rounded-view split)."""
    stops_sum = " + ".join(
        "CASE WHEN list_contains(list_transform(words, w -> lower(w)), "
        f"'{s}') THEN 1 ELSE 0 END"
        for s in GOPHER_REQ_STOPS
    )
    rules = [
        ("words", f"(n_words >= {min_words} AND n_words <= {max_words})"),
        (
            "mean_len",
            f"(char_sum / n_words >= {min_mean_len} "
            f"AND char_sum / n_words <= {max_mean_len})",
        ),
        ("symbols", f"(n_symbols / n_words <= {max_symbol_ratio})"),
        ("bullets", f"(n_bullet / n_lines <= {max_bullet_frac})"),
        ("ellipsis", f"(n_ellipsis / n_lines <= {max_ellipsis_frac})"),
        ("alpha", f"(n_alpha::DOUBLE / n_words >= {min_alpha_frac})"),
        ("stops", f"(n_req_stops >= {min_req_stops})"),
    ]
    passes = " AND ".join(expr for _, expr in rules)
    reasons = ", ".join(
        f"CASE WHEN NOT {expr} THEN '{tag}' ELSE NULL END"
        for tag, expr in rules
    )
    return f"""
WITH base AS (
  SELECT {docid} AS docid,
         len(words)::BIGINT AS n_words,
         list_sum(list_transform(words, w -> length(w)))::BIGINT AS char_sum,
         ((length({text}) - length(replace({text}, '#', '')))
          + (length({text}) - length(replace({text}, '...', ''))) / 3.0)
           AS n_symbols,
         len(lines)::BIGINT AS n_lines,
         len(list_filter(lines,
             x -> substr(ltrim(x), 1, 1) IN ('-', '*', '•')))::BIGINT
           AS n_bullet,
         len(list_filter(lines,
             x -> ends_with(rtrim(x), '...') OR ends_with(rtrim(x), '…')
             ))::BIGINT AS n_ellipsis,
         len(list_filter(words,
             w -> regexp_matches(w, '[A-Za-z]')))::BIGINT AS n_alpha,
         ({stops_sum})::BIGINT AS n_req_stops
  FROM (
    SELECT {docid}, {text},
           list_filter(string_split_regex({text}, '\\s+'), w -> w <> '')
             AS words,
           list_filter(string_split({text}, chr(10)), x -> trim(x) <> '')
             AS lines
    FROM {table})
  WHERE len(words) > 0
)
SELECT docid, n_words,
       round(char_sum / n_words, 6) AS mean_word_len,
       round(n_symbols / n_words, 6) AS symbol_ratio,
       round(n_bullet / n_lines, 6) AS bullet_frac,
       round(n_ellipsis / n_lines, 6) AS ellipsis_frac,
       round(n_alpha::DOUBLE / n_words, 6) AS alpha_frac,
       n_req_stops,
       ({passes}) AS passes,
       coalesce(concat_ws(',', {reasons}), '') AS fail_reasons
FROM base
"""


# Stupid-backoff weight alpha = 0.4 (Brants et al. 2007), pre-quantized to
# integer micro-nats so the backoff branch stays in integer arithmetic:
# floor(ln(0.4) * 1e6). A Python-side constant — both engines see the same
# literal, no runtime float log.
SB_ALPHA_MICRO = -916291


def lm_bigram_table(
    df: DataFrame, docid: str = "doc_id", text: str = "text"
) -> DataFrame:
    """(term1, term2, c2, lp2_micro) — corpus bigram model with
    ``lp2 = ln(c(t1 t2) / c(t1))`` floor-quantized to integer micro-nats
    (same quantization contract as :func:`lm_logprob_table`).

    This is the seen-bigram half of stupid backoff (Brants et al. 2007,
    "Large Language Models in Machine Translation" — a scoring scheme
    designed precisely for distributed map-reduce LM estimation, which is
    why it is the scale-correct choice here: no normalization pass, no
    discount fitting, every quantity a count ratio). Unseen bigrams are
    NOT in the table — scoring backs off to ``alpha * p_uni(t2)``.

    Shape: one bigram-keyed agg (map-side combine) + one unigram-keyed
    agg + a co-partitioned join on ``term1``."""
    toks = df.select(tokens_col(text).alias("toks")).filter(
        F.size("toks") >= 2
    )
    pairs = toks.select(
        F.explode(
            F.zip_with(
                F.slice(F.col("toks"), 1, F.size("toks") - 1),
                F.slice(F.col("toks"), 2, F.size("toks") - 1),
                lambda a, b: F.struct(a.alias("term1"), b.alias("term2")),
            )
        ).alias("bg")
    ).select("bg.term1", "bg.term2")
    c2 = pairs.groupBy("term1", "term2").agg(F.count(F.lit(1)).alias("c2"))
    c1 = (
        df.select(F.explode(tokens_col(text)).alias("term1"))
        .groupBy("term1")
        .agg(F.count(F.lit(1)).alias("c1"))
    )
    return c2.join(c1, "term1").select(
        "term1",
        "term2",
        "c2",
        F.floor(F.log(F.col("c2") / F.col("c1")) * F.lit(LM_QUANT))
        .cast("long")
        .alias("lp2_micro"),
    )


def lm_score_bigram(
    df: DataFrame,
    docid: str = "doc_id",
    text: str = "text",
) -> DataFrame:
    """(docid, n_tokens, nats_micro, avg_nats) — per-document bigram
    stupid-backoff cross-entropy (Brants et al. 2007), the
    sequence-aware upgrade of :func:`lm_score`'s unigram filter: word
    salad with a plausible unigram mix scores well there but poorly here.

    Every token is scored: the document's first token by the add-one
    unigram model (:func:`lm_logprob_table`), each later token by
    ``ln(c(prev cur)/c(prev))`` when the bigram was seen, else
    ``ln(0.4) + lp_uni(cur)`` — all terms integer micro-nats, so the
    per-doc sum is associative and bit-identical across engines; the
    only floats are the per-DISTINCT-term/bigram quantizations.

    Shape: one docid-keyed window (lag) for the previous token, one
    broadcast join on the unigram vocab, one shuffle join on the bigram
    key, one docid-keyed agg."""
    uni = F.broadcast(
        lm_logprob_table(df, docid, text).select("term", "lp_micro")
    )
    bg = lm_bigram_table(df, docid, text).select(
        F.col("term1").alias("prev"),
        F.col("term2").alias("term"),
        "lp2_micro",
    )
    flat = df.select(
        F.col(docid).alias("docid"),
        F.posexplode(tokens_col(text)).alias("pos", "term"),
    )
    w = Window.partitionBy("docid").orderBy("pos")
    scored = (
        flat.withColumn("prev", F.lag("term").over(w))
        .join(uni, "term")
        .join(bg, ["prev", "term"], "left")
        .select(
            "docid",
            F.when(F.col("prev").isNull(), F.col("lp_micro"))
            .otherwise(
                F.coalesce(
                    "lp2_micro",
                    F.lit(SB_ALPHA_MICRO) + F.col("lp_micro"),
                )
            )
            .alias("lp"),
        )
    )
    return (
        scored.groupBy("docid")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("lp").alias("nats_micro"),
        )
        .select(
            "docid",
            "n_tokens",
            "nats_micro",
            # same exact-integer-division contract as lm_score
            (
                F.expr("(-nats_micro) div n_tokens").cast("double")
                / F.lit(float(LM_QUANT))
            ).alias("avg_nats"),
        )
    )


# PII patterns — deliberately restricted to syntax that Java regex (Spark)
# and RE2 (DuckDB) interpret identically: character classes, bounded
# quantifiers, \b word boundaries; no lookaround, no backreferences.
PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4_RE = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"
# Domestic NNN-NNN-NNNN plus international "+NNN ..." / "+CC NNN ..."
# forms. \b can never sit before '+' (no word boundary between a non-word
# char and '+'), so the left edge is an explicit capturing guard
# `(^|[^0-9A-Za-z_])` — identical to \b semantics for the digit branch
# (word chars are [0-9A-Za-z_]) and a REAL boundary for the '+' branch,
# so 'id9+215 555 0100' no longer redacts from the '+' (review finding).
# The guard CONSUMES one character; replacements restore it via the \1/$1
# backreference (engine-specific syntax — the pattern itself is shared).
PII_PHONE_RE = (
    r"(^|[^0-9A-Za-z_])"
    r"((?:\+(?:[0-9]{1,3}[ .-])?)?[0-9]{3}"
    r"[ .-][0-9]{3}[ .-][0-9]{4})\b"
)


def pii_scrub(
    df: DataFrame, docid: str = "doc_id", text: str = "text"
) -> DataFrame:
    """(docid, clean_text, n_emails, n_ips, n_phones) — PII redaction, a
    standard pre-training curation pass. Emails, IPv4 addresses, and
    NNN-NNN-NNNN / +CC-prefixed phone numbers are replaced by
    <EMAIL>/<IP>/<PHONE>
    tokens; counts are measured on the ORIGINAL text (so the three counts
    are independent of replacement order). Replacement runs email → ip →
    phone; the replacement tokens contain no digits, so a later pattern
    can never match inside an earlier redaction.

    All JVM regex built-ins (regexp_count / regexp_replace) — whole-stage
    codegen, no Python. At 100 TB this is a pure map stage: no shuffle,
    predicate/column pruning unaffected."""
    t = F.col(text)
    clean = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(t, PII_EMAIL_RE, "<EMAIL>"),
            PII_IPV4_RE,
            "<IP>",
        ),
        PII_PHONE_RE,
        "$1<PHONE>",  # $1 restores the consumed left-guard char
    )
    return df.select(
        F.col(docid).alias("docid"),
        clean.alias("clean_text"),
        F.regexp_count(t, F.lit(PII_EMAIL_RE)).cast("long").alias("n_emails"),
        F.regexp_count(t, F.lit(PII_IPV4_RE)).cast("long").alias("n_ips"),
        F.regexp_count(t, F.lit(PII_PHONE_RE)).cast("long").alias("n_phones"),
    )


# ---------------------------------------------------------------------------
# Term co-occurrence / PMI ("related searches")
# ---------------------------------------------------------------------------

def cooccur_pmi(
    docs: DataFrame,
    seed: str,
    min_df: int = 2,
    k: int = 20,
    docid: str = "doc_id",
    text: str = "text",
) -> DataFrame:
    """Top-k terms related to ``seed`` by document-level PMI.

    The "related searches" primitive: for every term t co-occurring with
    the seed term in at least one document,
    ``pmi = ln(N * c(seed,t) / (c(seed) * c(t)))`` over document-presence
    counts (tf ignored — presence, not frequency). Output
    (term, copair, df, pmi), pmi rounded to Q_DECIMALS, ordered
    (pmi desc, term asc), limited to k; terms with df < ``min_df`` are
    dropped (singleton terms always score the degenerate max).

    Scale shape: seed-anchored, never all-pairs — the presence list is
    semi-joined to the seed's posting (so the pair aggregation touches
    only documents containing the seed), corpus stats ride a broadcast
    1-row crossJoin, and both aggregations are hash-agg with map-side
    combine. At 10^12 docs the cost is O(tokens in seed-matching docs),
    the same asymptotic as one query-term index probe.
    """
    pres = docs.select(
        F.col(docid).alias("docid"),
        F.explode(F.array_distinct(tokens_col(text))).alias("term"),
    )
    df_t = pres.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    seed_docs = pres.filter(F.col("term") == seed).select("docid")
    joint = (
        pres.join(seed_docs, "docid")
        .filter(F.col("term") != seed)
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("copair"))
    )
    stats = docs.agg(
        F.count(F.lit(1)).alias("n_docs")
    ).crossJoin(
        df_t.filter(F.col("term") == seed).select(
            F.col("df").alias("c_seed")
        )
    )
    pmi = F.round(
        F.log(
            (F.col("n_docs").cast("double") * F.col("copair"))
            / (F.col("c_seed").cast("double") * F.col("df"))
        ),
        Q_DECIMALS,
    )
    return (
        joint.join(df_t, "term")
        .filter(F.col("df") >= min_df)
        .crossJoin(F.broadcast(stats))
        .select("term", "copair", "df", pmi.alias("pmi"))
        .orderBy(F.col("pmi").desc(), F.col("term").asc())
        .limit(k)
    )


def cooccur_pmi_sql(
    seed: str,
    min_df: int = 2,
    k: int = 20,
    table: str = "documents",
    docid: str = "doc_id",
    text: str = "text",
) -> str:
    """DuckDB mirror of :func:`cooccur_pmi` — same counts, same double
    expression order, same rounding and tie-break."""
    return f"""
WITH pres AS (
  SELECT DISTINCT {docid} AS docid, t.term
  FROM {table},
       LATERAL unnest(list_filter(
         string_split_regex(lower({text}), '[^a-z0-9]+'),
         x -> x <> '')) AS t(term)
),
dft AS (SELECT term, count(*) AS df FROM pres GROUP BY term),
seed_docs AS (SELECT docid FROM pres WHERE term = '{seed}'),
joint AS (
  SELECT term, count(*) AS copair
  FROM pres JOIN seed_docs USING (docid)
  WHERE term <> '{seed}'
  GROUP BY term
),
stats AS (
  SELECT (SELECT count(*) FROM {table}) AS n_docs,
         (SELECT df FROM dft WHERE term = '{seed}') AS c_seed
)
SELECT term, copair, df,
       round(ln((n_docs::DOUBLE * copair) / (c_seed::DOUBLE * df)),
             {Q_DECIMALS}) AS pmi
FROM joint JOIN dft USING (term) CROSS JOIN stats
WHERE df >= {min_df}
ORDER BY pmi DESC, term ASC
LIMIT {k}
"""
