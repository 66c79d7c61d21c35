"""Hypothesis fuzz of the FULL index pipeline: random small corpora →
distributed build → distributed + driver top-k, compared rank- and
score-identically against the exhaustive Python oracle. The fixed-corpus
suite (test_index_query.py) pins one realistic corpus; this walks the
degenerate corners — empty/punctuation-only docs, single-token docs,
exact duplicates, stopword-only docs, heavy term collisions across a tiny
vocabulary (extreme df skew), stem/raw variants at the same position.

Docid contract under fuzz: the engine ranks urls over the lang subset, so
urls are emitted as u%05d in list order → docid == list index. Docs whose
text yields ZERO valid tokens never reach postings, so they are absent
from the engine's docs table and its N/avgdl — the oracle is built over
exactly the token-bearing docs to match (token-less pages still consume a
docid, which the test asserts too).
"""

from __future__ import annotations

import shutil
import tempfile

import pytest
from hypothesis import given, settings, strategies as st

from search_engine_spark.operators import query as Q
from search_engine_spark.operators.indexer import build_index
from search_engine_spark.oracle.bm25 import OracleIndex
from search_engine_spark.oracle.text import tokenize

# tiny vocabulary → heavy cross-doc term collisions, df skew, stem pairs
VOCAB = [
    "the", "and", "of",                 # stopwords
    "march", "marching", "marched",     # stem family
    "engine", "engines", "spark",
    "a1", "42", "x",
    "solemn", "solemnly",
    "zz",
]
SEPS = [" ", "  ", ", ", ". ", "-", "'s ", "\t"]

word = st.sampled_from(VOCAB)
doc_text = st.one_of(
    st.just(""),
    st.just("..."),
    st.builds(
        lambda ws, seps: "".join(
            w + s for w, s in zip(ws, seps + [" "] * len(ws))
        ),
        st.lists(word, max_size=40),
        st.lists(st.sampled_from(SEPS), max_size=40),
    ),
)


@settings(max_examples=5, deadline=None)
@given(st.lists(doc_text, min_size=1, max_size=25))
def test_random_corpus_build_query_parity(spark, texts):
    rows = [
        (f"u{i:05d}", "2024-01-01T00:00:00Z", "", t, "en")
        for i, t in enumerate(texts)
    ]
    pages = spark.createDataFrame(
        rows, "url string, warc_ts string, html string, text string, lang string"
    )
    out = tempfile.mkdtemp(prefix="fuzz_idx_")
    try:
        stats = build_index(pages, out, lang="en", stem=True, partitions=2)
        idx = Q.load_index(spark, out)
        # oracle over exactly the token-bearing docs (engine semantics)
        corpus = {
            i: t for i, t in enumerate(texts) if tokenize(t, stem=True)
        }
        assert stats["n_docs"] == len(corpus)
        oracle = OracleIndex.build(corpus, stem=True)
        for q in ("march engines", "solemn zz", "the and", "spark qqq",
                  "42 x"):
            want = oracle.topk(q, k=10)
            got = [
                (r["docid"], r["score"])
                for r in Q.topk_distributed(idx, q, k=10).collect()
            ]
            assert got == [
                (d, pytest.approx(s, abs=1e-9)) for d, s in want
            ], f"distributed mismatch for {q!r}: {got} vs {want}"
            wand = Q.topk_wand(idx, q, k=10)
            assert [(d, pytest.approx(s, abs=1e-9)) for d, s in want] == [
                (d, s) for d, s in wand
            ], f"wand mismatch for {q!r}"
    finally:
        shutil.rmtree(out, ignore_errors=True)
