"""The driver top-k kernel (``query._topk_blocks``) on codec-encoded
synthetic blocks, no Spark: exact against a plain-Python BM25 sum, and
pruning at least half the blocks of two broad terms."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from search_engine_spark.functions.codec import encode_block_arrays
from search_engine_spark.operators import query as Q
from search_engine_spark.oracle.bm25 import B, K1, bm25_idf, bm25_term_score


def _encode(docids, tfs, dls, avgdl, block_size, scale=1.0):
    """One term's postings → blocks in the fetch format: (first_docid,
    last_docid, block_max, bytes), block_max idf-free as the indexer
    stores it, times ``scale`` (> 1 loosens the bound, as a merge does)."""
    docids = np.asarray(docids, dtype=np.int64)
    tfs = np.asarray(tfs, dtype=np.int64)
    dls = np.asarray(dls, dtype=np.int64)
    norm = tfs * (K1 + 1.0) / (tfs + K1 * (1.0 - B + B * dls / avgdl))
    out = []
    for s in range(0, len(docids), block_size):
        e = min(s + block_size, len(docids))
        blob = encode_block_arrays(docids[s:e], tfs[s:e], None, None, dls[s:e])
        out.append((int(docids[s]), int(docids[e - 1]),
                    float(norm[s:e].max()) * scale, blob))
    return out


@st.composite
def queries(draw):
    n_docs = draw(st.integers(1, 150))
    stride = draw(st.sampled_from([1, 7, 1_000_003]))
    # few distinct tf/dl values: many docs tie on their score
    dl = np.array(draw(st.lists(st.integers(1, 4), min_size=n_docs,
                                max_size=n_docs)))
    terms = []
    for _ in range(draw(st.integers(1, 4))):
        docs = sorted(draw(st.sets(st.integers(0, n_docs - 1), min_size=1,
                                   max_size=n_docs)))
        tfs = draw(st.lists(st.integers(1, 3), min_size=len(docs),
                            max_size=len(docs)))
        # 10_000: the whole posting list is one block
        size = draw(st.sampled_from([1, 2, 3, 8, 10_000]))
        terms.append((docs, tfs, size))
    scale = draw(st.sampled_from([1.0, 1.0, 1.3, 4.0]))
    k = draw(st.integers(1, 2 * n_docs))  # often more than the matches
    return n_docs, stride, dl, terms, scale, k


@settings(max_examples=300, deadline=None)
@given(queries())
def test_kernel_matches_python_bm25_sum(case):
    n_docs, stride, dl, terms, scale, k = case
    avgdl = float(dl.mean())
    blocks, idfs, scores = {}, {}, {}
    for ti, (docs, tfs, size) in enumerate(terms):
        name = f"t{ti}"
        docids = [d * stride for d in docs]
        idfs[name] = idf = bm25_idf(n_docs, len(docs))
        blocks[name] = _encode(docids, tfs, dl[docs], avgdl, size, scale)
        for d, tf, n_tok in zip(docids, tfs, dl[docs]):
            scores[d] = scores.get(d, 0.0) + bm25_term_score(
                tf, int(n_tok), avgdl, idf
            )
    want = sorted(
        ((d, round(s, Q.SCORE_ROUND)) for d, s in scores.items()),
        key=lambda x: (-x[1], x[0]),
    )[:k]
    got = Q._topk_blocks(blocks, idfs, avgdl, k)
    assert [d for d, _ in got] == [d for d, _ in want]
    for (_, gs), (_, ws) in zip(got, want):
        assert gs == pytest.approx(ws, abs=1e-9)


def test_two_broad_terms_decode_at_most_half_the_blocks(monkeypatch):
    """Two broad terms, 1.9M postings together (just under
    DRIVER_POSTINGS_MAX) over 2.1M docs: the kernel decodes at most half
    their blocks and returns the exhaustive top-k."""
    rng = np.random.default_rng(7)
    n = 2_100_000
    dl = rng.integers(20, 2000, n)
    avgdl = float(dl.mean())
    blocks, idfs = {}, {}
    exhaustive = np.zeros(n)
    for name, df in (("a", 1_000_000), ("b", 900_000)):
        docids = np.sort(rng.permutation(n)[:df])
        tfs = rng.geometric(0.4, df)
        idfs[name] = idf = bm25_idf(n, df)
        blocks[name] = _encode(docids, tfs, dl[docids], avgdl, 128)
        tf = tfs.astype(np.float64)
        exhaustive[docids] += (
            idf * tf * (K1 + 1.0)
            / (tf + K1 * (1.0 - B + B * dl[docids] / avgdl))
        )
    assert 1_900_000 <= Q.DRIVER_POSTINGS_MAX  # the driver path scores it

    decoded = []
    real_decode = Q.decode_block_np

    def counting(blob, *a, **kw):
        decoded.append(blob)
        return real_decode(blob, *a, **kw)

    monkeypatch.setattr(Q, "decode_block_np", counting)
    got = Q._topk_blocks(blocks, idfs, avgdl, 10)
    n_blocks = len(blocks["a"]) + len(blocks["b"])
    assert len(decoded) <= n_blocks // 2
    rounded = np.round(exhaustive, Q.SCORE_ROUND)
    top = np.lexsort((np.arange(n), -rounded))[:10]
    assert got == [(int(d), float(rounded[d])) for d in top]


def test_kernel_keeps_a_block_that_rounds_to_a_tie():
    """A block whose bound is below theta by less than SCORE_SLACK can
    hold a doc whose ROUNDED score ties theta; with the smaller docid it
    is the top-1. Twenty one-posting blocks of term a (docids 100-119,
    score 2.0) decode first and set theta = 2.0; term b's one doc scores
    2.0 - 3e-10, which rounds to 2.0."""
    avgdl = 10.0  # tf = 1, dl = avgdl: each partial is idf
    blocks = {
        "a": _encode(range(100, 120), [1] * 20, [10] * 20, avgdl, 1),
        "b": _encode([1], [1], [10], avgdl, 1),
    }
    idfs = {"a": 2.0, "b": 2.0 - 3e-10}
    assert Q._topk_blocks(blocks, idfs, avgdl, 1) == [(1, 2.0)]
