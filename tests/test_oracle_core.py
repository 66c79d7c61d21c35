"""Unit tests for the pinned pure-Python oracle: Porter stemmer, extractor,
tokenizer, posting codec, BM25 engine."""

from __future__ import annotations

import pytest

from search_engine_spark.functions.codec import (
    decode_block,
    encode_block,
    varint_decode,
    varint_encode,
)
from search_engine_spark.oracle import (
    OracleIndex,
    extract_text,
    porter_stem,
    tokenize,
    valid_word,
)

PORTER_VECTORS = {
    # examples from Porter (1980), "An algorithm for suffix stripping"
    "caresses": "caress", "ponies": "poni", "ties": "ti", "caress": "caress",
    "cats": "cat", "feed": "feed", "agreed": "agre", "plastered": "plaster",
    "bled": "bled", "motoring": "motor", "sing": "sing", "hopping": "hop",
    "tanned": "tan", "falling": "fall", "hissing": "hiss", "fizzed": "fizz",
    "failing": "fail", "filing": "file", "happy": "happi", "sky": "sky",
    "relational": "relat", "conditional": "condit", "rational": "ration",
    "valenci": "valenc", "digitizer": "digit", "operator": "oper",
    "feudalism": "feudal", "decisiveness": "decis", "hopefulness": "hope",
    "formaliti": "formal", "sensitiviti": "sensit", "sensibiliti": "sensibl",
    "triplicate": "triplic", "formative": "form", "formalize": "formal",
    "electriciti": "electr", "electrical": "electr", "hopeful": "hope",
    "goodness": "good", "revival": "reviv", "allowance": "allow",
    "inference": "infer", "airliner": "airlin", "gyroscopic": "gyroscop",
    "adjustable": "adjust", "defensible": "defens", "irritant": "irrit",
    "replacement": "replac", "adjustment": "adjust", "dependent": "depend",
    "adoption": "adopt", "communism": "commun", "activate": "activ",
    "angulariti": "angular", "homologous": "homolog", "effective": "effect",
    "bowdlerize": "bowdler", "probate": "probat", "rate": "rate",
    "cease": "ceas", "controll": "control", "roll": "roll",
    "generalizations": "gener", "oscillators": "oscil",
}


def test_porter_vectors():
    for w, want in PORTER_VECTORS.items():
        assert porter_stem(w) == want, (w, porter_stem(w), want)


def test_porter_short_words_unchanged():
    for w in ["a", "is", "be", "on"]:
        assert porter_stem(w) == w


def test_extract_text_basics():
    h = (
        b"<html><head><title>T</title><style>x{}</style>"
        b"<script>var q=1;</script></head><body><h1>Hi</h1>"
        b'<p class="a">fish &amp; chips # caf\xc3\xa9</p>'
        b'<a href="http://x">link</a></body></html>'
    )
    assert extract_text(h) == "T Hi fish & chips caf link"


def test_extract_text_truncation_and_determinism():
    h = b"<p>" + b"word " * 20000 + b"</p>"
    t1, t2 = extract_text(h), extract_text(h)
    assert t1 == t2
    assert len(t1) < 30_000


def test_valid_word():
    assert valid_word("abc") and valid_word("4th") and valid_word("$5")
    assert valid_word("%7")
    assert not valid_word("$%") and not valid_word("") and not valid_word("%")


def test_tokenize_dual_indexing_and_positions():
    toks = tokenize("Running fast, the runner ran")
    # running at pos 1 plus its stem run; 'the' kept (stopwords are
    # query-side only, reference indexes them)
    assert ("running", 1) in toks and ("run", 1) in toks
    assert ("fast", 2) in toks
    assert ("the", 3) in toks
    assert ("runner", 4) in toks and ("ran", 5) in toks


def test_tokenize_cap():
    text = " ".join(f"w{i}" for i in range(2000))
    toks = tokenize(text, stem=False)
    assert max(p for _, p in toks) == 1500


def test_varint_roundtrip():
    out = bytearray()
    vals = [0, 1, 127, 128, 300, 2**20, 2**35, 2**63 - 1]
    for v in vals:
        varint_encode(v, out)
    buf = bytes(out)
    off = 0
    got = []
    for _ in vals:
        v, off = varint_decode(buf, off)
        got.append(v)
    assert got == vals and off == len(buf)


def test_block_roundtrip():
    docids = [3, 7, 8, 100, 10_000_000]
    tfs = [1, 5, 2, 9, 1]
    dls = [10, 220, 1500, 7, 99]
    poss = [[1], [2, 9, 40], [], [7, 8], [1500]]
    blk = encode_block(docids, tfs, poss, dls)
    assert decode_block(blk) == (docids, tfs, dls, poss)


def test_block_rejects_unsorted():
    with pytest.raises(ValueError):
        encode_block([5, 5], [1, 1], None)


def test_oracle_bm25_basic():
    docs = {
        1: "the quick brown fox jumps over the lazy dog",
        2: "quick quick quick fox",
        3: "an entirely unrelated document about spark engines",
        4: "lazy dogs and lazy cats sleep",
    }
    idx = OracleIndex.build(docs)
    top = idx.topk("quick fox", k=10)
    assert top[0][0] == 2  # highest tf for both terms
    ids = [d for d, _ in top]
    assert 1 in ids and 3 not in ids
    # stemmed query matches dual-indexed stems
    top2 = idx.topk("jumping", k=10)
    assert [d for d, _ in top2] == [1]


def test_oracle_phrase():
    docs = {
        1: "alpha beta gamma",
        2: "beta alpha gamma",
        3: "alpha beta",
        4: "alpha gamma beta alpha beta delta",
    }
    idx = OracleIndex.build(docs, stem=False)
    assert idx.phrase_docs("alpha beta") == [1, 3, 4]
    assert idx.phrase_docs("beta gamma") == [1]
    assert idx.phrase_docs("gamma alpha") == []
