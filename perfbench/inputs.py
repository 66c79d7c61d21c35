"""Seeded benchmark inputs: pages, deliveries, query and phrase streams.

Everything here is a pure function of (base page count, seed). Pages come
from ``corpus.page_record`` over a docid window chosen by the seed, so two
seeds index different documents drawn from the same distribution. The
engine only ever sees the generated parquet files and query strings.

Generated pages are cached per (workload, seed) under the work directory;
generating them is never part of a timed region or of ``setup_s``.
"""

from __future__ import annotations

import json
import multiprocessing
import os
import random
import shutil

from search_engine_spark.corpus import VOCAB, splitmix64
from search_engine_spark.oracle.text import STOPWORDS, tokenize

# Vocabulary rank ranges (corpus.VOCAB is Zipf-ranked). A term of rank
# 25-500 appears in roughly 20-100% of pages, so queries built from them
# make topk_wand take its bulk path (mean df >= 10% of docs); ranks
# 1500-6000 appear in 2-7% of pages and take the WAND path.
BROAD_RANKS = (25, 500)
SELECTIVE_RANKS = (1500, 6000)

DELIVERY_DOCS = 150   # pages per delivery file
DELIVERIES = 2        # set-up ingests delivery 0, the run times delivery 1
PHRASES = 8           # distinct phrases per run


def _arrow_schema():
    import pyarrow as pa

    # microsecond timestamps: Spark does not read parquet nanoseconds
    return pa.schema([
        ("url", pa.string()), ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()), ("text", pa.string()), ("lang", pa.string()),
    ])


def window_start(seed: int) -> int:
    """First docid of the seed's window (multiple of 100, so the corpus's
    every-100th duplicate pattern lines up the same way for every seed)."""
    return 1_000_000 + (splitmix64(seed) % 10_000_000) * 100


def _page_rows(first: int, count: int) -> list[dict]:
    from search_engine_spark.corpus import page_record

    return [page_record(d) for d in range(first, first + count)]


def _phrase_tokens(phrase: str) -> list[str]:
    return [t for t, _ in tokenize(phrase, stem=False, cap=None)]


def positions(text: str) -> dict[str, set[int]]:
    """term → positions, as the index stores them: tokenizer positions up to
    its default cap, each under its token and that token's Porter stem."""
    at: dict[str, set[int]] = {}
    for term, pos in tokenize(text):
        at.setdefault(term, set()).add(pos)
    return at


def contains_phrase(at: dict[str, set[int]], phrase: list[str]) -> bool:
    """Do the positions ``at`` hold the phrase's tokens adjacently?"""
    return any(
        all(p + j in at.get(t, ()) for j, t in enumerate(phrase[1:], 1))
        for p in at.get(phrase[0], ())
    )


def _write_chunk(args: tuple[int, int, str, list[str]]) -> dict:
    """Pool worker: write pages [first, first+count) to ``path``; return the
    facts the checks need: indexed docs and text bytes, every en url (the
    index's docid is the rank of the url among en pages) and, per phrase,
    the en urls whose text contains it."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    first, count, path, phrases = args
    rows = _page_rows(first, count)
    en = [r for r in rows if r["lang"] == "en"]
    tbl = pa.Table.from_pylist(rows, schema=_arrow_schema())
    tmp = path + ".tmp"
    pq.write_table(tbl, tmp)
    os.replace(tmp, path)
    toks = {p: _phrase_tokens(p) for p in phrases}
    at = [positions(r["text"]) for r in en] if phrases else []
    return {
        "en_docs_with_tokens": sum(
            1 for r in en if tokenize(r["text"], stem=False, cap=1)),
        "en_text_bytes": sum(len(r["text"].encode("utf-8")) for r in en),
        "en_urls": [r["url"] for r in en],
        "phrase_urls": {
            p: [r["url"] for r, a in zip(en, at) if contains_phrase(a, toks[p])]
            for p in phrases
        },
    }


def _phrase_from_page(first: int, count: int, rng: random.Random) -> str:
    """Three adjacent tokens of a seeded page, inside the indexed prefix."""
    while True:
        row = _page_rows(first + rng.randrange(count), 1)[0]
        if row["lang"] != "en":
            continue
        toks = [t for t, _ in tokenize(row["text"], stem=False)]
        if len(toks) < 40:
            continue
        i = rng.randrange(20, len(toks) - 3)
        return " ".join(toks[i : i + 3])


def _terms(rng: random.Random, ranks: tuple[int, int], n: int) -> list[str]:
    out: list[str] = []
    while len(out) < n:
        w = VOCAB[rng.randrange(*ranks)]
        if w not in STOPWORDS and w not in out:
            out.append(w)
    return out


def query_stream(seed: int, n: int) -> list[str]:
    """n distinct queries of 1-3 terms, alternately broad and selective,
    so any run of consecutive queries mixes the two top-k paths evenly."""
    rng = random.Random(f"queries-{seed}")
    out: list[str] = []
    seen: set[str] = set()
    while len(out) < n:
        ranks = BROAD_RANKS if len(out) % 2 == 0 else SELECTIVE_RANKS
        q = " ".join(_terms(rng, ranks, 1 + rng.randrange(3)))
        if q not in seen:
            seen.add(q)
            out.append(q)
    return out


def plan(base_docs: int, seed: int, n_queries: int) -> dict:
    """Docid windows, delivery order, queries and phrases for one run."""
    base_first = window_start(seed)
    deliv_first = base_first + base_docs
    order = list(range(DELIVERIES))
    random.Random(f"deliveries-{seed}").shuffle(order)
    rng = random.Random(f"phrases-{seed}")
    phrases = [
        _phrase_from_page(base_first, base_docs, rng)
        for _ in range(PHRASES)
    ]
    return {
        "seed": seed,
        "base": [base_first, base_docs],
        "deliveries": [
            [deliv_first + i * DELIVERY_DOCS, DELIVERY_DOCS] for i in order
        ],
        "queries": query_stream(seed, n_queries),
        "phrases": phrases,
    }


def materialize(base_docs: int, seed: int, n_queries: int, cache_dir: str,
                procs: int) -> dict:
    """Generate (or reuse) the run's inputs under ``cache_dir``.

    Layout: ``base/`` (parquet dir), ``deliveries/dNNN.parquet``
    and ``inputs.json`` (the plan plus per-file facts). inputs.json is
    written last, so its presence marks a complete cache entry."""
    meta_path = os.path.join(cache_dir, "inputs.json")
    if os.path.exists(meta_path):
        with open(meta_path) as fh:
            return json.load(fh)
    shutil.rmtree(cache_dir, ignore_errors=True)
    p = plan(base_docs, seed, n_queries)
    jobs: list[tuple[str, tuple[int, int, str, list[str]]]] = []
    chunk = 250
    first, count = p["base"]
    os.makedirs(os.path.join(cache_dir, "base"))
    for i, lo in enumerate(range(first, first + count, chunk)):
        n = min(chunk, first + count - lo)
        path = os.path.join(cache_dir, "base", f"part-{i:04d}.parquet")
        jobs.append(("base", (lo, n, path, p["phrases"])))
    os.makedirs(os.path.join(cache_dir, "deliveries"))
    for i, (first, count) in enumerate(p["deliveries"]):
        path = os.path.join(cache_dir, "deliveries", f"d{i:03d}.parquet")
        jobs.append((f"d{i}", (first, count, path, [])))
    # no Spark JVM runs yet, so forking is safe and skips re-imports
    with multiprocessing.get_context("fork").Pool(procs) as pool:
        facts = pool.map(_write_chunk, [a for _, a in jobs])
    sums: dict[str, dict] = {}
    for (key, _), f in zip(jobs, facts):
        acc = sums.setdefault(
            key, {"en_docs_with_tokens": 0, "en_text_bytes": 0,
                  "en_urls": [], "phrase_urls": {}})
        for k in ("en_docs_with_tokens", "en_text_bytes", "en_urls"):
            acc[k] += f[k]
        for ph, urls in f["phrase_urls"].items():
            acc["phrase_urls"].setdefault(ph, []).extend(urls)
    p["facts"] = sums
    tmp = meta_path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(p, fh)
    os.replace(tmp, meta_path)
    return p
