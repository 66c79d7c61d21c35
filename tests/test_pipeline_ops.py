"""Tests for dedup / similarity / textstats / multimodal operators."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from search_engine_spark.functions.hashing import (
    md5_int32_py,
    md5_two_hash_py,
)
from search_engine_spark.operators import dedup as D
from search_engine_spark.operators import multimodal as M
from search_engine_spark.operators import similarity as S
from search_engine_spark.operators import textstats as TS


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy cat"),
        (2, "completely different content about spark engines"),
        (3, "the quick brown fox jumps over the lazy dog"),  # exact dup of 0
        (4, "der hund ist nicht mit der katze und der maus"),
        (5, "el gato que vive en la casa es un animal"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_contamination_and_decontaminate(spark, docs):
    """Probe doc 0 overlaps docs 1 and 3 heavily (shared 3-grams); doc 2
    shares none. decontaminate drops exactly the overlapping docs."""
    probes = docs.filter("doc_id = 0")
    corpus = docs.filter("doc_id != 0")
    hits = {(r["docid"], r["probe_id"]): r["n_shared"]
            for r in D.contamination(corpus, probes, n=3).collect()}
    assert hits[(3, 0)] == 7        # exact dup: all 7 3-grams shared
    assert hits[(1, 0)] == 6        # near dup: all but the last 3-gram
    assert (2, 0) not in hits
    clean = sorted(r["doc_id"]
                   for r in D.decontaminate(corpus, probes, n=3).collect())
    assert clean == [2, 4, 5]
    # thresholded variant keeps the near-dup if the bar is above its overlap
    loose = sorted(
        r["doc_id"]
        for r in D.decontaminate(corpus, probes, n=3, min_shared=7).collect()
    )
    assert loose == [1, 2, 4, 5]


def test_exact_dedup(spark, docs):
    groups = {
        r["keep_docid"]: r["n_dupes"]
        for r in D.exact_dedup_groups(docs).collect()
    }
    assert groups[0] == 2  # docs 0 and 3
    kept = sorted(r["doc_id"] for r in D.exact_dedup(docs).collect())
    assert kept == [0, 1, 2, 4, 5]


def test_shingles_and_jaccard(spark, docs):
    sh = {
        r["docid"]: r["cnt"]
        for r in D.shingles(docs)
        .groupBy("docid").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    assert sh[0] == 7  # 9 tokens → 7 trigrams, all distinct
    pairs = {(r["a"], r["b"]): r["jaccard"] for r in D.jaccard_pairs(docs, 0.3).collect()}
    assert (0, 3) in pairs and pairs[(0, 3)] == 1.0
    assert (0, 1) in pairs  # 6 of 8 union shingles shared
    assert all(j >= 0.3 for j in pairs.values())


def test_spark_sample_and_bernoulli(spark):
    """Flame #14: native seeded df.sample (statistical contract) and the
    deterministic hash-Bernoulli variant (exact contract)."""
    from search_engine_spark.functions.hashing import md5_int_py
    from search_engine_spark.operators import sampling as SMP

    df = spark.range(0, 20_000).withColumnRenamed("id", "doc_id")
    s = SMP.spark_sample(df, 0.3, seed=42)
    n = s.count()
    assert abs(n - 6000) < 400  # ±~6σ
    # seeded → reproducible within a session; subset of the input
    assert s.count() == n
    assert s.join(df, "doc_id", "left_anti").count() == 0

    b = SMP.bernoulli_sample(df, 0.25, seed=7, key="doc_id")
    got = sorted(r["doc_id"] for r in b.collect())
    want = [
        d for d in range(20_000)
        if md5_int_py(str(d), seed=7) % SMP.SCALE < 250_000
    ]
    assert got == want
    assert abs(len(got) - 5000) < 400


def test_shingles_short_docs(spark):
    """Docs with fewer than n tokens must yield NO shingles (not crash):
    sequence(0, size-n) runs downward when size < n and slice() then errors.
    Mirrors the DuckDB oracle, which emits nothing for short docs."""
    rows = [
        (0, ""),                # 0 tokens
        (1, "one"),             # 1 token
        (2, "just two"),        # 2 tokens  (< default n=3)
        (3, "exactly three tokens"),
        (4, "the quick brown fox jumps"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sh = {
        r["docid"]: r["cnt"]
        for r in D.shingles(docs)
        .groupBy("docid").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    assert 0 not in sh and 1 not in sh and 2 not in sh
    assert sh[3] == 1 and sh[4] == 3
    # downstream ops survive short docs too
    assert D.minhash_signatures(docs).count() == 2
    assert D.jaccard_pairs(docs, 0.01).count() == 0


def test_minhash_matches_python(spark, docs):
    sigs = {r["docid"]: r for r in D.minhash_signatures(docs).collect()}

    def py_sig(text, j):
        toks = text.split()
        sh = {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}
        return min(md5_two_hash_py(s, j) for s in sh)

    for did, text in [(0, "the quick brown fox jumps over the lazy dog")]:
        for j in range(8):
            assert sigs[did][f"mh{j}"] == py_sig(text, j)
    # exact duplicates share full signatures
    assert all(sigs[0][f"mh{j}"] == sigs[3][f"mh{j}"] for j in range(8))


def test_jaccard_prefix_equals_direct(spark, docs):
    """PPJoin prefix filtering is lossless: both candidate strategies must
    return identical (a, b, jaccard) sets at any threshold."""
    for t in (0.1, 0.3, 0.6):
        direct = {
            (r["a"], r["b"], r["jaccard"])
            for r in D.jaccard_pairs(docs, t, prefix_filter=False).collect()
        }
        pref = {
            (r["a"], r["b"], r["jaccard"])
            for r in D.jaccard_pairs(docs, t, prefix_filter=True).collect()
        }
        assert pref == direct


def test_jaccard_hot_shingle_fallback(spark, docs, monkeypatch):
    """Posting lists above HOT_SHINGLE_CUT route through the distributed
    self-join; forcing the cut to 1 sends EVERY shingle down the hot path
    and must not change results (the skew-split is lossless)."""
    want = {
        (r["a"], r["b"], r["jaccard"])
        for r in D.jaccard_pairs(docs, 0.1, prefix_filter=False).collect()
    }
    monkeypatch.setattr(D, "HOT_SHINGLE_CUT", 1)
    got = {
        (r["a"], r["b"], r["jaccard"])
        for r in D.jaccard_pairs(docs, 0.1, prefix_filter=False).collect()
    }
    assert got == want and len(want) >= 2


def test_lsh_finds_dup_pairs(spark, docs):
    out = {(r["a"], r["b"]) for r in D.minhash_dedup_pairs(docs, 0.5).collect()}
    assert (0, 3) in out
    exact = {(r["a"], r["b"]) for r in D.jaccard_pairs(docs, 0.5).collect()}
    assert out.issubset(exact)  # LSH+verify never invents pairs


def test_simhash_matches_python(spark, docs):
    got = {
        r["docid"]: (r["sim_lo"], r["sim_hi"])
        for r in D.simhash(docs).collect()
    }

    def py_simhash(text):
        from collections import Counter

        from search_engine_spark.functions.hashing import md5_int32_hi_py

        tf = Counter(text.split())
        bits = [0] * 64
        for term, n in tf.items():
            hlo, hhi = md5_int32_py(term), md5_int32_hi_py(term)
            for b in range(64):
                h = hlo if b < 32 else hhi
                bits[b] += n if (h >> (b % 32)) & 1 else -n
        lo = sum(1 << b for b in range(32) if bits[b] > 0)
        hi = sum(1 << (b - 32) for b in range(32, 64) if bits[b] > 0)
        return (lo, hi)

    for did, text in [
        (0, "the quick brown fox jumps over the lazy dog"),
        (2, "completely different content about spark engines"),
    ]:
        assert got[did] == py_simhash(text)
    assert got[0] == got[3]


def test_simhash_null_and_empty_text_dropped(spark):
    """NULL text must not crash the Arrow worker (split of NULL → None
    token array); null/empty docs are dropped exactly like the old
    explode-based plan dropped them."""
    df = spark.createDataFrame(
        [(0, "real content here"), (1, None), (2, ""), (3, "   ")],
        "doc_id long, text string",
    )
    got = {r["docid"] for r in D.simhash(df).collect()}
    assert got == {0}


def test_simhash_near_pairs(spark, docs):
    pairs = {(r["a"], r["b"]): r["hamming"] for r in
             D.simhash_near_pairs(docs, max_hamming=3).collect()}
    assert pairs.get((0, 3)) == 0


@pytest.fixture(scope="module")
def emb(spark):
    import numpy as np

    rng = np.random.default_rng(7)
    rows = []
    for i in range(60):
        v = rng.standard_normal(16)
        v = v / np.linalg.norm(v)
        rows.append((i, [float(x) for x in v]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_cosine_topk_exact(spark, emb):
    import numpy as np

    rows = {r["vec_id"]: r["embedding"] for r in emb.collect()}
    q = rows[0]
    got = [(r["vec_id"], r["cos"]) for r in
           S.cosine_topk(emb, q, k=5, exclude_self=0).collect()]
    sims = sorted(
        (
            (round(float(np.dot(np.array(v, dtype=np.float64), np.array(q, dtype=np.float64))
                   / (np.linalg.norm(np.array(v, dtype=np.float64)) * np.linalg.norm(np.array(q, dtype=np.float64)))), 6), i)
            for i, v in rows.items()
            if i != 0
        ),
        key=lambda t: (-t[0], t[1]),
    )
    want = [(i, c) for c, i in sims[:5]]
    assert [i for i, _ in got] == [i for i, _ in want]
    for (gi, gc), (wi, wc) in zip(got, want):
        assert gc == pytest.approx(wc, abs=2e-6)


def test_knn_join_ranks(spark, emb):
    out = S.knn_join(emb, [0, 1], k=3).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r["qid"], []).append((r["rank"], r["vec_id"], r["cos"]))
    assert set(by_q) == {0, 1}
    for q, rows in by_q.items():
        rows.sort()
        assert [r[0] for r in rows] == [1, 2, 3]
        assert all(rows[i][2] >= rows[i + 1][2] for i in range(len(rows) - 1))
        assert all(r[1] != q for r in rows)


def test_cosine_near_pairs_exact_and_lsh(spark, emb):
    """Exact near-pairs match a numpy oracle; the LSH-bucketed path is a
    subset with exact precision, and converges to full recall as the
    banding admits more signature hamming distance."""
    import numpy as np

    rows = {r["vec_id"]: np.array(r["embedding"], float) for r in emb.collect()}
    want = set()
    for a in rows:
        for b in rows:
            if a < b:
                c = float(rows[a] @ rows[b] / (np.linalg.norm(rows[a]) * np.linalg.norm(rows[b])))
                if round(c, 6) >= 0.3:
                    want.add((a, b))
    got = {(r["a"], r["b"]) for r in S.cosine_near_pairs(emb, 0.3).collect()}
    assert got == want and len(want) >= 3
    lsh = {
        (r["a"], r["b"])
        for r in S.cosine_near_pairs_lsh(
            emb, 0.3, dim=16, n_planes=6, max_hamming=2
        ).collect()
    }
    assert lsh <= got
    # max_hamming = n_planes - 1 → every pair shares a 1-bit band unless
    # signatures differ in ALL bits; recall is high (not total — a pair
    # can disagree on every hyperplane sign and still have cos ≥ t)
    full = {
        (r["a"], r["b"])
        for r in S.cosine_near_pairs_lsh(
            emb, 0.3, dim=16, n_planes=6, max_hamming=5
        ).collect()
    }
    assert lsh <= full <= got
    assert len(full) >= 0.8 * len(got)


def test_lsh_topk_subset_of_exact(spark, emb):
    rows = {r["vec_id"]: r["embedding"] for r in emb.collect()}
    q = [float(x) for x in rows[0]]
    approx = [r["vec_id"] for r in S.lsh_topk(emb, q, k=5, n_planes=4).collect()]
    # the query's own bucket contains vec 0 itself → rank-1 hit
    assert approx[0] == 0
    assert len(approx) == 5


def test_lsh_multiprobe_full_budget_equals_exact(spark, emb):
    """budget_frac=1.0 probes every bucket → the multi-probe result IS the
    exact top-k (same rounding, same tie-break): the probe planner only
    ever restricts the candidate set, never rescores."""
    rows = {r["vec_id"]: r["embedding"] for r in emb.collect()}
    q = [float(x) for x in rows[3]]
    got = [tuple(r) for r in
           S.lsh_topk_multiprobe(emb, q, k=7, budget_frac=1.0).collect()]
    want = [tuple(r) for r in S.cosine_topk(emb, q, k=7).collect()]
    assert got == want


def test_lsh_multiprobe_recall_floor_at_defaults(spark):
    """The DECLARED recall floor (similarity.py) at default settings on
    the gate embeddings table — the loud-failure guard the r4 verdict
    asked for: retuning n_planes/budget below this floor fails here."""
    import os

    path = "/root/testdata/sf0.01/embeddings.parquet"
    if not os.path.exists(path):
        pytest.skip("gate testdata not present")
    emb = spark.read.parquet(path)
    q = [float(x) for x in
         emb.filter(F.col("vec_id") == 0).collect()[0]["embedding"]]
    exact = {r["vec_id"] for r in S.cosine_topk(emb, q, k=10).collect()}
    got = {r["vec_id"]
           for r in S.lsh_topk_multiprobe(emb, q, k=10).collect()}
    recall = len(got & exact) / len(exact)
    assert recall >= S.LSH_MULTIPROBE_RECALL_FLOOR, (
        f"lsh multiprobe recall {recall} below declared floor "
        f"{S.LSH_MULTIPROBE_RECALL_FLOOR}"
    )


def test_lsh_multiprobe_respects_budget(spark, emb):
    """The probed population stays within one bucket of the requested
    budget: probing stops at the FIRST bucket that crosses it."""
    rows = {r["vec_id"]: r["embedding"] for r in emb.collect()}
    q = [float(x) for x in rows[0]]
    qsig, margins = S.multiprobe_query_plan(q, n_planes=8)
    sigs = S.lsh_signature_int(emb, 16, 8).collect()
    by_sig = {}
    for r in sigs:
        by_sig[r["sig"]] = by_sig.get(r["sig"], 0) + 1

    def flip_cost(sig):
        return sum(m for p, m in enumerate(margins) if (sig ^ qsig) >> p & 1)

    budget = 12  # < 60 vectors → a strict subset must be probed
    order = sorted(by_sig, key=lambda s: (flip_cost(s), s))
    probed, cum = [], 0
    for s in order:
        if cum >= budget:
            break
        probed.append(s)
        cum += by_sig[s]
    allowed = {r["vec_id"] for r in sigs if r["sig"] in set(probed)}
    got = {r["vec_id"] for r in S.lsh_topk_multiprobe(
        emb, q, k=60, min_candidates=budget, budget_frac=0.0).collect()}
    assert got == {v for v in allowed}  # exactly the planned buckets
    assert len(got) < 60


def test_ivf_probes_only_cells(spark, emb):
    rows = {r["vec_id"]: r["embedding"] for r in emb.collect()}
    pivots = [(i, [float(x) for x in rows[i]]) for i in range(4)]
    q = [float(x) for x in rows[0]]
    got = [r["vec_id"] for r in S.ivf_topk(emb, pivots, q, k=5, nprobe=2).collect()]
    assert got[0] == 0  # query vector itself in nearest cell
    assigned = S.ivf_assign(emb, pivots)
    n_cells = assigned.select("cell").distinct().count()
    assert 1 < n_cells <= 4


def test_ivf_assign_join_path_equals_inline(spark, emb, monkeypatch):
    """The broadcast-join argmax (used above IVF_CODEGEN_MAX_PIVOTS, where
    the inlined greatest-of-struct would blow up codegen) must assign the
    identical cells — including the lowest-cell-id tie-break — and feed
    kmeans_pivots identically."""
    rows = {r["vec_id"]: r["embedding"] for r in emb.collect()}
    pivots = [(i, [float(x) for x in rows[i]]) for i in range(6)]
    inline = {r["vec_id"]: r["cell"] for r in S.ivf_assign(emb, pivots).collect()}
    k_inline = S.kmeans_pivots(emb, k=4, iters=2)
    monkeypatch.setattr(S, "IVF_CODEGEN_MAX_PIVOTS", 1)
    joined = {r["vec_id"]: r["cell"] for r in S.ivf_assign(emb, pivots).collect()}
    assert inline == joined
    assert S.kmeans_pivots(emb, k=4, iters=2) == k_inline


def test_kmeans_pivots_deterministic_and_improving(spark, emb):
    """Lloyd's iterations are deterministic and do not worsen the spherical
    objective (mean max-cosine to the assigned pivot)."""
    p3a = S.kmeans_pivots(emb, k=4, iters=3)
    p3b = S.kmeans_pivots(emb, k=4, iters=3)
    assert p3a == p3b
    assert [cid for cid, _ in p3a] == [0, 1, 2, 3]

    def objective(pivots):
        best = None
        for _cid, pv in pivots:
            pc = F.array(*[F.lit(float(x)) for x in pv])
            c = S.cosine_col(F.col("embedding"), pc)
            best = c if best is None else F.greatest(best, c)
        return emb.select(F.avg(best).alias("o")).collect()[0]["o"]

    p1 = S.kmeans_pivots(emb, k=4, iters=1)
    assert objective(p3a) >= objective(p1) - 1e-6
    # trained pivots drive the IVF plan end-to-end
    rows = {r["vec_id"]: r["embedding"] for r in emb.collect()}
    q = [float(x) for x in rows[0]]
    got = [r["vec_id"] for r in S.ivf_topk(emb, p3a, q, k=5, nprobe=2).collect()]
    assert got[0] == 0 and len(got) == 5


def test_lang_id(spark, docs):
    got = {r["docid"]: r["pred_lang"] for r in TS.lang_id(docs).collect()}
    assert got[0] == "en" and got[4] == "de" and got[5] == "es"


def test_quality_monotonic(spark, docs):
    q = {r["docid"]: r["quality"] for r in TS.quality_score(docs).collect()}
    # repetitive stopword-heavy doc scores below diverse content doc
    assert q[2] > q[0]
    assert all(0.0 <= v <= 1.0 for v in q.values())


def test_token_counts_and_fingerprint(spark, docs):
    tc = {r["docid"]: (r["n_tokens"], r["n_unique"]) for r in TS.token_counts(docs).collect()}
    assert tc[0] == (9, 8)
    fp = {r["docid"]: r["fp"] for r in TS.fingerprint(docs).collect()}
    assert fp[0] == fp[3] and fp[0] != fp[1]


def test_zipcodes(spark):
    df = spark.createDataFrame(
        [(1, "call 00501 or 99950 not 00001 99999 x 1234 567890")],
        "doc_id long, text string",
    )
    got = sorted(r["zipcode"] for r in TS.zipcodes(df).collect())
    assert got == ["00501", "99950"]  # 99999 > 99950, 00001 < 00501 excluded
    assert "00001" not in got and "1234" not in got


# --- multimodal -------------------------------------------------------------

@pytest.fixture(scope="module")
def media(spark):
    return M.gen_media_df(spark, 30, partitions=4)


def test_decode_images(spark, media):
    out = {r["media_id"]: r for r in M.decode_images(media).collect()}
    metas = {r["media_id"]: r["meta"] for r in media.filter("kind='image'").collect()}
    assert set(out) == set(metas)
    for mid, r in out.items():
        assert (r["width"], r["height"]) == (metas[mid]["width"], metas[mid]["height"])
        assert 0.0 <= r["mean_px"] <= 255.0


def test_decode_rejects_unknown_format(spark):
    try:
        import PIL  # noqa: F401
    except ImportError:
        PIL = None
    if PIL is None:
        # no codec library: honest NotImplementedError at the seam
        with pytest.raises(NotImplementedError):
            M._decode_payload(b"\x89PNG....")
    else:  # pragma: no cover - container has no PIL; runs where it exists
        with pytest.raises(Exception):
            M._decode_payload(b"\x89PNG....")  # truncated PNG: PIL rejects


def _pil_or_skip():
    try:
        from PIL import Image
        return Image
    except ImportError:
        pytest.skip("Pillow not installed (optional codec seam)")


def test_pil_seam_decodes_real_png(spark):
    """Wherever Pillow exists, a REAL png round-trips through the same
    decode/resize plumbing the FIMG format uses."""
    Image = _pil_or_skip()
    import io

    import numpy as np

    arr = (np.arange(64, dtype=np.uint8).reshape(8, 8) * 3) % 256
    buf = io.BytesIO()
    Image.fromarray(arr, mode="L").save(buf, format="PNG")
    png = buf.getvalue()
    got = M._decode_payload(png)
    assert got.shape == (8, 8)
    assert (got == arr).all()

    media = spark.createDataFrame(
        [(1, 1, "image", bytearray(png),
          {"width": 8, "height": 8, "n_frames": 1, "sample_rate": 0,
           "codec": "png"})],
        M.MEDIA_SCHEMA,
    )
    dec = M.decode_images(media).collect()
    assert len(dec) == 1 and dec[0]["width"] == 8
    res = M.resize_images(media, 4, 4).collect()
    assert len(res) == 1 and len(bytes(res[0]["payload"])) == 12 + 16


def test_bmp_real_format_decodes_without_pil(spark):
    """The executed real-format sibling of the skip-marked PIL tests: a
    spec-complete 24-bpp uncompressed Windows BMP round-trips through the
    SAME decode/resize plumbing with NO image library — encoder and
    decoder meet only at the published file format. Covers bottom-up and
    top-down row order, row padding (odd widths), exact pixel equality,
    and the full DataFrame decode/resize path."""
    import numpy as np

    rng = np.random.default_rng(7)
    for w, h in [(8, 8), (5, 3), (7, 2)]:  # odd widths exercise padding
        arr = rng.integers(0, 256, size=(h, w), dtype=np.uint8)
        bmp = M.encode_bmp_gray(arr)
        assert bmp[:2] == b"BM"
        got = M._decode_payload(bmp)
        assert got.shape == (h, w) and (got == arr).all()
        # top-down variant: negate biHeight, rows in natural order
        import struct as _s

        stride = (w * 3 + 3) & ~3
        body = b"".join(
            np.repeat(arr[y], 3).tobytes().ljust(stride, b"\x00")
            for y in range(h)
        )
        td = bytearray(bmp[: 14 + 40] + body)
        _s.pack_into("<i", td, 22, -h)
        got_td = M._decode_payload(bytes(td))
        assert (got_td == arr).all()

    # color BMP: our luma must be the documented ITU-R 601-2 integer form
    color = bytearray(M.encode_bmp_gray(np.full((1, 1), 0, np.uint8)))
    color[14 + 40 : 14 + 40 + 3] = bytes([10, 200, 30])  # B,G,R
    assert M._decode_payload(bytes(color))[0, 0] == (
        (19595 * 30 + 38470 * 200 + 7471 * 10 + 0x8000) >> 16
    )

    # exotic flavor (8-bpp) falls through to the PIL seam honestly
    import pytest as _pt

    eight = bytearray(M.encode_bmp_gray(np.zeros((2, 2), np.uint8)))
    _s.pack_into("<H", eight, 28, 8)
    try:
        import PIL  # noqa: F401
        has_pil = True
    except ImportError:
        has_pil = False
    if not has_pil:
        with _pt.raises(NotImplementedError):
            M._decode_payload(bytes(eight))

    # DataFrame path: BMP payloads through decode_images + resize_images
    arr = ((np.arange(48).reshape(6, 8) * 5) % 256).astype(np.uint8)
    bmp = M.encode_bmp_gray(arr)
    media = spark.createDataFrame(
        [(1, 1, "image", bytearray(bmp),
          {"width": 8, "height": 6, "n_frames": 1, "sample_rate": 0,
           "codec": "bmp"})],
        M.MEDIA_SCHEMA,
    )
    dec = M.decode_images(media).collect()
    assert len(dec) == 1 and (dec[0]["width"], dec[0]["height"]) == (8, 6)
    assert dec[0]["mean_px"] == float(np.floor(arr.mean() * 1e6) / 1e6)
    res = M.resize_images(media, 4, 4).collect()
    assert len(res) == 1 and len(bytes(res[0]["payload"])) == 12 + 16


def test_wav_real_format_round_trip(spark):
    """The executed real-audio-format path: a spec-complete PCM16 mono
    RIFF/WAVE round-trips through the native chunk-walking decoder with
    NO audio library, and Python's stdlib ``wave`` module — an entirely
    independent implementation — reads the same bytes identically, so
    encoder and decoder meet only at the published file format. Also
    covers chunk skipping (odd-length LIST chunk with pad byte), the
    non-PCM seam, and garbage rejection."""
    import io
    import struct as _s
    import wave

    import numpy as np

    rng = np.random.default_rng(11)
    for n, rate in [(1, 8000), (64, 16000), (321, 44100)]:
        samples = rng.integers(-32768, 32768, size=n, dtype=np.int16)
        wav = M.encode_wav_pcm16(samples, rate)
        got_rate, got = M._decode_wav(wav)
        assert got_rate == rate and (got == samples).all()
        with wave.open(io.BytesIO(wav)) as wf:  # stdlib cross-check
            assert (wf.getnchannels(), wf.getsampwidth(),
                    wf.getframerate(), wf.getnframes()) == (1, 2, rate, n)
            assert wf.readframes(n) == samples.tobytes()

    # third-party WAVs carry metadata chunks: an odd-length LIST chunk
    # (pad byte per spec) before data must be skipped, not break parsing
    samples = rng.integers(-32768, 32768, size=7, dtype=np.int16)
    wav = M.encode_wav_pcm16(samples, 16000)
    fmt_end = 12 + 8 + 16
    extra = b"LIST" + _s.pack("<I", 5) + b"INFOx" + b"\x00"  # odd + pad
    patched = bytearray(wav[:fmt_end] + extra + wav[fmt_end:])
    _s.pack_into("<I", patched, 4, len(patched) - 8)
    got_rate, got = M._decode_wav(bytes(patched))
    assert got_rate == 16000 and (got == samples).all()

    # non-PCM16-mono (IEEE float fmt=3) hits the codec seam honestly
    floaty = bytearray(wav)
    _s.pack_into("<H", floaty, 20, 3)
    with pytest.raises(NotImplementedError):
        M._decode_wav(bytes(floaty))
    stereo = bytearray(wav)
    _s.pack_into("<H", stereo, 22, 2)
    with pytest.raises(NotImplementedError):
        M._decode_wav(bytes(stereo))
    with pytest.raises(ValueError):
        M._decode_wav(b"OggS" + b"\x00" * 40)
    with pytest.raises(ValueError):
        M._decode_wav(b"RIFF\x04\x00\x00\x00WAVE")  # no fmt/data


def test_y4m_real_format_round_trip(spark):
    """The executed real-video-format path: a spec-complete monochrome
    YUV4MPEG2 stream round-trips through the native container parser with
    NO video library — encoder and decoder meet only at the published
    format. Covers parameterized FRAME lines (per spec), the
    chroma-subsampled seam, the no-C-tag default, and truncation."""
    import struct as _s  # noqa: F401 - symmetry with sibling tests

    import numpy as np

    rng = np.random.default_rng(13)
    for nf, h, w in [(1, 3, 4), (5, 7, 5), (12, 2, 9)]:
        frames = rng.integers(0, 256, size=(nf, h, w), dtype=np.uint8)
        y4m = M.encode_y4m_gray(frames)
        assert y4m.startswith(b"YUV4MPEG2 ")
        got = M._decode_y4m(y4m)
        assert got.shape == (nf, h, w) and (got == frames).all()

    # per spec each FRAME line may carry its own parameters: still parses
    frames = rng.integers(0, 256, size=(2, 3, 4), dtype=np.uint8)
    y4m = M.encode_y4m_gray(frames)
    patched = y4m.replace(b"FRAME\n", b"FRAME Xsome-param\n", 1)
    got = M._decode_y4m(patched)
    assert (got == frames).all()

    # chroma-subsampled colourspace hits the codec seam honestly
    with pytest.raises(NotImplementedError):
        M._decode_y4m(y4m.replace(b"Cmono", b"C420jpeg"))
    # no C tag defaults to 420jpeg per spec: same seam
    with pytest.raises(NotImplementedError):
        M._decode_y4m(y4m.replace(b" Cmono", b""))
    with pytest.raises(ValueError):
        M._decode_y4m(b"\x00\x00\x00\x18ftypmp42" + b"\x00" * 32)  # mp4
    with pytest.raises(ValueError):
        M._decode_y4m(y4m[: len(y4m) - 3])  # truncated last frame


def test_decode_frames_df(spark):
    """decode_frames over media_from_docs matches the linear luma rule
    (the property the gate oracle mirrors in SQL), on video rows only,
    at the gate's every-4th-frame sampling."""
    import numpy as np

    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(20)], "doc_id long, text string"
    )
    media = M.media_from_docs(docs)
    out = {}
    for r in M.decode_frames(media, every_k=4).collect():
        out.setdefault(r["media_id"], {})[r["frame_idx"]] = r
    assert set(out) == {i for i in range(20) if i % 3 == 2}
    for did, by_frame in out.items():
        w, h, nf = 4 + did % 13, 3 + did % 7, 8 + did % 25
        assert sorted(by_frame) == list(range(0, nf, 4))
        for fi, r in by_frame.items():
            i = np.arange(w * h, dtype=np.int64)
            luma = (did * 31 + fi * 257 + i * 7) % 256
            assert (r["width"], r["height"]) == (w, h)
            assert r["sum_luma"] == int(luma.sum())
            assert r["max_luma"] == int(luma.max())


def test_decode_audio_df(spark):
    """decode_audio over media_from_docs matches the linear sample rule
    (the property the gate oracle mirrors in SQL), on audio rows only."""
    import numpy as np

    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(20)], "doc_id long, text string"
    )
    media = M.media_from_docs(docs)
    out = {r["media_id"]: r for r in M.decode_audio(media).collect()}
    assert set(out) == {i for i in range(20) if i % 3 == 1}
    for did, r in out.items():
        n = 64 + did % 101
        s = ((did * 131 + np.arange(n, dtype=np.int64) * 17) % 4096) - 2048
        assert r["sample_rate"] == 16000
        assert r["n_samples"] == n
        assert r["sum_amp"] == int(s.sum())
        assert r["max_amp"] == int(s.max())
        import hashlib

        assert r["sha1"] == hashlib.sha1(
            s.astype(np.int16).tobytes()
        ).hexdigest()


def test_pil_bmp_cross_check(spark):
    """Wherever Pillow exists, PIL's own decode of our encoded BMP equals
    the native decoder bit-for-bit (R=G=B content — every luma variant
    agrees there)."""
    Image = _pil_or_skip()
    import io

    import numpy as np

    arr = (np.arange(35, dtype=np.uint8).reshape(5, 7) * 11) % 256
    bmp = M.encode_bmp_gray(arr)
    with Image.open(io.BytesIO(bmp)) as im:
        pil = np.asarray(im.convert("L"), dtype=np.uint8)
    assert (pil == M._decode_bmp(bmp)).all()
    assert (pil == arr).all()


def test_resize_images(spark, media):
    out = M.resize_images(media, 4, 4).collect()
    assert all(r["width"] == 4 and r["height"] == 4 for r in out)
    assert all(len(bytes(r["payload"])) == 12 + 16 for r in out)


def test_extract_features_unit_norm(spark, media):
    import numpy as np

    out = M.extract_features(media, dim=16).collect()
    assert len(out) == 30
    for r in out:
        v = np.array(r["embedding"], dtype=np.float64)
        assert v.shape == (16,)
        assert abs(np.linalg.norm(v) - 1.0) < 1e-5


def test_media_from_docs_linear_rule(spark):
    """media_from_docs payloads decode to exactly the linear pixel rule
    (the property the gate oracle mirrors in SQL)."""
    import numpy as np

    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(20)], "doc_id long, text string"
    )
    media = M.media_from_docs(docs)
    out = {r["media_id"]: r for r in M.decode_images(media).collect()}
    assert set(out) == {i for i in range(20) if i % 3 == 0}
    for did, r in out.items():
        w, h = 4 + did % 13, 3 + did % 7
        assert (r["width"], r["height"]) == (w, h)
        idx = np.arange(w * h, dtype=np.int64)
        exp = float(((did * 31 + idx * 7) % 256).mean())
        assert r["mean_px"] == np.floor(exp * 1e6) / 1e6
    kinds = {r["media_id"]: r["kind"] for r in media.collect()}
    assert all(k == ("image", "audio", "video")[m % 3] for m, k in kinds.items())


def test_sample_frames(spark, media):
    vids = {r["media_id"]: r["meta"]["n_frames"] for r in media.filter("kind='video'").collect()}
    out = M.sample_frames(media, every_k=8).collect()
    by_m = {}
    for r in out:
        by_m.setdefault(r["media_id"], []).append(r["frame_idx"])
    assert set(by_m) == set(vids)
    for mid, idxs in by_m.items():
        assert idxs == list(range(0, vids[mid], 8))


def test_widen_small_input_noop_on_wide_input(spark):
    """widen_small_input must NOT insert a shuffle when the scan already
    has enough splits (the real-scale case)."""
    from search_engine_spark.session import widen_small_input

    df = spark.range(0, 1000, numPartitions=64)
    assert widen_small_input(df) is df
    narrow = spark.range(0, 1000, numPartitions=1)
    assert widen_small_input(narrow) is not narrow


def test_widen_small_input_light_skips_tiny_files(spark, tmp_path):
    """light=True: a tiny local single-file scan passes through unwidened
    (the exchange costs more than single-task tokenize saves); the same
    scan still widens under the default heavy policy."""
    from search_engine_spark.session import widen_small_input

    p = str(tmp_path / "tiny.parquet")
    spark.range(0, 100, numPartitions=1).write.parquet(p)
    scan = spark.read.parquet(p)
    assert widen_small_input(scan, light=True) is scan
    assert widen_small_input(scan) is not scan
    # non-file inputs (no stat-able size) keep the conservative behavior
    narrow = spark.range(0, 100, numPartitions=1)
    assert widen_small_input(narrow, light=True) is not narrow


def test_widen_small_input_sees_through_bin_packing(spark, tmp_path):
    """MANY tiny files can bin-pack into FEW scan partitions (when
    minPartitionNum/openCost are tuned, e.g. under the build's pinned
    maxPartitionBytes) — the many-files fast path must not mistake file
    count for parallelism: with a collapsed scan, widen still widens."""
    from search_engine_spark.session import widen_small_input

    p = str(tmp_path / "frag.parquet")
    spark.range(0, 1000).repartition(64).write.parquet(p)
    conf = spark.conf
    saved = {
        k: conf.get(k, None)
        for k in (
            "spark.sql.files.minPartitionNum",
            "spark.sql.files.openCostInBytes",
            "spark.sql.files.maxPartitionBytes",
        )
    }
    try:
        conf.set("spark.sql.files.minPartitionNum", "1")
        conf.set("spark.sql.files.openCostInBytes", "0")
        conf.set("spark.sql.files.maxPartitionBytes", str(1 << 40))
        scan = spark.read.parquet(p)
        assert len(scan.inputFiles()) >= 32
        packed = scan.rdd.getNumPartitions()
        assert packed * 2 < spark.sparkContext.defaultParallelism
        out = widen_small_input(scan)
        assert out is not scan
        assert (
            out.rdd.getNumPartitions()
            == spark.sparkContext.defaultParallelism
        )
    finally:
        for k, v in saved.items():
            if v is None:
                conf.unset(k)
            else:
                conf.set(k, v)


def test_asof_join_semantics(spark):
    """<= inclusivity, no-prior-match nulls, and greatest-tiebreak on
    timestamp ties."""
    from search_engine_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, 10, 100), (2, 10, 200), (3, 10, 50), (4, 99, 150)],
        "event_id long, user_id long, ts long",
    )
    right = spark.createDataFrame(
        [(101, 10, 100, 1.0),   # ties left event 1 exactly → inclusive
         (102, 10, 100, 2.0),   # same instant, higher id → wins tie
         (103, 10, 150, 3.0),
         (104, 77, 1, 9.9)],    # other user
        "event_id long, user_id long, ts long, value double",
    )
    out = {
        r["event_id"]: (r["r_event_id"], r["r_value"])
        for r in asof_join(left, right, on="ts", by="user_id").collect()
    }
    assert out[1] == (102, 2.0)      # <= match at the same instant, max id
    assert out[2] == (103, 3.0)      # latest at-or-before 200
    assert out[3] == (None, None)    # nothing at-or-before 50
    assert out[4] == (None, None)    # user with no right rows


def test_range_join_semantics(spark):
    """Containment matches across bucket boundaries, multi-interval
    overlap fan-out, and inclusive endpoints."""
    from search_engine_spark.operators.asof import range_join

    left = spark.createDataFrame(
        [(1, 10, 100), (2, 10, 7200), (3, 10, 50_000), (4, 20, 100)],
        "event_id long, user_id long, ts long",
    )
    right = spark.createDataFrame(
        # (sid, user, start, end): B spans many buckets; A/B overlap at 7200
        [(900, 10, 0, 7200), (901, 10, 7200, 40_000), (902, 20, 90, 110)],
        "session_id long, user_id long, start_ts long, end_ts long",
    )
    out = {}
    rows = range_join(
        left, right, on="ts", start="start_ts", end="end_ts",
        by="user_id", bucket_seconds=3600,
    ).collect()
    for r in rows:
        out.setdefault(r["event_id"], set()).add(r["r_session_id"])
    assert out[1] == {900}
    assert out[2] == {900, 901}      # inclusive both ends → both intervals
    assert 3 not in out              # 50k outside every interval
    assert out[4] == {902}


def test_stratified_sample(spark):
    """Per-stratum fractions honored exactly (deterministic keep rule);
    native df.sampleBy verified statistically."""
    from search_engine_spark.functions.hashing import md5_int_py
    from search_engine_spark.operators import sampling as SMP

    df = spark.createDataFrame(
        [(i, ("en", "de", "zh", "fr")[i % 4]) for i in range(8000)],
        "doc_id long, lang string",
    )
    frac = {"en": 0.5, "de": 1.0}
    got = sorted(
        (r["doc_id"], r["lang"])
        for r in SMP.stratified_sample(df, frac, 3, "doc_id", "lang").collect()
    )
    want = sorted(
        (i, lang)
        for i, lang in ((i, ("en", "de", "zh", "fr")[i % 4]) for i in range(8000))
        if lang in frac
        and md5_int_py(str(i), seed=3) % SMP.SCALE < frac[lang] * SMP.SCALE
    )
    assert got == want
    assert {l for _, l in got} == {"en", "de"}  # zh/fr dropped entirely
    s = df.sampleBy("lang", fractions={"en": 0.5, "de": 1.0}, seed=42)
    by_lang = {r["lang"]: r["count"] for r in s.groupBy("lang").count().collect()}
    assert abs(by_lang["en"] - 1000) < 150 and by_lang["de"] == 2000


def test_connected_components_transitive_chains(spark):
    """Min-label propagation closes transitive chains (multi-iteration)
    and keeps separate components apart."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5),   # chain: needs >1 round
         (10, 11), (11, 12),
         (20, 21)],
        "a long, b long",
    )
    for algo in ("star", "label"):
        got = {r["docid"]: r["cluster"]
               for r in D.connected_components(pairs, algorithm=algo).collect()}
        assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1,
                       10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_connected_components_long_chain_star(spark):
    """A 60-link chain: label propagation needs O(diameter)=60 rounds and
    must RAISE at a 10-round budget (r2 silently returned partial labels);
    the large-star/small-star path converges in O(log n) rounds."""
    n = 61
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "a long, b long"
    )
    got = {r["docid"]: r["cluster"]
           for r in D.connected_components(pairs, max_iter=10).collect()}
    assert got == {i: 0 for i in range(n)}
    with pytest.raises(RuntimeError, match="did not converge"):
        D.connected_components(pairs, max_iter=10, algorithm="label")


def test_connected_components_star_equals_label_random(spark):
    """Property: both algorithms agree on a pseudo-random multi-component
    graph (deterministic edge rule)."""
    edges = [((i * 7919) % 200, (i * 104729 + 13) % 200) for i in range(90)]
    edges = [(a, b) for a, b in edges if a != b]
    pairs = spark.createDataFrame(edges, "a long, b long")
    star = {r["docid"]: r["cluster"]
            for r in D.connected_components(pairs, algorithm="star").collect()}
    label = {r["docid"]: r["cluster"]
             for r in D.connected_components(pairs, algorithm="label").collect()}
    assert star == label


def test_dedup_clusters_singletons_and_dups(spark, docs):
    got = {r["docid"]: r["cluster"]
           for r in D.dedup_clusters(docs, threshold=0.5).collect()}
    assert got[3] == 0 and got[0] == 0        # exact dups cluster to min id
    assert all(got[d] == d for d in (2, 4, 5))  # singletons self-cluster


def test_repetition_stats_crafted(spark):
    """'a b a b a b': 5 bigrams {ab×3, ba×2} → dup 0.6, top 2·3/6 = 1.0;
    4 trigrams {aba×2, bab×2} → dup 0.5. Short docs are excluded."""
    df = spark.createDataFrame(
        [(1, "a b a b a b"), (2, "one two three four"), (3, "solo")],
        "doc_id long, text string",
    )
    got = {r["docid"]: r.asDict() for r in TS.repetition_stats(df).collect()}
    r1 = got[1]
    assert (r1["n_tokens"], r1["n_bigrams"], r1["n_distinct_bigrams"],
            r1["top_bigram_count"]) == (6, 5, 2, 3)
    assert r1["dup_bigram_frac"] == pytest.approx(0.6, abs=1e-6)
    assert r1["top_bigram_frac"] == pytest.approx(1.0, abs=1e-6)
    assert r1["dup_trigram_frac"] == pytest.approx(0.5, abs=1e-6)
    r2 = got[2]  # all bigrams/trigrams distinct → zero repetition
    assert r2["dup_bigram_frac"] == 0.0 and r2["dup_trigram_frac"] == 0.0
    assert 3 not in got  # one token: no bigram signal defined


def test_pii_scrub_hits_and_passthrough(spark):
    df = spark.createDataFrame(
        [
            (1, "mail a.b+c@ex-ample.org or x@y.io, ip 10.0.255.3, "
                "tel +1 555 123 4567 and 555-123-4567"),
            (2, "no pii here: version 1.2 at 3pm, a@b (not an email)"),
        ],
        "doc_id long, text string",
    )
    got = {r["docid"]: r.asDict() for r in TS.pii_scrub(df).collect()}
    r1 = got[1]
    assert (r1["n_emails"], r1["n_ips"], r1["n_phones"]) == (2, 1, 2)
    assert "<EMAIL>" in r1["clean_text"] and "<IP>" in r1["clean_text"]
    assert "@" not in r1["clean_text"]
    assert "555" not in r1["clean_text"]
    r2 = got[2]  # clean doc: byte-identical pass-through, zero counts
    assert r2["clean_text"] == "no pii here: version 1.2 at 3pm, a@b (not an email)"
    assert (r2["n_emails"], r2["n_ips"], r2["n_phones"]) == (0, 0, 0)


def test_pii_phone_international_plus_consumed(spark):
    """The '+' of international forms is consumed by the redaction (the
    old \\b\\+? could never match it — '+215 555 0100' scrubbed to
    '+<PHONE>'), and digit runs never match mid-number."""
    df = spark.createDataFrame(
        [
            (1, "call +215 555 0100 ok"),
            (2, "cc +1 215 555 0100 end"),
            (3, "id 12345-678-9012 is not a phone"),
            (4, "id9+215 555 0100 glued"),  # word char before '+': no match
            (5, "+215 555 0100 at start"),  # '^' guard branch
            (6, "see (+215 555 0100) wrapped"),  # punct guard restored
        ],
        "doc_id long, text string",
    )
    got = {r["docid"]: r.asDict() for r in TS.pii_scrub(df).collect()}
    assert got[1]["clean_text"] == "call <PHONE> ok"
    assert got[2]["clean_text"] == "cc <PHONE> end"
    assert got[1]["n_phones"] == 1 and got[2]["n_phones"] == 1
    assert got[3]["clean_text"] == "id 12345-678-9012 is not a phone"
    assert got[3]["n_phones"] == 0
    # left-guard (review finding): a word char glued to '+' means the '+'
    # is NOT an international prefix — it survives as the boundary char
    # and only the domestic number redacts (old code ate the '+' too)
    assert got[4]["clean_text"] == "id9+<PHONE> glued"
    assert got[4]["n_phones"] == 1
    assert got[5]["clean_text"] == "<PHONE> at start"
    assert got[6]["clean_text"] == "see (<PHONE>) wrapped"


def test_split_assign_deterministic_and_stable(spark):
    import search_engine_spark.operators.sampling as SMP

    w = {"train": 0.8, "val": 0.1, "test": 0.1}
    ids = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
    a = {r["doc_id"]: r["split"]
         for r in SMP.split_assign(ids, "doc_id", w).collect()}
    # repartitioning must not change any assignment (unlike randomSplit)
    b = {r["doc_id"]: r["split"]
         for r in SMP.split_assign(ids.repartition(7), "doc_id", w).collect()}
    assert a == b
    # append-stable: assignments on a subset equal those on the full set
    sub = {r["doc_id"]: r["split"] for r in SMP.split_assign(
        ids.filter("doc_id < 100"), "doc_id", w).collect()}
    assert all(a[k] == v for k, v in sub.items())
    # weights roughly respected and every row assigned to a known split
    from collections import Counter
    c = Counter(a.values())
    assert set(c) == {"train", "val", "test"} and sum(c.values()) == 2000
    assert 0.75 <= c["train"] / 2000 <= 0.85
    # bad weights rejected
    with pytest.raises(ValueError):
        SMP.split_assign(ids, "doc_id", {"a": 0.5, "b": 0.4})


def test_canonical_url_crafted(spark):
    """Crawler-grade canonicalization branch coverage: case-normalized
    scheme+authority (path case preserved), fragment dropped, scheme-
    matched default ports dropped (non-default ports kept), one trailing
    slash dropped, userinfo untouched, schemeless passthrough."""
    import search_engine_spark.operators.urls as U

    cases = [
        ("HTTPS://WWW.Ex.COM:443/A/b?Q=1#frag", "https://www.ex.com/A/b?Q=1"),
        ("http://Ex.com:80/", "http://ex.com"),
        ("http://ex.com:8080/p", "http://ex.com:8080/p"),   # non-default kept
        ("https://ex.com:80/p", "https://ex.com:80/p"),     # mismatched kept
        ("http://u:p@Host.NET/Path", "http://u:p@host.net/Path"),
        ("http://ex.com", "http://ex.com"),
        ("no-scheme/Path/", "no-scheme/Path"),
        # a slash ending a QUERY value is data, not path decoration:
        # stripping it would alias distinct resources (review finding)
        ("http://ex.com/redirect?to=/", "http://ex.com/redirect?to=/"),
        ("http://ex.com/p?q=a/", "http://ex.com/p?q=a/"),
        ("http://ex.com/p/?q=1", "http://ex.com/p/?q=1"),
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "url string")
    got = [r[0] for r in df.select(U.canonical_url("url")).collect()]
    assert got == [want for _, want in cases]
    # DuckDB mirror agrees on every case
    import duckdb

    con = duckdb.connect()
    for raw, want in cases:
        out = con.execute(
            f"SELECT {U.canonical_url_sql('u')} FROM (SELECT ? AS u)", [raw]
        ).fetchone()[0]
        assert out == want, (raw, out, want)


def test_url_host_and_domain(spark):
    import search_engine_spark.operators.urls as U

    cases = [
        ("https://a.b.Example.CO/x", "a.b.example.co", "example.co"),
        ("http://u@WWW.site.ORG:8080/", "www.site.org", "site.org"),
        ("http://localhost/x", "localhost", "localhost"),
        ("not-a-url", "", ""),
    ]
    df = spark.createDataFrame([(u,) for u, _, _ in cases], "url string")
    got = df.select(
        U.url_host("url").alias("h"), U.registered_domain("url").alias("d")
    ).collect()
    assert [(r["h"], r["d"]) for r in got] == [
        (h, d) for _, h, d in cases
    ]


def test_url_dedup_and_domain_stats(spark):
    import search_engine_spark.operators.urls as U

    df = spark.createDataFrame(
        [
            (1, "http://A.com/x#f", "short text", "en"),
            (2, "HTTP://a.com:80/x/", "other words", "en"),   # same canon as 1
            (3, "https://b.a.com/x", "more text here", "de"),
            (4, "https://c.org/y", "zz", "en"),
        ],
        "doc_id long, url string, text string, lang string",
    )
    kept = {r["docid"]: r["canonical_url"] for r in U.url_dedup(df).collect()}
    assert kept == {
        1: "http://a.com/x",
        3: "https://b.a.com/x",
        4: "https://c.org/y",
    }
    stats = {r["domain"]: r.asDict() for r in U.domain_stats(df).collect()}
    assert stats["a.com"]["n_docs"] == 3
    assert stats["a.com"]["n_hosts"] == 2      # a.com + b.a.com
    assert stats["a.com"]["n_langs"] == 2
    assert stats["c.org"]["n_docs"] == 1


def test_simhash_gather_chunking_exact(spark, docs):
    """gather_chunk=1 forces every document into its own reduceat slice
    (the memory-bounded multi-chunk path); signatures must be
    bit-identical to the default single-slice path."""
    want = {tuple(r) for r in D.simhash(docs).collect()}
    got = {tuple(r) for r in D.simhash(docs, gather_chunk=1).collect()}
    assert got == want and len(got) == 6


def test_lm_score_semantics(spark):
    # 9 docs of a common token, 1 doc of a rare one: the common-token docs
    # must carry lower cross-entropy, and the exact value is checkable by
    # hand from the add-one-smoothed unigram model.
    rows = [(i, "common common common") for i in range(9)] + [(9, "rare")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["docid"]: r for r in TS.lm_score(df).collect()}
    assert len(out) == 10
    n, v = 28, 2  # 9*3 + 1 tokens, 2 terms
    lp_common = math.floor(math.log((27 + 1) / (n + v)) * 1e6)
    lp_rare = math.floor(math.log((1 + 1) / (n + v)) * 1e6)
    assert out[0]["nats_micro"] == 3 * lp_common
    assert out[9]["nats_micro"] == lp_rare
    assert out[0]["avg_nats"] < out[9]["avg_nats"]
    assert out[0]["n_tokens"] == 3 and out[9]["n_tokens"] == 1


def test_lm_score_external_model(spark):
    # scoring corpus B under model(A): shared terms score, OOV terms drop
    # out of the inner join (documented contract)
    a = spark.createDataFrame(
        [(0, "alpha alpha beta")], "doc_id long, text string"
    )
    b = spark.createDataFrame(
        [(0, "alpha unseen")], "doc_id long, text string"
    )
    lm = TS.lm_logprob_table(a)
    out = TS.lm_score(b, lm=lm).collect()
    assert len(out) == 1 and out[0]["n_tokens"] == 1  # 'unseen' dropped


def test_spell_suggest_ranking_and_exact_hits(spark):
    """Did-you-mean contract: misspellings rank candidates
    (dist asc, df desc, term asc); an in-vocabulary token returns ONLY
    itself at dist 0; a token with nothing within max_dist returns no
    rows; k truncates per qterm."""
    vocab = spark.createDataFrame(
        [("table", 100), ("cable", 90), ("tale", 80), ("label", 70),
         ("spark", 60), ("sparse", 10), ("window", 50)],
        "term string, df long",
    )
    got = TS.spell_suggest(vocab, "tabel spark zzzzzzz", k=3).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["qterm"], []).append(
            (r["suggestion"], r["dist"], r["df"])
        )
    for q in by_q:  # rows come back unordered; rank = the sort contract
        by_q[q].sort(key=lambda x: (x[1], -x[2], x[0]))
    # tabel: label is ONE substitution away (t→l); table/tale are dist 2;
    # cable is dist 3 (excluded). dist-2 ties break by df desc.
    assert [s for s, _d, _f in by_q["tabel"]] == ["label", "table", "tale"]
    assert by_q["tabel"][0][1] == 1
    # spark is in-vocabulary: only itself, dist 0 (sparse NOT suggested)
    assert by_q["spark"] == [("spark", 0, 60)]
    # nothing within 2 edits of zzzzzzz
    assert "zzzzzzz" not in by_q

    # DuckDB mirror parity on the same vocabulary
    import duckdb

    sql = TS.spell_suggest_sql(
        "tabel spark zzzzzzz", k=3,
        terms_sql="SELECT * FROM (VALUES ('table', 100), ('cable', 90), "
                  "('tale', 80), ('label', 70), ('spark', 60), "
                  "('sparse', 10), ('window', 50)) AS v(term, df)",
    )
    mirror = sorted(tuple(r) for r in duckdb.sql(sql).fetchall())
    assert mirror == sorted(
        (r["qterm"], r["suggestion"], r["dist"], r["df"]) for r in got
    )


def test_spell_symspell_parity_with_brute_scan(spark):
    """SymSpell deletes-index path ≡ brute length-window scan on the same
    vocabulary and queries — including dist-2 suggestions, the exact-hit
    short-circuit, k-truncation ties, and a no-candidate qterm. Also
    checks the index fan-out bound (1 + L + L(L-1)/2 per term)."""
    rows = [("table", 100), ("cable", 90), ("tale", 80), ("label", 70),
            ("spark", 60), ("sparse", 10), ("window", 50), ("stark", 55),
            ("shark", 55), ("widow", 20), ("win", 15), ("windows", 45)]
    vocab = spark.createDataFrame(rows, "term string, df long")
    deletes = spark.createDataFrame(
        TS.spell_deletes_index(vocab, max_dist=2).collect(),
        "suggestion string, df long, variant string",
    )  # materialized once, reused — the precompute-once contract
    # per-term fan-out never exceeds the closed form
    import collections
    fan = collections.Counter(
        r["suggestion"] for r in deletes.collect()
    )
    for t, _df in rows:
        L = len(t)
        assert fan[t] <= 1 + L + L * (L - 1) // 2
    for query, k in [
        ("tabel spark zzzzzzz", 3),   # dist-1/2 mix + exact + no-hit
        ("window wark", 4),           # deletion-shaped typo + dist-2 fan
        ("win widow", 2),             # two exact hits (short-circuit)
    ]:
        brute = sorted(
            tuple(r)
            for r in TS.spell_suggest(vocab, query, k=k, max_dist=2).collect()
        )
        sym = sorted(
            tuple(r)
            for r in TS.spell_suggest_symspell(
                deletes, query, k=k, max_dist=2
            ).collect()
        )
        assert sym == brute, f"{query}: {sym} != {brute}"


def test_paragraph_dedup_first_occurrence_wins(spark):
    """Corpus-wide paragraph dedup: a repeated paragraph survives only at
    its first (docid, idx) occurrence; docs reassemble in order; docs with
    zero survivors come back empty, not missing; counts are exact."""
    rows = [
        (0, "alpha beta\n\nshared boiler plate\n\ngamma"),
        (1, "shared boiler plate\n\ndelta"),       # para 0 is a repeat
        (2, "shared boiler plate"),                # ALL paragraphs repeats
        (3, "alpha beta\n\n\n\nalpha beta"),       # intra-doc repeat + run
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["docid"]: r.asDict() for r in D.paragraph_dedup(docs).collect()}
    assert got[0]["clean_text"] == "alpha beta\n\nshared boiler plate\n\ngamma"
    assert (got[0]["n_paras"], got[0]["n_kept"]) == (3, 3)
    assert got[1]["clean_text"] == "delta"
    assert (got[1]["n_paras"], got[1]["n_kept"]) == (2, 1)
    assert got[2]["clean_text"] == "" and got[2]["n_kept"] == 0
    # doc 0 already claimed "alpha beta"; doc 3's two copies both drop...
    # no: doc 0 IS the first occurrence, so doc 3 keeps nothing of it
    assert got[3]["clean_text"] == "" and got[3]["n_kept"] == 0
    assert got[3]["n_paras"] == 2  # the \n\n\n\n run is ONE separator

    # DuckDB mirror parity on the same table
    import duckdb

    con = duckdb.connect()
    con.register("pdocs", __import__("pandas").DataFrame(
        rows, columns=["doc_id", "text"]
    ))
    sql = D.paragraph_dedup_sql("SELECT doc_id, text FROM pdocs")
    mirror = sorted(tuple(r) for r in con.execute(sql).fetchall())
    assert mirror == sorted(
        (r["docid"], r["clean_text"], r["n_paras"], r["n_kept"])
        for r in D.paragraph_dedup(docs).collect()
    )


def test_paragraph_dedup_hash_key_parity(spark):
    """key='hash' shuffles xxhash64(para) instead of the paragraph text —
    the 100-TB shuffle-bytes fix — and must produce the exact path's
    output bit-for-bit (collision probability ~2^-64)."""
    rows = [
        (i, "\n\n".join(f"para {j % 5} body" for j in range(i % 4 + 1)))
        for i in range(40)
    ] + [(100, "unique closing paragraph")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    exact = sorted(tuple(r) for r in D.paragraph_dedup(docs).collect())
    hashed = sorted(
        tuple(r) for r in D.paragraph_dedup(docs, key="hash").collect()
    )
    assert hashed == exact

    import pytest as _pytest

    with _pytest.raises(ValueError, match="key must be"):
        D.paragraph_dedup(docs, key="md5")


# ---------------------------------------------------------------------------
# Substring-level exact dedup — duplicate_spans / remove_duplicate_spans
# (Lee et al. 2022 ExactSubstr; operators/dedup.py)
# ---------------------------------------------------------------------------


def test_duplicate_spans_first_occurrence_exempt_and_merge(spark):
    """k=3 over a corpus where docs 0 and 1 share a 5-token run: the run's
    three overlapping 3-grams merge into ONE maximal span in doc 1 only
    (doc 0 is the corpus-first occurrence); a disjoint repeat later in the
    same doc is a separate island."""
    shared = "one two three four five"
    rows = [
        (0, f"{shared} zz yy"),
        (1, f"aa bb {shared} cc dd ee ff {shared}"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = sorted(
        tuple(r) for r in D.duplicate_spans(docs, k=3).collect()
    )
    # doc 1 tokens: aa bb one two three four five cc dd ee ff one ...
    #               0  1  2   3   4     5    6    7  8  9  10 11
    assert got == [(1, 2, 6, 5), (1, 11, 15, 5)]

    # keep_first=False reports the doc-0 occurrence too
    all_spans = sorted(
        tuple(r)
        for r in D.duplicate_spans(docs, k=3, keep_first=False).collect()
    )
    assert (0, 0, 4, 5) in all_spans and len(all_spans) == 3


def test_duplicate_spans_chaining_vs_gap(spark):
    """Two duplicated k-grams chain into one span iff the second starts
    within k tokens of the first (coverage overlaps or touches)."""
    # 'p q r' duplicated at doc1 pos 0 and pos 3 (k=3: touching -> chain),
    # and at pos 7 (gap of 1 unique token -> separate island)
    rows = [
        (0, "p q r"),
        (1, "p q r p q r x p q r"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = sorted(tuple(r) for r in D.duplicate_spans(docs, k=3).collect())
    assert got == [(1, 0, 5, 6), (1, 7, 9, 3)]


def test_duplicate_spans_hash_key_parity_and_validation(spark):
    rows = [
        (i, f"header boiler plate line {'x ' * (i % 3)}tail token {i}")
        for i in range(30)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    exact = sorted(tuple(r) for r in D.duplicate_spans(docs, k=4).collect())
    hashed = sorted(
        tuple(r)
        for r in D.duplicate_spans(docs, k=4, key="hash").collect()
    )
    assert hashed == exact and len(exact) > 0
    with pytest.raises(ValueError, match="key must be"):
        D.duplicate_spans(docs, key="md5")


def test_duplicate_spans_duckdb_mirror(spark):
    """Spark vs duplicate_spans_sql on an in-memory corpus, both winner
    modes."""
    import duckdb
    import pandas as pd

    rows = [
        (0, "alpha beta gamma delta epsilon zeta"),
        (1, "xx alpha beta gamma delta epsilon zeta yy"),
        (2, "alpha beta gamma delta epsilon zeta"),
        (3, "totally unique words here only once"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    con = duckdb.connect()
    con.register("sdocs", pd.DataFrame(rows, columns=["doc_id", "text"]))
    for keep_first in (True, False):
        got = sorted(
            tuple(r)
            for r in D.duplicate_spans(
                docs, k=4, keep_first=keep_first
            ).collect()
        )
        sql = D.duplicate_spans_sql(k=4, keep_first=keep_first, table="sdocs")
        want = sorted(tuple(r) for r in con.execute(sql).fetchall())
        assert got == want and len(got) > 0


def test_remove_duplicate_spans_rebuild(spark):
    """The apply path drops exactly the non-first duplicated tokens and
    rebuilds the survivors in order; a doc with no spans is untouched."""
    shared = "one two three four five"
    rows = [
        (0, f"{shared} zz yy"),
        (1, f"aa bb {shared} cc"),
        (2, "fully unique document text body"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["docid"]: r.asDict()
           for r in D.remove_duplicate_spans(docs, k=3).collect()}
    assert got[0]["clean_text"] == "one two three four five zz yy"
    assert got[0]["n_removed"] == 0
    assert got[1]["clean_text"] == "aa bb cc"
    assert got[1]["n_removed"] == 5 and got[1]["n_tokens"] == 8
    assert got[2]["clean_text"] == "fully unique document text body"
    assert got[2]["n_removed"] == 0


# ---------------------------------------------------------------------------
# Bigram stupid-backoff LM (Brants et al. 2007; operators/textstats.py)
# ---------------------------------------------------------------------------


def _py_stupid_backoff(rows, alpha_micro=TS.SB_ALPHA_MICRO):
    """Driver-side mirror of lm_score_bigram: same tokenizer split, same
    floor quantization, same backoff rule."""
    import re

    toks = {d: [t for t in re.split(r"[^a-z0-9]+", s.lower()) if t]
            for d, s in rows}
    flat = [t for ts in toks.values() for t in ts]
    n, vocab = len(flat), sorted(set(flat))
    v = len(vocab)
    c1 = {t: flat.count(t) for t in vocab}
    lpu = {t: math.floor(math.log((c + 1) / (n + v)) * 1e6)
           for t, c in c1.items()}
    c2 = {}
    for ts in toks.values():
        for a, b in zip(ts, ts[1:]):
            c2[(a, b)] = c2.get((a, b), 0) + 1
    lpb = {k: math.floor(math.log(c / c1[k[0]]) * 1e6)
           for k, c in c2.items()}
    out = {}
    for d, ts in toks.items():
        if not ts:
            continue
        nats = lpu[ts[0]]
        for a, b in zip(ts, ts[1:]):
            nats += lpb.get((a, b), alpha_micro + lpu[b])
        out[d] = (len(ts), nats, ((-nats) // len(ts)) / 1e6)
    return out


def test_lm_bigram_matches_python_mirror(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown cat sleeps"),
        (2, "quick the"),          # seen terms, unseen bigrams -> backoff
        (3, "lonely"),             # single token -> unigram only
        (4, "the quick brown fox"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["docid"]: (r["n_tokens"], r["nats_micro"], r["avg_nats"])
           for r in TS.lm_score_bigram(df).collect()}
    want = _py_stupid_backoff(rows)
    assert got == want


def test_lm_bigram_sequence_sensitivity(spark):
    """The point of the bigram upgrade: a scrambled doc with the SAME
    unigram mix scores strictly worse (higher avg_nats) than the doc in
    the corpus-dominant order, while unigram lm_score ties them."""
    rows = [(i, "alpha beta gamma delta") for i in range(6)] + [
        (6, "delta gamma beta alpha")
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    uni = {r["docid"]: r["avg_nats"] for r in TS.lm_score(df).collect()}
    assert uni[0] == uni[6]
    bg = {r["docid"]: r["avg_nats"]
          for r in TS.lm_score_bigram(df).collect()}
    assert bg[6] > bg[0]


def test_lm_bigram_table_counts(spark):
    df = spark.createDataFrame(
        [(0, "a b a b"), (1, "a b c")], "doc_id long, text string"
    )
    tbl = {(r["term1"], r["term2"]): (r["c2"], r["lp2_micro"])
           for r in TS.lm_bigram_table(df).collect()}
    # c("a b")=3, c(a)=3 -> lp = floor(ln(1)*1e6) = 0
    assert tbl[("a", "b")] == (3, 0)
    # c("b a")=1, c(b)=3
    assert tbl[("b", "a")] == (1, math.floor(math.log(1 / 3) * 1e6))
    assert tbl[("b", "c")] == (1, math.floor(math.log(1 / 3) * 1e6))
    assert ("c", "a") not in tbl and len(tbl) == 3


# ---------------------------------------------------------------------------
# Gopher quality-rule filter (Rae et al. 2021; operators/textstats.py)
# ---------------------------------------------------------------------------


def test_gopher_filter_rule_tags(spark):
    """One crafted failure per rule; a clean doc passes with no reasons."""
    good_words = ("the cat and dog have fun with that ball of yarn "
                  "because they be playing outside today ") * 5  # 80 words
    rows = [
        (0, good_words),
        (1, "the of and to"),                       # too few words
        (2, "a " * 60 + "the of and be with"),      # mean len < 3
        (3, good_words.replace("cat", "c#t#")),     # symbol ratio
        (4, "\n".join("- " + good_words[:40] for _ in range(10))),  # bullets
        (5, "\n".join(good_words[:40] + "..." for _ in range(10))),  # ellipsis
        (6, good_words + " ".join("42" * 1 for _ in range(40))),    # alpha
        (7, "zebra quagga okapi " * 20),             # no required stopwords
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["docid"]: r.asDict() for r in TS.gopher_filter(df).collect()}
    assert got[0]["passes"] and got[0]["fail_reasons"] == ""
    assert not got[1]["passes"] and "words" in got[1]["fail_reasons"]
    assert "mean_len" in got[2]["fail_reasons"]
    assert "symbols" in got[3]["fail_reasons"]
    assert "bullets" in got[4]["fail_reasons"]
    assert "ellipsis" in got[5]["fail_reasons"]
    assert "alpha" in got[6]["fail_reasons"]
    assert "stops" in got[7]["fail_reasons"]
    assert got[7]["n_req_stops"] == 0 and got[0]["n_req_stops"] >= 2


def test_gopher_filter_duckdb_mirror(spark):
    import duckdb
    import pandas as pd

    rows = [
        (0, "the cat and dog have fun with that ball " * 8),
        (1, "- bullet one\n- bullet two\nthe real text of and with be"),
        (2, "trailing thought...\nanother line...\nthe of and that"),
        (3, "###### symbols everywhere ### the of and with " * 4),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = sorted(tuple(r) for r in TS.gopher_filter(df).collect())
    con = duckdb.connect()
    con.register("gdocs", pd.DataFrame(rows, columns=["doc_id", "text"]))
    want = sorted(
        tuple(r)
        for r in con.execute(TS.gopher_filter_sql(table="gdocs")).fetchall()
    )
    assert got == want


# ---------------------------------------------------------------------------
# Count-Min Sketch (Cormode & Muthukrishnan 2005; operators/sketches.py)
# ---------------------------------------------------------------------------


def test_cms_estimate_dominates_exact_and_finds_heavies(spark):
    from search_engine_spark.operators import sketches as SK

    rows = [(i, ("alpha " * 50) + f"tail{i} beta beta") for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = SK.cms_heavy_hitters(df, k=5).collect()
    by_term = {r["term"]: r for r in got}
    # CMS invariant: estimate >= exact, always
    assert all(r["overcount"] >= 0 for r in got)
    # the true heavy hitter leads and its exact count is right
    assert got[0]["term"] == "alpha" and got[0]["exact"] == 1000
    assert by_term["beta"]["exact"] == 40


def test_cms_counters_mergeable_grid(spark):
    """The counter grid is a monoid: grid(A union B) == re-agg of
    grid(A) union grid(B) — the property incremental ingest relies on."""
    from pyspark.sql import functions as F2

    from search_engine_spark.operators import sketches as SK

    a = spark.createDataFrame(
        [(0, "x y z x"), (1, "x q")], "doc_id long, text string"
    )
    b = spark.createDataFrame(
        [(2, "y y q w")], "doc_id long, text string"
    )
    whole = {(r["row"], r["bucket"]): r["c"]
             for r in SK.cms_counters(a.unionByName(b)).collect()}
    merged = {
        (r["row"], r["bucket"]): r["c"]
        for r in SK.cms_counters(a)
        .unionByName(SK.cms_counters(b))
        .groupBy("row", "bucket")
        .agg(F2.sum("c").alias("c"))
        .collect()
    }
    assert whole == merged


def test_cms_forced_collision_overcounts(spark):
    """With width=1 every term shares every counter, so each estimate is
    the total token count — the degenerate case that proves the min-over-
    rows estimate and the overcount accounting are wired right."""
    from search_engine_spark.operators import sketches as SK

    df = spark.createDataFrame(
        [(0, "a a a b c")], "doc_id long, text string"
    )
    got = {r["term"]: r for r in
           SK.cms_heavy_hitters(df, k=10, width=1).collect()}
    assert all(r["est"] == 5 for r in got.values())
    assert got["a"]["overcount"] == 2 and got["b"]["overcount"] == 4


# ---------------------------------------------------------------------------
# MMR diversification (Carbonell & Goldstein 1998; operators/similarity.py)
# ---------------------------------------------------------------------------


def _py_mmr(vecs, qv, k, pool, lam):
    import math as _m

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        return round(
            d / (_m.sqrt(sum(x * x for x in a)) * _m.sqrt(sum(y * y for y in b))),
            6,
        )

    rel = sorted(
        ((vid, cos(v, qv)) for vid, v in vecs.items()),
        key=lambda t: (-t[1], t[0]),
    )[:pool]
    cands = dict(rel)
    sel = [max(rel, key=lambda t: (t[1], -t[0]))]
    out = [(1, sel[0][0], sel[0][1], sel[0][1])]
    while len(sel) < k and len(sel) < len(cands):
        best = None
        for vid, r in rel:
            if any(vid == s[0] for s in sel):
                continue
            maxsim = max(cos(vecs[vid], vecs[s[0]]) for s in sel)
            score = lam * r - (1.0 - lam) * maxsim
            if best is None or (score, -vid) > (best[2], -best[0]):
                best = (vid, r, score)
        sel.append((best[0], best[1]))
        out.append((len(sel), best[0], best[1], round(best[2], 6)))
    return out


def test_mmr_rerank_matches_python_mirror(spark):
    import random

    rng = random.Random(7)
    vecs = {
        i: [round(rng.uniform(-1, 1), 3) for _ in range(8)] for i in range(30)
    }
    qv = vecs[0]
    df = spark.createDataFrame(
        [(i, v) for i, v in vecs.items()],
        "vec_id long, embedding array<double>",
    )
    got = sorted(
        tuple(r)
        for r in S.mmr_rerank(
            df, qv, k=4, pool=10, lam=0.7, exclude_self=0
        ).collect()
    )
    want = sorted(_py_mmr(
        {i: v for i, v in vecs.items() if i != 0}, qv, k=4, pool=10, lam=0.7
    ))
    assert got == want


def test_mmr_penalizes_redundancy(spark):
    """Two near-identical top candidates + one diverse lower-relevance
    one: plain cosine top-2 keeps the clones; MMR at lambda .5 swaps the
    diverse vector in at rank 2 (the clone's sim-to-selected ~1 wipes
    out its relevance edge)."""
    q = [1.0] + [0.0] * 7
    clone_a = [0.9, 0.1] + [0.0] * 6
    clone_b = [0.9, 0.11] + [0.0] * 6
    diverse = [0.6, 0.0, 0.8] + [0.0] * 5
    df = spark.createDataFrame(
        [(1, clone_a), (2, clone_b), (3, diverse)],
        "vec_id long, embedding array<double>",
    )
    got = {r["rank"]: r["vec_id"]
           for r in S.mmr_rerank(df, q, k=3, pool=3, lam=0.5).collect()}
    assert got[1] == 1 and got[2] == 3 and got[3] == 2


def test_mmr_rerank_sql_follows_embedding_dimension(spark):
    """The DuckDB mirror takes the dimension from the embeddings
    themselves: on a 96-dim table it agrees with the Spark re-rank (a
    fixed 64-step series scored only the first 64 components)."""
    import random

    import duckdb

    rng = random.Random(11)
    rows = [
        (i, [round(rng.uniform(-1, 1), 3) for _ in range(96)])
        for i in range(25)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = sorted(
        tuple(r)
        for r in S.mmr_rerank(
            df, rows[0][1], k=4, pool=10, lam=0.7, exclude_self=0
        ).collect()
    )
    con = duckdb.connect()
    con.execute("CREATE TABLE embeddings (vec_id BIGINT, embedding DOUBLE[])")
    con.executemany("INSERT INTO embeddings VALUES (?, ?)", rows)
    want = sorted(
        con.sql(S.mmr_rerank_sql(qid=0, k=4, pool=10, lam=0.7)).fetchall()
    )
    assert len(got) == 4
    assert got == want


# ---------------------------------------------------------------------------
# Event-sequence analytics (operators/events.py: funnel, retention)
# ---------------------------------------------------------------------------


def test_funnel_strict_order_and_window(spark):
    from search_engine_spark.operators import events as EV

    H = 3_600_000_000  # 1h in micros

    def ts(h):
        from datetime import datetime, timedelta

        return datetime(2024, 1, 1) + timedelta(hours=h)

    rows = [
        # u1 completes in order: view@0, click@1, purchase@2
        (1, ts(0), "view"), (1, ts(1), "click"), (1, ts(2), "purchase"),
        # u2: click BEFORE view never counts; no click after view -> stage 1
        (2, ts(0), "click"), (2, ts(1), "view"),
        # u3: click inside window, purchase outside the 72h entry window
        (3, ts(0), "view"), (3, ts(1), "click"), (3, ts(100), "purchase"),
        # u4: never fires view -> absent
        (4, ts(0), "click"), (4, ts(1), "purchase"),
        # u5: simultaneous-ish repeats: earliest qualifying event wins
        (5, ts(0), "view"), (5, ts(2), "click"), (5, ts(1), "click"),
        (5, ts(3), "purchase"),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, event_type string")
    got = {r["user_id"]: r.asDict()
           for r in EV.funnel(df, ["view", "click", "purchase"], 72).collect()}
    assert set(got) == {1, 2, 3, 5}
    assert got[1]["stage"] == 3 and got[1]["t3_us"] - got[1]["t1_us"] == 2 * H
    assert got[2]["stage"] == 1 and got[2]["t2_us"] is None
    assert got[3]["stage"] == 2 and got[3]["t3_us"] is None
    assert got[5]["stage"] == 3 and got[5]["t2_us"] - got[5]["t1_us"] == 1 * H


def test_funnel_duckdb_mirror_and_validation(spark):
    import duckdb
    import pandas as pd
    import pytest as _pytest
    from datetime import datetime, timedelta

    from search_engine_spark.operators import events as EV

    rows = [
        (u, datetime(2024, 1, 1) + timedelta(hours=u * 3 + i * 7 % 50),
         t)
        for u in range(12)
        for i, t in enumerate(
            ["view", "click", "view", "purchase", "click"][: u % 5 + 1]
        )
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, event_type string")
    got = sorted(tuple(r) for r in
                 EV.funnel(df, ["view", "click", "purchase"], 48).collect())
    con = duckdb.connect()
    con.register("events", pd.DataFrame(rows, columns=["user_id", "ts", "event_type"]))
    want = sorted(tuple(r) for r in con.execute(
        EV.funnel_sql(["view", "click", "purchase"], 48)).fetchall())
    assert got == want and len(got) > 0
    with _pytest.raises(ValueError, match="at least 2"):
        EV.funnel(df, ["view"])


def test_retention_cohorts_semantics(spark):
    from datetime import datetime, timedelta

    from search_engine_spark.operators import events as EV

    def d(days):
        return datetime(2024, 1, 3) + timedelta(days=days)

    rows = [
        (1, d(0), "signup"), (1, d(8), "view"), (1, d(16), "click"),
        (2, d(1), "signup"), (2, d(2), "view"),
        (3, d(9), "signup"), (3, d(15), "view"),
        (4, d(0), "view"),                               # never signed up
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, event_type string")
    got = {(r["cohort"], r["period"]): r["active_users"]
           for r in EV.retention_cohorts(df, "signup", 7, 8).collect()}

    # Python mirror of the absolute 7-day epoch grid
    pd_us = 7 * 86_400_000_000
    from datetime import timezone

    def period(dt):
        return int(dt.replace(tzinfo=timezone.utc).timestamp() * 1e6) // pd_us

    cohort = {}
    for u, dt, et in rows:
        if et == "signup":
            cohort[u] = min(cohort.get(u, 10**9), period(dt))
    want = {}
    seen = set()
    for u, dt, et in rows:
        if u not in cohort:
            continue
        p = period(dt) - cohort[u]
        if 0 <= p <= 8 and (u, p) not in seen:
            seen.add((u, p))
            key = (cohort[u], p)
            want[key] = want.get(key, 0) + 1
    assert got == want
    assert 4 not in cohort  # never-signed-up user contributes nothing
    # every cohort counts itself at period 0
    assert all(got[(c, 0)] >= 1 for c in {v for v in cohort.values()})


def test_retention_duckdb_mirror(spark):
    import duckdb
    import pandas as pd
    from datetime import datetime, timedelta

    from search_engine_spark.operators import events as EV

    rows = [
        (u, datetime(2024, 1, 1) + timedelta(days=(u * 3 + i * 5) % 40),
         t)
        for u in range(15)
        for i, t in enumerate(["signup", "view", "click", "view"][: u % 4 + 1])
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, event_type string")
    got = sorted(tuple(r) for r in
                 EV.retention_cohorts(df, "signup", 7, 8).collect())
    con = duckdb.connect()
    con.register("events", pd.DataFrame(rows, columns=["user_id", "ts", "event_type"]))
    want = sorted(tuple(r) for r in con.execute(
        EV.retention_cohorts_sql("signup", 7, 8)).fetchall())
    assert got == want and len(got) > 0


# ---------------------------------------------------------------------------
# Ranking evaluation (nDCG/MRR/recall; operators/evaluation.py)
# ---------------------------------------------------------------------------


def test_search_eval_hand_computed(spark):
    import math as _m

    from search_engine_spark.operators.evaluation import (
        EVAL_QUANT,
        search_eval,
    )

    results = spark.createDataFrame(
        # q0: perfect ranking of its two relevant docs
        [(0, 100, 1), (0, 101, 2), (0, 102, 3),
         # q1: the only relevant doc at rank 3
         (1, 200, 1), (1, 201, 2), (1, 202, 3),
         # q2: nothing relevant retrieved
         (2, 300, 1)],
        "qid long, docid long, rank long",
    )
    qrels = spark.createDataFrame(
        [(0, 100, 2), (0, 101, 1), (0, 103, 0),   # rel-0 row is ignored
         (1, 202, 1), (1, 250, 1),
         (2, 999, 2)],
        "qid long, docid long, rel long",
    )
    got = {r["qid"]: r.asDict() for r in search_eval(results, qrels).collect()}

    def disc(r):
        return round(EVAL_QUANT / _m.log2(r + 1))

    # q0: dcg = 3*d1 + 1*d2 over ideal the same -> ndcg 1, mrr 1, recall 1
    assert got[0]["ndcg"] == 1.0 and got[0]["mrr"] == 1.0
    assert got[0]["recall"] == 1.0 and got[0]["n_rel"] == 2
    # q1: dcg = 1*d3, idcg = 1*d1 + 1*d2; recall 1/2; mrr 1/3
    want_ndcg = round(disc(3) / (disc(1) + disc(2)), 6)
    assert got[1]["ndcg"] == want_ndcg
    assert got[1]["mrr"] == round(1 / 3, 6) and got[1]["recall"] == 0.5
    # q2: judged but nothing retrieved -> all zeros, still present
    assert got[2]["ndcg"] == 0.0 and got[2]["mrr"] == 0.0
    assert got[2]["recall"] == 0.0 and got[2]["n_rel"] == 1


def test_search_eval_duckdb_mirror(spark):
    import duckdb

    from search_engine_spark.operators.evaluation import (
        search_eval,
        search_eval_sql,
    )

    results = [(q, (q * 13 + r * 3) % 40, r) for q in range(6)
               for r in range(1, 11)]
    qrels = [(q, d, (d + q) % 3) for q in range(6) for d in range(0, 40, 4)]
    res_df = spark.createDataFrame(results, "qid long, docid long, rank long")
    qr_df = spark.createDataFrame(qrels, "qid long, docid long, rel long")
    got = sorted(tuple(r) for r in search_eval(res_df, qr_df, k=10).collect())
    con = duckdb.connect()
    import pandas as pd
    con.register("res_in", pd.DataFrame(results,
                                        columns=["qid", "docid", "rank"]))
    con.register("qr_in", pd.DataFrame(qrels,
                                       columns=["qid", "docid", "rel"]))
    want = sorted(tuple(r) for r in con.execute(search_eval_sql(
        "SELECT qid, docid, rank FROM res_in",
        "SELECT qid, docid, rel FROM qr_in", k=10)).fetchall())
    assert got == want and len(got) > 0


# ---------------------------------------------------------------------------
# Bloom filter (Bloom 1970; operators/sketches.py bloom_build/bloom_probe)
# ---------------------------------------------------------------------------


def test_bloom_no_false_negatives_and_fp_accounting(spark):
    from search_engine_spark.operators import sketches as SK

    keys = spark.createDataFrame(
        [(f"key{i}",) for i in range(200)], "term string"
    )
    fb = SK.bloom_build(keys)
    probes = spark.createDataFrame(
        [(f"key{i}",) for i in range(200)]
        + [(f"absent{i}",) for i in range(200)],
        "term string",
    )
    got = {r["term"]: r for r in
           SK.bloom_probe(probes, fb, truth=keys).collect()}
    # no false negatives, ever
    assert all(got[f"key{i}"]["maybe_present"] for i in range(200))
    assert all(got[f"key{i}"]["actually_present"] for i in range(200))
    assert not any(got[f"key{i}"]["false_positive"] for i in range(200))
    # absent keys: mostly rejected; any accepted one is flagged FP
    fps = [t for t in got if t.startswith("absent")
           and got[t]["maybe_present"]]
    rejected = [t for t in got if t.startswith("absent")
                and not got[t]["maybe_present"]]
    assert len(rejected) > 150  # 200 keys in 4096 bits -> low FP rate
    assert all(got[t]["false_positive"] for t in fps)
    assert not any(got[t]["actually_present"] for t in fps)


def test_bloom_forced_saturation_all_maybe(spark):
    """bits=1 saturates the filter: every probe 'maybe' matches — the
    degenerate case proving the all-positions-set rule."""
    from search_engine_spark.operators import sketches as SK

    keys = spark.createDataFrame([("x",)], "term string")
    fb = SK.bloom_build(keys, bits=1)
    probes = spark.createDataFrame([("x",), ("zz",)], "term string")
    got = {r["term"]: r["maybe_present"]
           for r in SK.bloom_probe(probes, fb, bits=1).collect()}
    assert got == {"x": True, "zz": True}


# ---------------------------------------------------------------------------
# Z-order layout keys (operators/layout.py)
# ---------------------------------------------------------------------------


def _py_morton(x, y, bits=16):
    z = 0
    for b in range(bits):
        z |= ((x >> b) & 1) << (2 * b)
        z |= ((y >> b) & 1) << (2 * b + 1)
    return z


def test_zorder_key_matches_python_and_locality(spark):
    from search_engine_spark.operators.layout import zorder_key

    rows = [(i, i * 37 % 1000, i * 91 % 500) for i in range(300)]
    df = spark.createDataFrame(rows, "i long, x long, y long")
    got = {r["i"]: r["z"] for r in df.select(
        "i", zorder_key(F.col("x"), F.col("y")).alias("z")).collect()}
    for i, x, y in rows:
        assert got[i] == _py_morton(x, y)
    # locality: a point one step away in x differs less in z than a
    # point far away in x (same y)
    assert abs(_py_morton(10, 7) - _py_morton(11, 7)) < abs(
        _py_morton(10, 7) - _py_morton(500, 7)
    )


def test_zorder_layout_contiguous_ranges(spark):
    """repartitionByRange on the key gives non-overlapping z ranges per
    partition — the property parquet min/max pruning needs."""
    from search_engine_spark.operators.layout import zorder_layout
    import pytest as _pytest

    rows = [(i, i % 64, (i * 7) % 64) for i in range(512)]
    df = spark.createDataFrame(rows, "i long, x long, y long")
    parts = (
        zorder_layout(df, "x", "y", partitions=4)
        .select("_z", F.spark_partition_id().alias("pid"))
        .collect()
    )
    ranges = {}
    for r in parts:
        lo, hi = ranges.get(r["pid"], (r["_z"], r["_z"]))
        ranges[r["pid"]] = (min(lo, r["_z"]), max(hi, r["_z"]))
    spans = sorted(ranges.values())
    for (_, hi), (lo, _) in zip(spans, spans[1:]):
        assert hi <= lo
    with _pytest.raises(ValueError, match="bits"):
        from search_engine_spark.operators.layout import zorder_key as zk
        df.select(zk(F.col("x"), F.col("y"), bits=40))


# ---------------------------------------------------------------------------
# Histogram quantile sketch (operators/sketches.py hist_quantiles)
# ---------------------------------------------------------------------------


def test_hist_quantiles_error_bounded_by_cell(spark):
    from search_engine_spark.operators import sketches as SK

    rows = [(i, (i * 37) % 1000) for i in range(2000)]
    df = spark.createDataFrame(rows, "i long, v long")
    got = {r["q_pct"]: r.asDict() for r in SK.hist_quantiles(
        df, "v", [10, 50, 90], lo=0.0, hi=1000.0, buckets=100).collect()}
    cell = 10.0
    for q in (10, 50, 90):
        # estimate is the bucket upper edge: exact < est <= exact + cell
        assert got[q]["exact"] < got[q]["est"] <= got[q]["exact"] + cell
        assert got[q]["abs_err"] <= cell
    # values 0..999 uniform: the exact median sits near 500
    assert abs(got[50]["exact"] - 500) <= 1


def test_hist_quantiles_rejects_rank_zero_requests(spark):
    """A target rank of 0 (q_pct=0, or an empty input) is held by no row;
    it must raise up front instead of dropping the quantile's result row
    in the rank join. The DuckDB mirror rejects the same quantiles."""
    from search_engine_spark.operators import sketches as SK

    df = spark.createDataFrame([(float(i),) for i in range(10)], "v double")
    for qs in ([0, 50], [50, 101], [12.5], []):
        with pytest.raises(ValueError, match="quantiles"):
            SK.hist_quantiles(df, "v", qs, lo=0.0, hi=10.0, buckets=10)
        with pytest.raises(ValueError, match="quantiles"):
            SK.hist_quantiles_sql("v", qs, lo=0.0, hi=10.0, buckets=10)
    with pytest.raises(ValueError, match="empty"):
        SK.hist_quantiles(df.filter("v < 0"), "v", [50], 0.0, 10.0, 10)
    # the edges of the valid range each yield their row
    got = {r["q_pct"]: r["exact"] for r in SK.hist_quantiles(
        df, "v", [1, 100], lo=0.0, hi=10.0, buckets=10).collect()}
    assert got == {1: 0.0, 100: 9.0}


def test_hist_counters_mergeable_and_clamped(spark):
    from pyspark.sql import functions as F2

    from search_engine_spark.operators import sketches as SK

    a = spark.createDataFrame([(1.0,), (5.0,), (-3.0,)], "v double")
    b = spark.createDataFrame([(99.0,), (1000.0,)], "v double")
    whole = {(r["bucket"]): r["c"] for r in SK.hist_counters(
        a.unionByName(b), "v", 0.0, 100.0, buckets=10).collect()}
    merged = {
        r["bucket"]: r["c"]
        for r in SK.hist_counters(a, "v", 0.0, 100.0, 10)
        .unionByName(SK.hist_counters(b, "v", 0.0, 100.0, 10))
        .groupBy("bucket").agg(F2.sum("c").alias("c")).collect()
    }
    assert whole == merged
    # out-of-range values clamp to the edge buckets, never dropped
    assert whole[0] == 3 and whole[9] == 2
