"""Similarity search over embedding columns (array<float>).

Three tiers:

* ``cosine_topk`` — brute-force exact top-k against one query vector:
  a single narrow scan, dot/norm computed with array built-ins
  (``zip_with`` + ``aggregate``) entirely JVM-side; ``ORDER BY … LIMIT k``
  compiles to TakeOrderedAndProject (no global sort materialization).
* ``knn_join`` — exact k-NN for a (small, broadcast) set of query rows
  against the corpus: broadcast-join + per-query window top-k.
* ``lsh_hyperplane_*`` — the 100 TB path: deterministic random-hyperplane
  (sign-LSH) bucketing; candidates = bucket join, verified by exact cosine.
  Hyperplane components are md5-derived ±1 (functions/hashing.py) so the
  whole pipeline is reproducible across engines.

All cosines are rounded to 6 dp before ranking (cross-engine float-sum
stability), ties broken by id ascending.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from search_engine_spark.functions.hashing import md5_int32, md5_int32_py

COS_DECIMALS = 6


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def cosine_col(a: Column, b: Column) -> Column:
    return F.round(_dot(a, b) / (_norm(a) * _norm(b)), COS_DECIMALS)


def cosine_topk(
    emb: DataFrame,
    query_vec: list[float],
    k: int = 10,
    vec_id: str = "vec_id",
    vec: str = "embedding",
    exclude_self: int | None = None,
) -> DataFrame:
    """(vec_id, cos) — exact top-k by cosine to ``query_vec``."""
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    out = emb.select(
        F.col(vec_id).alias("vec_id"),
        cosine_col(F.col(vec), q).alias("cos"),
    )
    if exclude_self is not None:
        out = out.filter(F.col("vec_id") != exclude_self)
    return out.orderBy(F.col("cos").desc(), F.col("vec_id").asc()).limit(k)


def knn_join(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 3,
    vec_id: str = "vec_id",
    vec: str = "embedding",
) -> DataFrame:
    """(qid, vec_id, cos, rank) — exact k nearest neighbours for each query
    id (excluding self). The query side is broadcast (small by contract);
    ranking is a per-query window over the scored scan."""
    q = emb.filter(F.col(vec_id).isin(query_ids)).select(
        F.col(vec_id).alias("qid"), F.col(vec).alias("qvec")
    )
    scored = (
        emb.select(F.col(vec_id).alias("vec_id"), F.col(vec).alias("v"))
        .crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "vec_id",
            cosine_col(F.col("v"), F.col("qvec")).alias("cos"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("vec_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", "vec_id", "cos", "rank")
    )


def cosine_near_pairs(
    emb: DataFrame,
    threshold: float,
    vec_id: str = "vec_id",
    vec: str = "embedding",
) -> DataFrame:
    """(a, b, cos) — EXACT all pairs with cosine ≥ threshold (embedding
    near-duplicate detection). Inherently quadratic: the exact verifier /
    small-table path; ``cosine_near_pairs_lsh`` is the bucketed scale
    path. cos rounded to 6 dp; pairs ordered a < b."""
    a = emb.select(F.col(vec_id).alias("a"), F.col(vec).alias("va"))
    b = emb.select(F.col(vec_id).alias("b"), F.col(vec).alias("vb"))
    return (
        a.crossJoin(b)
        .filter(F.col("a") < F.col("b"))
        .select("a", "b", cosine_col(F.col("va"), F.col("vb")).alias("cos"))
        .filter(F.col("cos") >= threshold)
    )


def cosine_near_pairs_lsh(
    emb: DataFrame,
    threshold: float,
    dim: int,
    n_planes: int = 32,
    max_hamming: int = 2,
    vec_id: str = "vec_id",
    vec: str = "embedding",
) -> DataFrame:
    """Bucketed near-pair scale path: sign-LSH signatures (deterministic
    hyperplanes), candidates = pairs agreeing exactly on ≥1 of
    ``max_hamming+1`` signature bit-bands (pigeonhole: covers every pair
    within that signature hamming distance), verified by EXACT cosine ≥
    threshold. Precision is exact; recall is the standard LSH trade
    (pairs whose signatures differ in > max_hamming bits are missed) and
    rises with n_planes/max_hamming. Cost ∝ bucket sizes, not corpus².

    Default n_planes=32 (signatures are cheap: one dot per plane) so the
    default band keys are 10-12 bits wide — r2's n_planes=8 default gave
    2-4-bit bands = 4-16 buckets per band, which degenerates toward the
    cartesian join at corpus scale. Keep ``n_planes // (max_hamming+1)``
    ≥ 8 bits when tuning. Signatures are localCheckpoint'ed: the banded
    union references them 2(max_hamming+1) times."""
    sigs = lsh_signature(emb, dim, n_planes, vec_id, vec).localCheckpoint()
    nbands = max_hamming + 1
    width = max(1, n_planes // nbands)
    parts = []
    for bnd in range(nbands):
        shift = bnd * width
        w = width if bnd < nbands - 1 else n_planes - shift
        mask = (1 << w) - 1
        parts.append(
            sigs.select(
                "vec_id",
                "v",
                F.lit(bnd).alias("band"),
                F.shiftright(F.col("sig"), shift)
                .bitwiseAND(F.lit(mask))
                .alias("key"),
            )
        )
    banded = parts[0]
    for p in parts[1:]:
        banded = banded.unionByName(p)
    left = banded.select(
        "band", "key", F.col("vec_id").alias("a"), F.col("v").alias("va")
    )
    right = banded.select(
        "band", "key", F.col("vec_id").alias("b"), F.col("v").alias("vb")
    )
    return (
        left.join(right, ["band", "key"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b", "va", "vb")
        .distinct()
        .select("a", "b", cosine_col(F.col("va"), F.col("vb")).alias("cos"))
        .filter(F.col("cos") >= threshold)
    )


# ---------------------------------------------------------------------------
# Sign-LSH (random hyperplanes) — the approximate scale path
# ---------------------------------------------------------------------------

def hyperplanes(dim: int, n_planes: int) -> list[list[float]]:
    """Deterministic ±1 hyperplanes: component (p, i) = sign of an md5 bit."""
    planes = []
    for p in range(n_planes):
        h = [1.0 if (md5_int32_py(f"{p}:{i}", seed="plane") & 1) else -1.0 for i in range(dim)]
        planes.append(h)
    return planes


def lsh_signature(
    emb: DataFrame,
    dim: int,
    n_planes: int = 8,
    vec_id: str = "vec_id",
    vec: str = "embedding",
) -> DataFrame:
    """(vec_id, sig) — sign-LSH bucket id: bit p = 1 iff v · plane_p > 0."""
    planes = hyperplanes(dim, n_planes)
    sig = F.lit(0).cast("long")
    for p, plane in enumerate(planes):
        pc = F.array(*[F.lit(x) for x in plane])
        bit = F.when(_dot(F.col("v"), pc) > 0, F.lit(1 << p)).otherwise(F.lit(0))
        sig = sig + bit.cast("long")
    return emb.select(
        F.col(vec_id).alias("vec_id"), F.col(vec).alias("v")
    ).withColumn("sig", sig)


def lsh_topk(
    emb: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_planes: int = 8,
    vec_id: str = "vec_id",
    vec: str = "embedding",
    probe_hamming: int = 1,
) -> DataFrame:
    """Approximate top-k: score only vectors whose LSH bucket is within
    ``probe_hamming`` bits of the query's bucket (multi-probe), then exact
    cosine within candidates. ~2^-planes of the corpus scanned per probe."""
    dim = len(query_vec)
    planes = hyperplanes(dim, n_planes)
    qsig = 0
    for p, plane in enumerate(planes):
        if sum(a * b for a, b in zip(query_vec, plane)) > 0:
            qsig |= 1 << p
    probes = {qsig}
    if probe_hamming >= 1:
        for p in range(n_planes):
            probes.add(qsig ^ (1 << p))
    sigs = lsh_signature(emb, dim, n_planes, vec_id, vec)
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    return (
        sigs.filter(F.col("sig").isin(list(probes)))
        .select(F.col("vec_id"), cosine_col(F.col("v"), q).alias("cos"))
        .orderBy(F.col("cos").desc(), F.col("vec_id").asc())
        .limit(k)
    )


# ---------------------------------------------------------------------------
# Margin-ordered multi-probe (Lv et al., VLDB 2007) — the DEFAULT sign-LSH
# serving path. Fixed-radius probing (lsh_topk above) treats all buckets at
# hamming distance r as equally promising; in truth a neighbour's signature
# differs from the query's precisely in the bits where the query sits
# CLOSEST to the hyperplane. Probing buckets in ascending total flip-margin
# order reaches the same recall at a ~3x smaller candidate budget on
# structure-free embeddings (measured on the gate corpus), and exits after
# a handful of buckets on clustered real-world embeddings.
#
# All dot products are quantized to integer micro-units
# (floor(component * 2^20) * ±1, summed as BIGINT) so signatures, the
# query's per-plane margins, and therefore the bucket probe ORDER are
# bit-identical across Spark and DuckDB — float-sum association order can
# never flip a probe decision (the lm_score lesson).
# ---------------------------------------------------------------------------

# Integer quantization step for plane dots: floor(x * 2^20). A power of two
# keeps the product x * DOT_QUANT exact for every float32 input widened to
# double, so floor() can never land on a cross-engine boundary.
DOT_QUANT = 1 << 20

# Declared recall floor of lsh_topk_multiprobe at DEFAULT settings on the
# gate corpus (near-orthogonal synthetic embeddings — the structure-free
# WORST case for sign-LSH; clustered real embeddings do strictly better at
# the same budget). bench.py measures recall@10 against exact cosine_topk
# every round and tests/test_pipeline_ops.py asserts this floor, so a
# tuning regression fails loudly instead of shipping silently.
LSH_MULTIPROBE_RECALL_FLOOR = 0.8


def _int_dot(v: Column, plane: list[float]) -> Column:
    """Exact BIGINT plane dot: sum_i floor(v_i * DOT_QUANT) * (+/-1)."""
    pc = F.array(*[F.lit(int(x)) for x in plane])
    return F.aggregate(
        F.zip_with(
            v,
            pc,
            lambda a, b: F.floor(a.cast("double") * F.lit(float(DOT_QUANT)))
            .cast("long")
            * b.cast("long"),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def lsh_signature_int(
    emb: DataFrame,
    dim: int,
    n_planes: int = 8,
    vec_id: str = "vec_id",
    vec: str = "embedding",
) -> DataFrame:
    """(vec_id, v, sig) — sign-LSH signature from INTEGER-quantized plane
    dots: bit p = 1 iff the exact BIGINT dot > 0. Unlike the double-sum
    :func:`lsh_signature`, the bit is deterministic even for vectors
    lying numerically on a hyperplane (no float association order)."""
    planes = hyperplanes(dim, n_planes)
    sig = F.lit(0).cast("long")
    for p, plane in enumerate(planes):
        bit = F.when(
            _int_dot(F.col("v"), plane) > 0, F.lit(1 << p)
        ).otherwise(F.lit(0))
        sig = sig + bit.cast("long")
    return emb.select(
        F.col(vec_id).alias("vec_id"), F.col(vec).alias("v")
    ).withColumn("sig", sig)


def multiprobe_query_plan(
    query_vec: list[float], n_planes: int = 8
) -> tuple[int, list[int]]:
    """(qsig, margins) for the query vector under the same integer
    quantization the signature stage uses — exact Python ints, so the
    driver-side plan equals what either engine would derive in-query."""
    import math

    planes = hyperplanes(len(query_vec), n_planes)
    qint = [math.floor(float(x) * DOT_QUANT) for x in query_vec]
    qdots = [
        sum(qi * int(p) for qi, p in zip(qint, plane)) for plane in planes
    ]
    qsig = sum(1 << p for p, d in enumerate(qdots) if d > 0)
    return qsig, [abs(d) for d in qdots]


def lsh_topk_multiprobe(
    emb: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_planes: int = 8,
    min_candidates: int | None = None,
    budget_frac: float = 0.25,
    vec_id: str = "vec_id",
    vec: str = "embedding",
) -> DataFrame:
    """(vec_id, cos) — approximate top-k by margin-ordered multi-probe:
    buckets are probed in ascending total flip-margin order (cheapest bit
    flips first) until the probed population reaches
    ``max(min_candidates, ceil(budget_frac * n))`` vectors, then exact
    cosine ranks the candidates. ``min_candidates`` defaults to ``20 * k``.

    Recall at DEFAULT settings is floored at
    :data:`LSH_MULTIPROBE_RECALL_FLOOR` on the gate corpus (bench-measured
    each round; see the module comment). Raise ``budget_frac`` for higher
    recall, lower it when the corpus is known to be clustered.

    Plan shape at 100 TB: the signature scan is one narrow map stage; the
    probe plan is a ≤2^n_planes-row aggregate (one tiny shuffle) windowed
    in a single task and broadcast back; candidates = one hash semi-join;
    final ranking is TakeOrderedAndProject over the candidate fraction
    only. Nothing driver-side but plane literals."""
    dim = len(query_vec)
    if min_candidates is None:
        min_candidates = 20 * k
    qsig, margins = multiprobe_query_plan(query_vec, n_planes)
    sigs = lsh_signature_int(emb, dim, n_planes, vec_id, vec)
    bcnt = sigs.groupBy("sig").agg(F.count(F.lit(1)).alias("cnt"))
    flip = F.col("sig").bitwiseXOR(F.lit(qsig))
    cost = F.lit(0).cast("long")
    for p in range(n_planes):
        bit = F.shiftright(flip, p).bitwiseAND(F.lit(1))
        cost = cost + F.when(bit == 1, F.lit(margins[p])).otherwise(
            F.lit(0)
        ).cast("long")
    # ≤ 2^n_planes rows: the single-task window is the probe PLANNER,
    # not the data path
    w = Window.orderBy(F.col("fc").asc(), F.col("sig").asc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    tot = bcnt.agg(F.sum("cnt").cast("long").alias("n"))
    budget = F.least(
        F.greatest(
            F.lit(min_candidates).cast("long"),
            F.ceil(F.lit(float(budget_frac)) * F.col("n")).cast("long"),
        ),
        F.col("n"),
    )
    chosen = (
        bcnt.withColumn("fc", cost)
        .withColumn("cum", F.sum("cnt").over(w))
        .crossJoin(F.broadcast(tot))
        .filter(F.col("cum") - F.col("cnt") < budget)
        .select("sig")
    )
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    return (
        sigs.join(F.broadcast(chosen), "sig")
        .select(F.col("vec_id"), cosine_col(F.col("v"), q).alias("cos"))
        .orderBy(F.col("cos").desc(), F.col("vec_id").asc())
        .limit(k)
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) variant: coarse quantize to the nearest of C pivots
# ---------------------------------------------------------------------------

def _ivf_cell_col(
    vec: Column, pivots: list[tuple[int, list[float]]]
) -> Column:
    """Nearest-pivot (by cosine) cell id as a codegen'd Column — the
    greatest-of-struct trick keeps the argmax JVM-side; ties break to the
    lowest cell id."""
    best = None
    for cid, pv in pivots:
        pc = F.array(*[F.lit(float(x)) for x in pv])
        cand = F.struct(
            cosine_col(vec, pc).alias("cos"),
            F.lit(-cid).alias("negid"),
        )
        best = cand if best is None else F.greatest(best, cand)
    return (-best.getField("negid")).cast("int")


# Above this pivot count the nested greatest(struct(cos,…)) expression —
# k inlined cosines in ONE projection — blows up codegen; the broadcast
# join + max-struct aggregation below scales to thousands of cells.
IVF_CODEGEN_MAX_PIVOTS = 64


def ivf_assign(
    emb: DataFrame,
    pivots: list[tuple[int, list[float]]],
    vec_id: str = "vec_id",
    vec: str = "embedding",
) -> DataFrame:
    """(vec_id, cell): nearest-pivot (by cosine) coarse assignment.

    Pivots are (cell_id, vector) — at scale they come from
    :func:`kmeans_pivots`; any deterministic pivot set works (e.g. first C
    vectors). Small pivot sets inline the argmax as one codegen'd
    expression; larger ones broadcast the pivot table and reduce with a
    max-of-struct aggregation (identical tie-break: lowest cell id), so
    IVF cell counts in the thousands stay off the codegen cliff."""
    if len(pivots) <= IVF_CODEGEN_MAX_PIVOTS:
        return emb.select(
            F.col(vec_id).alias("vec_id"),
            _ivf_cell_col(F.col(vec), pivots).alias("cell"),
        )
    spark = emb.sparkSession
    pv = spark.createDataFrame(
        [(int(cid), [float(x) for x in v]) for cid, v in pivots],
        "cid int, pv array<double>",
    )
    scored = (
        emb.select(F.col(vec_id).alias("vec_id"), F.col(vec).alias("v"))
        .crossJoin(F.broadcast(pv))
        .select(
            "vec_id",
            F.struct(
                cosine_col(F.col("v"), F.col("pv")).alias("cos"),
                (-F.col("cid")).alias("negid"),
            ).alias("cand"),
        )
    )
    return scored.groupBy("vec_id").agg(
        (-F.max("cand").getField("negid")).cast("int").alias("cell")
    )


def kmeans_pivots(
    emb: DataFrame,
    k: int = 8,
    iters: int = 3,
    vec_id: str = "vec_id",
    vec: str = "embedding",
) -> list[tuple[int, list[float]]]:
    """Distributed spherical k-means — the IVF pivot trainer for real
    scale (Lloyd's iterations as DataFrame jobs, not a driver loop over
    vectors).

    Init = the k lowest-``vec_id`` rows (deterministic). Per iteration:
    assignment is the codegen'd argmin (:func:`_ivf_cell_col`, no shuffle),
    and the centroid update is ONE partial-aggregated shuffle keyed on
    (cell, dim) via posexplode → sum/count; only k×dim means ever reach
    the driver. Cosine is scale-invariant so the un-normalized cell mean
    is a valid spherical centroid. Empty cells keep their previous pivot.
    Centroid components round to 6 dp (cross-partitioning float-sum
    stability)."""
    rows = emb.orderBy(F.col(vec_id).asc()).limit(k).collect()
    cents: dict[int, list[float]] = {
        i: [float(x) for x in r[vec]] for i, r in enumerate(rows)
    }
    for _ in range(iters):
        pivots = sorted(cents.items())
        if len(pivots) <= IVF_CODEGEN_MAX_PIVOTS:
            # two-step select: posexplode's multi-alias in the same
            # projection as the greatest-of-struct argmax breaks struct
            # field resolution
            assigned = emb.select(
                _ivf_cell_col(F.col(vec), pivots).alias("cell"),
                F.col(vec).alias("v"),
            )
        else:
            # thousands of cells: same broadcast-join argmax as
            # ivf_assign — keeps the assignment off the codegen cliff
            assigned = (
                ivf_assign(emb, pivots, vec_id, vec)
                .join(
                    emb.select(
                        F.col(vec_id).alias("vec_id"), F.col(vec).alias("v")
                    ),
                    "vec_id",
                )
                .select("cell", "v")
            )
        stats = (
            assigned
            .select("cell", F.posexplode("v").alias("pos", "val"))
            .groupBy("cell", "pos")
            .agg(F.sum(F.col("val").cast("double")).alias("s"),
                 F.count("*").alias("n"))
            .collect()
        )
        for r in stats:
            cents[int(r["cell"])][int(r["pos"])] = round(
                r["s"] / r["n"], 6
            )
    return sorted(cents.items())


def ivf_topk(
    emb: DataFrame,
    pivots: list[tuple[int, list[float]]],
    query_vec: list[float],
    k: int = 10,
    nprobe: int = 2,
    vec_id: str = "vec_id",
    vec: str = "embedding",
) -> DataFrame:
    """Approximate top-k scanning only the ``nprobe`` cells nearest the
    query. Exact cosine within the probed cells."""
    qcos = sorted(
        (
            (
                sum(a * b for a, b in zip(query_vec, pv))
                / (
                    (sum(a * a for a in query_vec) ** 0.5)
                    * (sum(b * b for b in pv) ** 0.5)
                ),
                cid,
            )
            for cid, pv in pivots
        ),
        key=lambda t: (-t[0], t[1]),
    )
    probe_cells = [cid for _c, cid in qcos[:nprobe]]
    assigned = ivf_assign(emb, pivots, vec_id, vec)
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    return (
        emb.select(F.col(vec_id).alias("vec_id"), F.col(vec).alias("v"))
        .join(assigned.filter(F.col("cell").isin(probe_cells)), "vec_id")
        .select("vec_id", cosine_col(F.col("v"), q).alias("cos"))
        .orderBy(F.col("cos").desc(), F.col("vec_id").asc())
        .limit(k)
    )


# ---------------------------------------------------------------------------
# MMR diversification (Carbonell & Goldstein 1998) — serving-tier re-rank
# ---------------------------------------------------------------------------


def mmr_rerank(
    emb: DataFrame,
    query_vec: list[float],
    k: int = 5,
    pool: int = 20,
    lam: float = 0.7,
    vec_id: str = "vec_id",
    vec: str = "embedding",
    exclude_self: int | None = None,
) -> DataFrame:
    """(rank, vec_id, rel, mmr) — Maximal Marginal Relevance re-ranking:
    greedily pick ``k`` results from the exact top-``pool`` cosine
    candidates, each step maximizing ``lam*rel - (1-lam)*max_sim`` to the
    already-selected set (Carbonell & Goldstein 1998) — the standard
    redundancy-killer for near-duplicate-heavy web results.

    Greedy selection is inherently sequential, but each of the ``k``
    steps touches only the ``pool`` candidates (a serving-side constant),
    so the unrolled plan is k tiny co-located joins over a
    localCheckpointed candidate set — the EXPENSIVE part (exact top-pool
    over the full embedding table) stays one distributed scan. The same
    unrolled construction mirrors to SQL (``mmr_rerank`` gate row), which
    would be impossible for a data-dependent loop.

    Determinism: rel and pairwise sims are rounded to ``COS_DECIMALS``
    BEFORE the mmr arithmetic, lam/(1-lam) are computed once driver-side
    and injected as literals in both engines, ties break on vec_id."""
    rel = cosine_topk(
        emb, query_vec, k=pool, vec_id=vec_id, vec=vec,
        exclude_self=exclude_self,
    ).withColumnRenamed("cos", "rel")
    cands = rel.join(
        emb.select(F.col(vec_id).alias("vec_id"), F.col(vec).alias("_v")),
        "vec_id",
    ).localCheckpoint()
    selected = (
        cands.orderBy(F.col("rel").desc(), F.col("vec_id").asc())
        .limit(1)
        .select(
            F.lit(1).alias("rank"), "vec_id", "rel",
            F.col("rel").alias("mmr"), "_v",
        )
        .localCheckpoint()
    )
    om = 1.0 - lam
    for step in range(2, k + 1):
        s = F.broadcast(
            selected.select(
                F.col("vec_id").alias("_sid"), F.col("_v").alias("_sv")
            )
        )
        pick = (
            cands.join(
                selected.select(F.col("vec_id").alias("_sid")),
                cands["vec_id"] == F.col("_sid"),
                "left_anti",
            )
            .crossJoin(s)
            .select(
                "vec_id", "rel", "_v",
                cosine_col(F.col("_v"), F.col("_sv")).alias("_sim"),
            )
            .groupBy("vec_id", "rel", "_v")
            .agg(F.max("_sim").alias("_maxsim"))
            .select(
                F.lit(step).alias("rank"), "vec_id", "rel",
                (
                    F.lit(lam) * F.col("rel")
                    - F.lit(om) * F.col("_maxsim")
                ).alias("mmr"),
                "_v",
            )
            .orderBy(F.col("mmr").desc(), F.col("vec_id").asc())
            .limit(1)
        )
        selected = selected.unionByName(pick).localCheckpoint()
    return selected.select(
        "rank", "vec_id", F.round("rel", COS_DECIMALS).alias("rel"),
        F.round("mmr", COS_DECIMALS).alias("mmr"),
    )


def mmr_rerank_sql(
    qid: int = 0,
    k: int = 5,
    pool: int = 20,
    lam: float = 0.7,
) -> str:
    """DuckDB mirror of :func:`mmr_rerank` over the embeddings table with
    query vector = row ``qid`` (excluded from candidates) — the same
    unrolled greedy steps as MATERIALIZED CTEs. The dot products run over
    each row's own ``len(embedding)``, like the Spark side, so any
    embedding dimension works."""
    om = 1.0 - lam
    ctes = [
        f"q AS MATERIALIZED (SELECT embedding AS qv FROM embeddings"
        f" WHERE vec_id = {qid})",
        f"""cand AS MATERIALIZED (
  SELECT vec_id, emb, rel FROM (
    SELECT e.vec_id, e.embedding AS emb,
           round(sum(list_extract(e.embedding, g.i)::DOUBLE
                     * list_extract(q.qv, g.i)::DOUBLE)
                 / (sqrt(sum(list_extract(e.embedding, g.i)::DOUBLE
                             * list_extract(e.embedding, g.i)::DOUBLE))
                    * sqrt(sum(list_extract(q.qv, g.i)::DOUBLE
                               * list_extract(q.qv, g.i)::DOUBLE))),
                 6) AS rel
    FROM embeddings e, q,
         unnest(generate_series(1, len(e.embedding))) AS g(i)
    WHERE e.vec_id <> {qid}
    GROUP BY e.vec_id, e.embedding)
  ORDER BY rel DESC, vec_id ASC LIMIT {pool})""",
        """sel1 AS MATERIALIZED (
  SELECT 1 AS rank, vec_id, rel, rel AS mmr, emb
  FROM cand ORDER BY rel DESC, vec_id ASC LIMIT 1)""",
    ]
    for i in range(2, k + 1):
        ctes.append(
            f"""ps{i} AS MATERIALIZED (
  SELECT c.vec_id, c.rel, c.emb, s.vec_id AS sid,
         round(sum(list_extract(c.emb, g.i)::DOUBLE
                   * list_extract(s.emb, g.i)::DOUBLE)
               / (sqrt(sum(list_extract(c.emb, g.i)::DOUBLE
                           * list_extract(c.emb, g.i)::DOUBLE))
                  * sqrt(sum(list_extract(s.emb, g.i)::DOUBLE
                             * list_extract(s.emb, g.i)::DOUBLE))),
               6) AS sim
  FROM cand c, sel{i - 1} s,
       unnest(generate_series(1, len(c.emb))) AS g(i)
  WHERE c.vec_id NOT IN (SELECT vec_id FROM sel{i - 1})
  GROUP BY c.vec_id, c.rel, c.emb, s.vec_id)""")
        ctes.append(
            f"""p{i} AS MATERIALIZED (
  SELECT {i} AS rank, vec_id, rel,
         {lam!r} * rel - {om!r} * max(sim) AS mmr, emb
  FROM ps{i} GROUP BY vec_id, rel, emb
  ORDER BY mmr DESC, vec_id ASC LIMIT 1)""")
        ctes.append(
            f"sel{i} AS MATERIALIZED (SELECT * FROM sel{i - 1}"
            f" UNION ALL SELECT * FROM p{i})"
        )
    return (
        "WITH " + ",\n".join(ctes)
        + f"""
SELECT rank, vec_id, rel, round(mmr, 6) AS mmr FROM sel{k}"""
    )
