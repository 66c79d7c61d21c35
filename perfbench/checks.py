"""Output checks. Each returns None when the output is right, else a
one-line reason; the caller counts the operation as failed."""

from __future__ import annotations

from search_engine_spark.operators.query import SCORE_ROUND


def topk_mismatch(got: list[tuple[int, float]],
                  want: list[tuple[int, float]]) -> str | None:
    """Rank-identical docids with scores equal at SCORE_ROUND."""
    if len(got) != len(want):
        return f"{len(got)} results, reference has {len(want)}"
    for rank, ((gd, gs), (wd, ws)) in enumerate(zip(got, want), 1):
        if gd != wd:
            return f"rank {rank}: docid {gd}, reference {wd}"
        if round(gs, SCORE_ROUND) != round(ws, SCORE_ROUND):
            return f"rank {rank}: score {gs!r}, reference {ws!r}"
    return None


def batch_lists(rows, k: int) -> tuple[dict[int, list[tuple[int, float]]],
                                       str | None]:
    """topk_batch rows → {qid: [(docid, score)]} in rank order, plus a
    reason if the ranks are not 1..n, exceed k, or break the
    (score desc, docid asc) order."""
    by_q: dict[int, list[tuple[int, int, float]]] = {}
    for r in rows:
        by_q.setdefault(int(r["qid"]), []).append(
            (int(r["rank"]), int(r["docid"]), float(r["score"])))
    out: dict[int, list[tuple[int, float]]] = {}
    for qid, lst in by_q.items():
        lst.sort()
        if [x[0] for x in lst] != list(range(1, len(lst) + 1)) or len(lst) > k:
            return out, f"query {qid}: ranks are not 1..n<=k"
        pairs = [(d, s) for _, d, s in lst]
        if pairs != sorted(pairs, key=lambda p: (-p[1], p[0])):
            return out, f"query {qid}: not in (score desc, docid asc) order"
        out[qid] = pairs
    return out, None


def docs_mismatch(got: list[int], want: list[int]) -> str | None:
    if sorted(got) != sorted(want):
        return f"{len(got)} docs, reference has {len(want)}"
    return None
