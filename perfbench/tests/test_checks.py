from checks import batch_lists, docs_mismatch, topk_mismatch

REF = [(7, 3.25), (2, 1.5), (9, 1.5)]


def rows(qid, pairs):
    return [{"qid": qid, "docid": d, "score": s, "rank": r}
            for r, (d, s) in enumerate(pairs, 1)]


def test_topk_identical_passes():
    assert topk_mismatch(list(REF), REF) is None
    # equal at SCORE_ROUND (9 dp) is equal
    assert topk_mismatch([(7, 3.25 + 1e-12), (2, 1.5), (9, 1.5)], REF) is None


def test_wrong_topk_is_flagged():
    assert "docid" in topk_mismatch([(2, 3.25), (7, 1.5), (9, 1.5)], REF)
    assert "score" in topk_mismatch([(7, 3.2501), (2, 1.5), (9, 1.5)], REF)
    assert "results" in topk_mismatch(REF[:2], REF)


def test_batch_lists():
    got, reason = batch_lists(rows(0, REF) + rows(1, REF[:1]), k=3)
    assert reason is None and got == {0: REF, 1: REF[:1]}
    _, reason = batch_lists(rows(0, [(2, 1.5), (7, 3.25)]), k=3)
    assert "order" in reason
    _, reason = batch_lists(rows(0, REF), k=2)
    assert "ranks" in reason


def test_docs_mismatch():
    assert docs_mismatch([3, 1], [1, 3]) is None
    assert docs_mismatch([1], [1, 3]) is not None
