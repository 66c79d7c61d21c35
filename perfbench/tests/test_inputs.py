import pyarrow.parquet as pq

from inputs import BROAD_RANKS, materialize, plan, query_stream, window_start
from search_engine_spark.corpus import VOCAB

BASE_DOCS = 30


def test_same_seed_same_plan():
    assert plan(BASE_DOCS, 7, 64) == plan(BASE_DOCS, 7, 64)
    a, b = plan(BASE_DOCS, 7, 64), plan(BASE_DOCS, 8, 64)
    assert a["base"] != b["base"] and a["queries"] != b["queries"]
    assert window_start(7) % 100 == 0


def test_query_mix_is_half_broad():
    broad = set(VOCAB[BROAD_RANKS[0]:BROAD_RANKS[1]])
    qs = query_stream(3, 200)
    assert len(set(qs)) == 200
    assert [q.split()[0] in broad for q in qs[:4]] == [True, False] * 2
    assert sum(1 for q in qs if q.split()[0] in broad) == 100


def test_same_seed_same_pages(tmp_path):
    a = materialize(BASE_DOCS, 5, 64, str(tmp_path / "a"), procs=1)
    b = materialize(BASE_DOCS, 5, 64, str(tmp_path / "b"), procs=1)
    assert a == b
    for part in ("base", "deliveries"):
        ta = pq.read_table(str(tmp_path / "a" / part)).to_pylist()
        tb = pq.read_table(str(tmp_path / "b" / part)).to_pylist()
        assert ta == tb and ta
    # the cache is reused as is
    assert materialize(BASE_DOCS, 5, 64, str(tmp_path / "a"), procs=1) == a
