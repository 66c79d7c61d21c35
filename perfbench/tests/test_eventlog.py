"""The event-log parser against a recorded log: two small index builds
(a, b), their merge into idx_L1_1, and one topk_wand on the merged index,
all on local[4]. The log was trimmed to the fields the parser reads."""

import os

import pytest

from eventlog import EventLog, log_files, union_ms
from layers import INDEXER_STAGES, _MERGE_DIR, _indexer, _per_op

DATA = os.path.join(os.path.dirname(__file__), "data")


@pytest.fixture(scope="module")
def log():
    return EventLog.read(DATA)


def _span(start_ms, end_ms):
    return {"start_ms": start_ms, "end_ms": end_ms, "dur_ms": end_ms - start_ms}


def _writes(log, prefix):
    return sorted(
        (x for x in log.executions.values()
         if x.write_path and x.write_path.startswith(prefix)),
        key=lambda x: x.start_ms)


def test_reads_rolling_directory(log):
    assert [os.path.basename(f) for f in log_files(DATA)] == [
        "events_1_build_merge_query"]
    assert len(log.jobs) == 78
    assert all(j.end_ms >= j.submit_ms for j in log.jobs.values())
    assert len(log.executions) == 22


def test_write_paths_name_every_build_stage(log):
    for index in ("a", "b"):
        got = [x.write_path.split(f"/{index}/", 1)[1]
               for x in _writes(log, f"/data/bench/{index}/")]
        assert got == list(INDEXER_STAGES)
    merged = _writes(log, "/data/bench/idx_L1_1/")
    assert {os.path.basename(x.write_path) for x in merged} == {
        "postings", "terms", "docs"}
    assert all(_MERGE_DIR.match(os.path.basename(os.path.dirname(
        x.write_path))) for x in merged)
    assert not _MERGE_DIR.match("idx_L0_1")


def test_build_span_attribution(log):
    a = _writes(log, "/data/bench/a/")
    span = _span(a[0].start_ms, a[-1].end_ms)
    m = _indexer(log, span)
    for stage in INDEXER_STAGES.values():
        assert m[f"indexer.{stage}_s"] > 0
    assert m["indexer.python_run_s"] > 0
    assert m["indexer.bytes_to_python"] > 0
    assert m["indexer.shuffle_bytes"] > 0
    assert m["indexer.task_s"] >= m["indexer.python_run_s"]
    assert m["indexer.max_to_median_task"] >= 1.0
    # every job of the span's SQL executions was submitted inside it
    ids = {x.id for x in log.executions_in(span["start_ms"], span["end_ms"])}
    in_span = log.jobs_in(span["start_ms"], span["end_ms"])
    assert {j.execution_id for j in in_span if j.execution_id is not None} \
        == ids


def test_query_span_counts(log):
    last_write = max(x.end_ms for x in log.executions.values() if x.write_path)
    end = max(j.end_ms for j in log.jobs.values())
    m = _per_op(log, [_span(last_write + 1, end)])
    assert m["jobs_per_op"] >= 1
    assert m["files_read_per_op"] >= 1
    assert m["input_bytes_per_op"] > 0
    assert 0 <= m["driver_self_ms"] <= end - last_write


def test_union_ms():
    assert union_ms([(0, 10), (5, 15), (20, 30)], 0, 100) == 25
    assert union_ms([(0, 10), (5, 15)], 8, 12) == 4
    assert union_ms([], 0, 10) == 0
