"""Per-layer metrics of a traced run.

Spark-side counts come from the event log (eventlog.py), attributed to the
benchmark's spans; kernel rates are measured here with no Spark at all.
Every name below is printed by every traced run (PER_LAYER lists them with
their units).
"""

from __future__ import annotations

import glob
import os
import re
import statistics
import time

from eventlog import EventLog, union_ms

QUERY_OPS = ("topk", "phrase", "dist", "batch")
INDEXER_STAGES = {  # table a build's SQL execution writes → stage
    "_stage/ranged_snapshot": "snapshot",
    "_stage/postings_raw": "tokenize",
    "docs": "docs",
    "terms": "terms",
    "postings": "blocks",
}
_MERGE_DIR = re.compile(r"^(idx_L[1-9]\d*|serving)_\d+$")

PER_LAYER: dict[str, str] = {"session.start_s": "s"}
PER_LAYER.update({f"indexer.{s}_s": "s" for s in INDEXER_STAGES.values()})
PER_LAYER.update({
    "indexer.task_s": "s",
    "indexer.python_run_s": "s",
    "indexer.bytes_to_python": "bytes",
    "indexer.shuffle_bytes": "bytes",
    "indexer.max_to_median_task": "ratio",
    "text.doc_postings_docs_per_s": "docs/s",
    "codec.decode_postings_per_s": "postings/s",
    "codec.encode_postings_per_s": "postings/s",
})
for _op in QUERY_OPS:
    PER_LAYER.update({
        f"query.{_op}.jobs_per_op": "count",
        f"query.{_op}.job_ms_per_op": "ms",
        f"query.{_op}.driver_self_ms": "ms",
        f"query.{_op}.python_run_ms_per_op": "ms",
        f"query.{_op}.shuffle_bytes_per_op": "bytes",
        f"catalog.{_op}.input_bytes_per_op": "bytes",
        f"catalog.{_op}.files_read_per_op": "count",
    })
PER_LAYER.update({
    "query.topk.bulk_share": "ratio",
    "query.topk.postings_per_result": "count",
    "merge.s_per_delivery": "s",
    "merge.bytes_written_per_delivered_byte": "ratio",
    "streaming.jobs_per_delivery": "count",
    "streaming.driver_self_s_per_delivery": "s",
    "spark.jobs": "count",
    "spark.task_s_per_wall_s": "ratio",
})


def _self_ms(log: EventLog, span: dict) -> float:
    """Span duration minus the part of it covered by its jobs."""
    lo, hi = span["start_ms"], span["end_ms"]
    jobs = log.jobs_in(lo, hi)
    return span["dur_ms"] - union_ms(
        [(j.submit_ms, j.end_ms or hi) for j in jobs], lo, hi)


def _per_op(log: EventLog, spans: list[dict]) -> dict[str, float]:
    n = max(1, len(spans))
    jobs = [j for s in spans for j in log.jobs_in(s["start_ms"], s["end_ms"])]
    tasks = log.tasks_of(jobs)
    execs = [x for s in spans
             for x in log.executions_in(s["start_ms"], s["end_ms"])]
    return {
        "jobs_per_op": len(jobs) / n,
        "job_ms_per_op": sum(max(0, j.end_ms - j.submit_ms) for j in jobs) / n,
        "driver_self_ms": sum(_self_ms(log, s) for s in spans) / n,
        "python_run_ms_per_op": sum(t.python_run_ms for t in tasks) / n,
        "shuffle_bytes_per_op": sum(t.shuffle_write_bytes for t in tasks) / n,
        "input_bytes_per_op": sum(t.input_bytes for t in tasks) / n,
        "files_read_per_op": sum(
            x.driver_metrics.get("number of files read", 0) for x in execs) / n,
    }


def _indexer(log: EventLog, span: dict) -> dict[str, float]:
    out = {f"indexer.{s}_s": 0.0 for s in INDEXER_STAGES.values()}
    for x in log.executions_in(span["start_ms"], span["end_ms"]):
        for suffix, stage in INDEXER_STAGES.items():
            if x.write_path and x.write_path.endswith("/" + suffix):
                out[f"indexer.{stage}_s"] += x.duration_ms / 1000.0
    jobs = log.jobs_in(span["start_ms"], span["end_ms"])
    tasks = log.tasks_of(jobs)
    stages = log.stage_tasks(jobs)
    heavy = max(stages.values(), key=lambda ts: sum(t.run_ms for t in ts))
    med = statistics.median(t.run_ms for t in heavy)
    out.update({
        "indexer.task_s": sum(t.run_ms for t in tasks) / 1000.0,
        "indexer.python_run_s": sum(t.python_run_ms for t in tasks) / 1000.0,
        "indexer.bytes_to_python": float(sum(t.bytes_to_python for t in tasks)),
        "indexer.shuffle_bytes": float(sum(t.shuffle_write_bytes for t in tasks)),
        "indexer.max_to_median_task": max(t.run_ms for t in heavy) / max(1, med),
    })
    return out


def _ingest(log: EventLog, spans: list[dict], delivered_bytes: int):
    n = max(1, len(spans))
    merge_s = merge_bytes = 0.0
    jobs = 0
    for s in spans:
        span_jobs = log.jobs_in(s["start_ms"], s["end_ms"])
        jobs += len(span_jobs)
        merge_ids = set()
        for x in log.executions_in(s["start_ms"], s["end_ms"]):
            if x.write_path and _MERGE_DIR.match(
                    os.path.basename(os.path.dirname(x.write_path))):
                merge_s += x.duration_ms / 1000.0
                merge_ids.add(x.id)
        merge_bytes += sum(
            t.output_bytes for t in log.tasks_of(
                [j for j in span_jobs if j.execution_id in merge_ids]))
    return {
        "merge.s_per_delivery": merge_s / n,
        "merge.bytes_written_per_delivered_byte":
            merge_bytes / max(1, delivered_bytes),
        "streaming.jobs_per_delivery": jobs / n,
        "streaming.driver_self_s_per_delivery":
            sum(_self_ms(log, s) for s in spans) / n / 1000.0,
    }


def kernels(base_dir: str, index_dir: str, budget_s: float = 0.5) -> dict:
    """Tokenizer/stemmer and codec rates in this process, no Spark."""
    import pyarrow.parquet as pq

    from search_engine_spark.functions.codec import (
        decode_block_np, encode_block_arrays)
    from search_engine_spark.oracle.text import doc_postings

    first = sorted(glob.glob(os.path.join(base_dir, "*.parquet")))[0]
    tbl = pq.read_table(first, columns=["text", "lang"]).to_pydict()
    texts = [t for t, lang in zip(tbl["text"], tbl["lang"]) if lang == "en"]
    for t in texts[:20]:  # fill the token cache, as a running worker has
        doc_postings(t)

    def rate(fn, items, per_item) -> float:
        work = 0
        t0 = time.perf_counter()
        while True:
            for it in items:
                fn(it)
                work += per_item(it)
            dt = time.perf_counter() - t0
            if dt >= budget_s:
                return work / dt

    blocks = pq.read_table(os.path.join(index_dir, "postings"),
                           columns=["block", "n"]).to_pydict()
    blobs = list(zip(blocks["block"], blocks["n"]))
    decoded = [decode_block_np(b, positions=True) for b, _ in blobs]
    return {
        "text.doc_postings_docs_per_s": rate(doc_postings, texts, lambda _: 1),
        "codec.decode_postings_per_s": rate(
            lambda bn: decode_block_np(bn[0]), blobs, lambda bn: bn[1]),
        "codec.encode_postings_per_s": rate(
            lambda d: encode_block_arrays(d[0], d[1], d[4], d[3], d[2]),
            decoded, lambda d: len(d[0])),
    }


def per_layer(run, log_dir: str) -> dict[str, float]:
    """Every PER_LAYER metric for a finished, stopped run."""
    log = EventLog.read(log_dir)
    t = run.tracer
    out = {"session.start_s": t.named("session")[0]["dur_ms"] / 1000.0}
    out.update(_indexer(log, t.named("build")[0]))
    for op in QUERY_OPS:
        for k, v in _per_op(log, t.named(op)).items():
            layer = "catalog" if k in ("input_bytes_per_op",
                                       "files_read_per_op") else "query"
            out[f"{layer}.{op}.{k}"] = v
    out["query.topk.bulk_share"] = run.paths["bulk_share"]
    out["query.topk.postings_per_result"] = run.paths["postings_per_result"]
    out.update(_ingest(log, t.named("fresh"), run.delivered_bytes))
    timed = [s for s in t.spans if s["name"] in ("build", "queries", "ingest")]
    lo = min(s["start_ms"] for s in timed)
    hi = max(s["end_ms"] for s in timed)
    jobs = log.jobs_in(lo, hi)
    out["spark.jobs"] = float(len(jobs))
    out["spark.task_s_per_wall_s"] = (
        sum(x.run_ms for x in log.tasks_of(jobs)) / max(1.0, hi - lo))
    out.update(kernels(os.path.join(run.cache_dir, "base"), run.base_path))
    return out
