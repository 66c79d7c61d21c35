"""One benchmark run: set up, build, ingest a delivery, serve queries.

Every workload runs the same life cycle of a search index, one client in a
closed loop (each call waits for the previous one, as the ``jobs/*_job.py``
callers do). The workloads differ in sizes and in where the run's time
goes; see WORKLOADS and README.md.
"""

from __future__ import annotations

import os
import random
import resource
import shutil
import statistics
import time
from contextlib import contextmanager

from checks import batch_lists, docs_mismatch, topk_mismatch

K = 100          # jobs/query_job.py default
BATCH_QUERIES = 64
WARM_BATCH = 16  # queries in set-up's topk_batch

# workload → base pages. Both run the same life cycle.
WORKLOADS = {
    # The larger index: its build and queries work on over 3x the docs.
    "serve": 1000,
    # The small index: per-job fixed costs dominate its build, its
    # queries and the delivery merged into the serving index.
    "ingest": 300,
}
# (topk_wand, topk_distributed, phrase_docs) calls per 64-query batch
ROUND = (4, 2, 2)
MAX_ROUNDS = 16
QUERIES = BATCH_QUERIES * MAX_ROUNDS  # one batch per round, never reused
ROUND_S = 5.0  # query rounds per run: one per ROUND_S of --seconds

END_TO_END = {  # name → unit
    "setup_s": "s",
    "topk_p50_ms": "ms",
    "phrase_p50_ms": "ms",
    "dist_topk_p50_ms": "ms",
    "batch_qps": "queries/s",
    "index_docs_per_s": "docs/s",
    "index_bytes_per_text_byte": "ratio",
    "fresh_p50_s": "s",
    "driver_rss_mb": "MB",
}


class Tracer:
    """Spans kept in memory: name, epoch start/end (ms), parent name."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[str] = []

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {"name": name, "parent": self._stack[-1] if self._stack else None,
               "start_ms": time.time() * 1000.0, **attrs}
        p0 = time.perf_counter()
        self._stack.append(name)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["dur_ms"] = (time.perf_counter() - p0) * 1000.0
            rec["end_ms"] = time.time() * 1000.0
            self.spans.append(rec)

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path) for f in files
        if not f.startswith(".")
    )


class Run:
    def __init__(self, name: str, inputs: dict, cache_dir: str, run_dir: str,
                 seconds: float, spark_conf: dict, cores: int) -> None:
        self.name = name
        self.inputs = inputs
        self.cache_dir = cache_dir
        self.run_dir = run_dir
        self.seconds = seconds
        self.spark_conf = spark_conf
        self.cores = cores
        self.tracer = Tracer()
        self.attempted = 0
        self.failures: list[str] = []
        self.samples: dict[str, list[float]] = {}
        self.build: dict = {}
        self.topk_queries: list[str] = []
        self.topk_results = 0
        self.phrase_docids: dict[str, list[int]] = {}
        self.delivered_bytes = 0
        self.delivered_docs = 0
        self.base_path = None
        self.spark = None
        self.watched = os.path.join(run_dir, "landing")
        self.ingest_dir = os.path.join(run_dir, "ingest")

    # -- bookkeeping -------------------------------------------------------

    def _timed(self, op: str, fn, **attrs):
        """Run one timed operation ``fn()``; None if it raised (counted
        failed). ``attrs`` go on the span."""
        self.attempted += 1
        with self.tracer.span(op, **attrs) as s:
            try:
                out = fn()
            except Exception as exc:  # a failed op is a result, not a crash
                s["error"] = repr(exc)
                self.failures.append(f"{op}: {exc!r}"[:300])
                return None
        self.samples.setdefault(op, []).append(s["dur_ms"])
        return out

    def _fail(self, what: str, reason: str | None) -> None:
        if reason:
            self.failures.append(f"{what}: {reason}"[:300])

    # -- phases ------------------------------------------------------------

    def setup(self) -> None:
        """Session start, then delivery 0 through run_ingest and one of
        each query operation on its serving index. That delivery starts the
        stream cold, runs the first build of the session (a first build is
        slower) and joins no index; after it, the timed delivery is a build
        plus one merge into the serving index."""
        from search_engine_spark.operators import query as Q
        from search_engine_spark.session import get_spark
        from search_engine_spark.streaming.indexing import run_ingest

        with self.tracer.span("setup"):
            with self.tracer.span("session"):
                self.spark = get_spark(
                    app_name=f"perfbench-{self.name}", cores=self.cores,
                    extra_conf=self.spark_conf)
            os.makedirs(self.watched)
            staged = self._stage(0)
            with self.tracer.span("warm_ingest"):
                self._land(0, staged)
                serving = run_ingest(self.spark, self.watched, self.ingest_dir)
            idx = self._check_serving(0, serving)
            qs = self.inputs["queries"]
            with self.tracer.span("warm_queries"):
                Q.topk_wand(idx, qs[0], k=K)
                # both terms are common, so the whole phrase path runs
                Q.phrase_docs(idx, "prince andrew")
                Q.topk_distributed(idx, qs[2], k=K).collect()
                Q.topk_batch(idx, dict(enumerate(qs[:WARM_BATCH])),
                             k=K).collect()

    def build_base(self):
        from search_engine_spark.operators import query as Q
        from search_engine_spark.operators.indexer import build_index

        out = os.path.join(self.run_dir, "index")
        pages = self.spark.read.parquet(os.path.join(self.cache_dir, "base"))
        stats = self._timed("build", lambda: build_index(pages, out))
        if stats is None:
            raise RuntimeError("base build failed: " + self.failures[-1])
        facts = self.inputs["facts"]["base"]
        self._fail("build n_docs", None if stats["n_docs"] == facts[
            "en_docs_with_tokens"] else f"{stats['n_docs']} docs, expected "
            f"{facts['en_docs_with_tokens']} en pages with tokens")
        self.build = {
            "n_docs": stats["n_docs"],
            "wall_s": self.samples["build"][-1] / 1000.0,
            "index_bytes": sum(
                dir_bytes(os.path.join(out, t))
                for t in ("docs", "terms", "postings")),
            "text_bytes": facts["en_text_bytes"],
        }
        self.base_path = out
        # the index's docid is the rank of the url among the en pages
        rank = {u: i for i, u in enumerate(sorted(facts["en_urls"]))}
        self.phrase_docids = {
            p: sorted(rank[u] for u in urls)
            for p, urls in facts["phrase_urls"].items()}
        return Q.load_index(self.spark, out)

    def round(self, idx, batch: list[str], n_topk: int, n_dist: int,
              phrases: list[str], rng: random.Random) -> None:
        """One 64-query topk_batch plus topk_wand and topk_distributed calls
        on queries of that batch (the batch is their reference) and
        phrase_docs calls, in seeded order."""
        from search_engine_spark.operators import query as Q

        ops = [("topk", q) for q in batch[:n_topk]]
        ops += [("dist", q) for q in batch[n_topk : n_topk + n_dist]]
        ops += [("phrase", p) for p in phrases]
        ops.append(("batch", None))
        rng.shuffle(ops)
        single: list[tuple[str, str, list]] = []
        ref = None
        for op, arg in ops:
            if op == "topk":
                out = self._timed(
                    "topk", lambda: Q.topk_wand(idx, arg, k=K), query=arg)
                if out is not None:
                    self.topk_queries.append(arg)
                    self.topk_results += len(out)
            elif op == "dist":
                rows = self._timed("dist", lambda: Q.topk_distributed(
                    idx, arg, k=K).collect(), query=arg)
                out = None if rows is None else [
                    (int(x["docid"]), float(x["score"])) for x in rows]
            elif op == "phrase":
                out = self._timed(
                    "phrase", lambda: Q.phrase_docs(idx, arg), phrase=arg)
                if out is not None:
                    self._fail(f"phrase {arg!r} vs pages",
                               docs_mismatch(out, self.phrase_docids[arg]))
                continue
            else:
                rows = self._timed("batch", lambda: Q.topk_batch(
                    idx, dict(enumerate(batch)), k=K).collect())
                if rows is not None:
                    ref, reason = batch_lists(rows, K)
                    self._fail("batch", reason)
                continue
            if out is not None:
                single.append((op, arg, out))
        for op, q, out in single:
            if ref is not None:
                self._fail(f"{op} {q!r} vs batch",
                           topk_mismatch(out, ref.get(batch.index(q), [])))

    def query_loop(self, idx) -> None:
        """A fixed number of rounds on the base index: one per ROUND_S of
        ``--seconds``, at least one. The count does not
        depend on how fast the host is, so a faster engine does the same
        work, not more of it. Each round takes fresh queries and phrases
        from the seeded streams. Afterwards one seeded phrase is compared
        with phrase_docs_distributed."""
        from search_engine_spark.operators import query as Q

        n_topk, n_dist, n_phrase = ROUND
        qs, phrases = self.inputs["queries"], self.inputs["phrases"]
        rng = random.Random(f"mix-{self.inputs['seed']}")
        rounds = min(MAX_ROUNDS, max(1, round(self.seconds / ROUND_S)))
        for r in range(rounds):
            batch = qs[r * BATCH_QUERIES : (r + 1) * BATCH_QUERIES]
            ph = [phrases[(r * n_phrase + j) % len(phrases)]
                  for j in range(n_phrase)]
            self.round(idx, batch, n_topk, n_dist, ph, rng)
        sample = rng.choice(phrases[: rounds * n_phrase])
        got = [int(x["docid"]) for x in
               Q.phrase_docs_distributed(idx, sample).collect()]
        self._fail(f"phrase_docs_distributed {sample!r} vs pages",
                   docs_mismatch(got, self.phrase_docids[sample]))

    def _stage(self, i: int) -> str:
        """Copy delivery ``i`` next to the watched directory."""
        staged = os.path.join(self.run_dir, f"staged{i}.parquet")
        shutil.copyfile(os.path.join(
            self.cache_dir, "deliveries", f"d{i:03d}.parquet"), staged)
        self.delivered_docs += self.inputs["facts"][f"d{i}"][
            "en_docs_with_tokens"]
        return staged

    def _land(self, i: int, staged: str) -> None:
        """A rename into the watched directory, as a finished upload
        appears."""
        os.replace(staged, os.path.join(self.watched, f"d{i:03d}.parquet"))

    def _check_serving(self, i: int, serving: str | None):
        """The serving index after delivery ``i``, checked to hold every
        doc delivered so far; None if it does not exist."""
        from search_engine_spark.operators import query as Q

        if serving is None:
            self._fail(f"delivery {i}", "run_ingest returned no index")
            return None
        idx = Q.load_index(self.spark, serving)
        self._fail(f"delivery {i} n_docs", None if
                   idx.stats["n_docs"] == self.delivered_docs else
                   f"{idx.stats['n_docs']} docs, delivered "
                   f"{self.delivered_docs}")
        return idx

    def deliver(self) -> None:
        """Land delivery 1 and run run_ingest; check that the serving index
        it returns holds every doc delivered so far."""
        from search_engine_spark.streaming.indexing import run_ingest

        staged = self._stage(1)
        self.delivered_bytes += os.path.getsize(staged)

        def land_and_ingest():
            self._land(1, staged)
            return run_ingest(self.spark, self.watched, self.ingest_dir)

        self._check_serving(1, self._timed("fresh", land_and_ingest))

    def topk_path_share(self, idx) -> dict:
        """Which path topk_wand took for the loop's queries (its own rule:
        bulk when the query terms' mean df is >= BULK_SCORE_DF_FRACTION of
        the docs), and postings read per returned result."""
        from pyspark.sql import functions as F

        from search_engine_spark.operators import query as Q

        if not self.topk_queries:
            return {"bulk_share": 0.0, "postings_per_result": 0.0}
        terms = {q: Q.parse_query(q) for q in self.topk_queries}
        all_terms = sorted({t for ts in terms.values() for t in ts})
        df = {r["term"]: r["df"] for r in idx.terms.filter(
            F.col("term").isin(all_terms)).select("term", "df").collect()}
        n = max(1, idx.stats["n_docs"])
        bulk = postings = 0
        for q in self.topk_queries:
            present = [df[t] for t in terms[q] if t in df]
            postings += sum(present)
            if present and sum(present) / len(present) >= (
                    Q.BULK_SCORE_DF_FRACTION * n):
                bulk += 1
        return {"bulk_share": bulk / len(self.topk_queries),
                "postings_per_result": postings / max(1, self.topk_results)}

    # -- whole run ---------------------------------------------------------

    def execute(self) -> dict:
        self.setup()
        idx = self.build_base()
        # queries last: the first query round after set-up still ran
        # about 15% slower than the second while the JVM warmed up
        with self.tracer.span("ingest"):
            self.deliver()
        with self.tracer.span("queries"):
            self.query_loop(idx)
        self.paths = self.topk_path_share(idx)
        return self.end_to_end()

    def phase_shares(self) -> dict[str, float]:
        """Each timed phase's share of the timed wall time."""
        dur = {p: self.tracer.named(p)[0]["dur_ms"]
               for p in ("build", "queries", "ingest")}
        return {p: d / sum(dur.values()) for p, d in dur.items()}

    def end_to_end(self) -> dict[str, float]:
        med = lambda op: statistics.median(self.samples[op])  # noqa: E731
        return {
            "setup_s": self.tracer.named("setup")[0]["dur_ms"] / 1000.0,
            "topk_p50_ms": med("topk"),
            "phrase_p50_ms": med("phrase"),
            "dist_topk_p50_ms": med("dist"),
            "batch_qps": BATCH_QUERIES * 1000.0 / med("batch"),
            "index_docs_per_s": self.build["n_docs"] / self.build["wall_s"],
            "index_bytes_per_text_byte":
                self.build["index_bytes"] / self.build["text_bytes"],
            "fresh_p50_s": med("fresh") / 1000.0,
            "driver_rss_mb":
                resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0,
        }
