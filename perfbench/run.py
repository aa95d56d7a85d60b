#!/usr/bin/env python3
"""Benchmark of the index build and the BM25 serving paths.

    python3 perfbench/run.py --workload query --seed 1 --seconds 12 --trace 0

Run from the repository root.  Each run starts one ``local[nproc]`` Spark
session, stages a seeded corpus, builds a fresh index, serves a closed-loop
stream of point queries with an OR batch every few queries, checks the
results, and prints one JSON line: with ``--trace 0`` every end-to-end
metric, with ``--trace 1`` every per-layer metric (a separate, slower run
that also times each layer's public call on its own and runs one ingest
cycle).  Everything it writes stays under ``.perfbench/`` in the working
directory; see perfbench/README.md for the metrics and workloads.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

STAGE_REPS = 3  # corpus stagings per run; setup_s uses their median
TAIL_PCT = 75  # the highest percentile with >= 10 of a run's point queries beyond it
ENGINE_CHECK_TAILS = 20  # tail queries re-checked against the compressed path
OR_CHECK_QUERIES = 40  # queries of the first OR batch re-scored on the driver
WARM_BATCH_ROUND = 1_000_000  # batch_queries round of the untimed warm-up batch
N_DELETE = 100  # live docs the traced ingest cycle tombstones

E2E_UNITS = {
    "setup_s": "s",
    "build_docs_per_s": "docs/s",
    "stored_bytes_per_input_byte": "ratio",
    "serve_p50_ms": "ms",
    "serve_p75_ms": "ms",
    "serve_qps": "1/s",
    "batch_qps": "1/s",
    "driver_peak_rss_mb": "MB",
}

SELF_SPANS = (
    "perfbench.setup",
    "plans.build.build_index",
    "operators.wand.engine_open",
    "plans.build.load_index",
    "operators.wand.Bm25QueryEngine",
    "operators.wand.Bm25QueryEngine.query",
    "operators.wand.bm25_topk_compressed",
    "perfbench.checks",
    "perfbench.ingest_cycle",
    "plans.merge.build_index_incremental",
    "plans.delete.delete_docs",
    "plans.delete.load_tombstones",
    "plans.delete.compact_index",
)

LAYER_UNITS = {
    "sources.corpus.with_doc_ids_s": "s",
    "operators.bm25.tf_mapside_s": "s",
    "operators.bm25.tf_rows": "count",
    "operators.dedup.fingerprints_s": "s",
    "operators.dedup.dup_pairs_s": "s",
    "operators.dedup.survivor_share": "ratio",
    "operators.postings.encode_s": "s",
    "operators.postings.bytes_per_posting": "B",
    "plans.build.stage_tf_s": "s",
    "plans.build.stage_dedup_s": "s",
    "plans.build.stage_shards_s": "s",
    "plans.build.stage_finalize_s": "s",
    "spark.jvm_peak_rss_mb": "MB",
    "spark.build.jobs": "count",
    "spark.build.tasks": "count",
    "spark.build.failed_tasks": "count",
    "operators.wand.engine_hit_share": "ratio",
    "operators.wand.engine_jobs_per_query": "count",
    "operators.wand.engine_hit_p50_ms": "ms",
    "operators.wand.engine_miss_p50_ms": "ms",
    "operators.bm25.query_terms_s": "s",
    "operators.wand.batch_s": "s",
    "spark.batch.jobs": "count",
    "spark.batch.tasks": "count",
    "plans.merge.build_index_incremental_s": "s",
    "plans.merge.docs_per_s": "docs/s",
    "spark.merge.jobs": "count",
    "operators.wand.engine_open_s": "s",
    "plans.delete.delete_docs_ms": "ms",
    "plans.delete.compact_index_s": "s",
    "spark.compact.jobs": "count",
    "sources.io.postings_files": "count",
    "ingest.fresh_s": "s",
    "ingest.query_p50_ms": "ms",
    "trace.build_docs_per_s": "docs/s",
    "trace.serve_p50_ms": "ms",
    "trace.serve_qps": "1/s",
    "trace.batch_qps": "1/s",
    "trace.spans": "count",
    "trace.record_ms": "ms",
    **{f"self_s.{name}": "s" for name in SELF_SPANS},
}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _same_rows(a, b) -> bool:
    """Equal (rank, docID, score) rows, exactly."""
    cols = ["rank", "docID", "score"]

    def canon(df):
        df = df.sort_values("rank")[cols].reset_index(drop=True)
        return df.astype({"rank": "int64", "docID": "int64", "score": "float64"})

    return canon(a).equals(canon(b))


def _by_query(pdf) -> dict:
    return {q: g for q, g in pdf.groupby("query")}


def _no_rows(pdf):
    return pdf.iloc[0:0]


def _alive(pid: int) -> bool:
    """Running and not yet a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return False
    return stat[stat.rfind(")") + 2] != "Z"


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Bench:
    def __init__(self, args, workload, work: Path):
        from perfbench.stats import Tally
        from perfbench.trace import Tracer

        self.w = workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.traced = bool(args.trace)
        self.work = work
        self.tally = Tally()
        self.tracer = Tracer(self.traced)
        self.spark = None
        self.layer: dict[str, float] = {}
        self.phases: dict[str, float] = {}
        self._t = time.perf_counter()

    def mark(self, phase: str) -> None:
        """Wall since the previous mark, for the run's stderr summary."""
        now = time.perf_counter()
        self.phases[phase] = round(now - self._t, 2)
        self._t = now

    # ---- session -----------------------------------------------------------
    def start_session(self):
        from searchenginesimple_spark.session import get_spark

        for d in ("tmp", "local", "warehouse"):
            (self.work / d).mkdir(parents=True, exist_ok=True)
        # executors' Python workers import the program from the checkout
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
        )
        os.environ["TMPDIR"] = str(self.work / "tmp")
        os.environ["SPARK_LOCAL_DIRS"] = str(self.work / "local")
        nproc = len(os.sched_getaffinity(0))
        self.spark = get_spark(
            "perfbench",
            master=f"local[{nproc}]",
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.sql.warehouse.dir": str(self.work / "warehouse"),
                "spark.local.dir": str(self.work / "local"),
                "spark.driver.extraJavaOptions": (
                    f"-Djava.io.tmpdir={self.work / 'tmp'} -XX:-UsePerfData"
                ),
            },
        )
        self.nproc = nproc

    def stop_session(self) -> None:
        """Stop Spark, end the JVM and every process under it, and wait."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        from perfbench.measure import proc_children

        proc = self.spark.sparkContext._gateway.proc
        tree, todo = [], [proc.pid]
        while todo:
            pid = todo.pop()
            tree.append(pid)
            todo.extend(proc_children(pid))
        self.spark.stop()
        self.spark = None
        if SparkContext._gateway is not None:
            SparkContext._gateway.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        deadline = time.time() + 20
        for pid in tree[1:]:
            while _alive(pid) and time.time() < deadline:
                time.sleep(0.05)
            if _alive(pid):
                try:
                    os.kill(pid, 9)
                except ProcessLookupError:
                    pass

    # ---- phases ------------------------------------------------------------
    def stage_corpus(self) -> float:
        """Generate base + delta docs with the program's distributed corpus
        generator and write them as raw parquet (base and delta split by the
        generator's doc index, which the path carries)."""
        from pyspark.sql import functions as F

        from perfbench.workloads import DELTA_DOCS
        from searchenginesimple_spark.sources.corpus import docs_df_distributed

        w = self.w
        t0 = time.perf_counter()
        idx = F.regexp_extract("path", r"/f(\d+)\.", 1).cast("long")
        (
            docs_df_distributed(self.spark, w.n_docs + DELTA_DOCS, self.seed, partitions=self.nproc)
            .withColumn("part", F.when(idx < w.n_docs, "base").otherwise("delta"))
            .write.mode("overwrite")
            .partitionBy("part")
            .parquet(str(self.work / "raw"))
        )
        return time.perf_counter() - t0

    def open_engine(self, io, tombstones: bool):
        from searchenginesimple_spark.operators.wand import Bm25QueryEngine
        from searchenginesimple_spark.plans.build import load_index
        from searchenginesimple_spark.plans.delete import load_tombstones

        span = self.tracer.span
        t0 = time.perf_counter()
        with span("operators.wand.engine_open"):
            with span("plans.build.load_index"):
                post, dsp, idx = load_index(io)
            tomb = None
            if tombstones:
                with span("plans.delete.load_tombstones"):
                    tomb = load_tombstones(io)
            with span("operators.wand.Bm25QueryEngine"):
                eng = Bm25QueryEngine(post, dsp, idx, mode="and", tombstones=tomb)
        return eng, (post, dsp, idx), time.perf_counter() - t0

    def point_query(self, eng, q: str):
        """One served point query → (result, latency s, Spark jobs or None)."""
        span = self.tracer.span
        if not self.traced:
            t0 = time.perf_counter()
            res = self.tally.call(f"point query {q!r}", eng.query, [q])
            return res, time.perf_counter() - t0, None
        with self.meter.group("point") as work:
            with span("operators.wand.Bm25QueryEngine.query"):
                t0 = time.perf_counter()
                res = self.tally.call(f"point query {q!r}", eng.query, [q])
                dt = time.perf_counter() - t0
        return res, dt, work.jobs

    def run_batch(self, parts, qs: list[str]):
        from searchenginesimple_spark.operators.wand import bm25_topk_compressed
        from searchenginesimple_spark.sources.corpus import queries_df

        post, dsp, idx = parts
        with self.meter.group("batch") as work, self.tracer.span(
            "operators.wand.bm25_topk_compressed"
        ):
            t0 = time.perf_counter()
            df = bm25_topk_compressed(
                post, dsp, idx, queries_df(self.spark, qs), mode="or", fastpath_max_bytes=None
            )
            pdf = self.tally.call("OR batch", df.toPandas)
            wall = time.perf_counter() - t0
        plan = df._jdf.queryExecution().executedPlan().toString()
        self.tally.ok("MapInPandas" in plan, "OR batch took the distributed path")
        return pdf, wall, work

    def run(self) -> dict:
        from perfbench.measure import (
            SparkMeter,
            build_metrics_rows,
            dir_bytes,
            peak_rss_mb,
            stage_walls,
            staged_content_bytes,
        )
        from perfbench.trace import self_times
        from perfbench.workloads import (
            BATCH_EVERY,
            BATCH_SIZE,
            MIN_BATCHES,
            batch_queries,
            head_queries,
            point_stream,
        )
        from searchenginesimple_spark.plans.build import build_index
        from searchenginesimple_spark.sources.io import TableIO

        w, span, tally = self.w, self.tracer.span, self.tally

        # ---- set-up: session + corpus staging --------------------------------
        with span("perfbench.setup"):
            t0 = time.perf_counter()
            self.start_session()
            session_s = time.perf_counter() - t0
            stage_s = [self.stage_corpus() for _ in range(STAGE_REPS)]
        self.meter = SparkMeter(self.spark)
        setup_s = session_s + statistics.median(stage_s)
        self.mark("setup")
        base = self.spark.read.parquet(str(self.work / "raw" / "part=base"))

        # ---- full build into a fresh index root --------------------------------
        index_root = str(self.work / "index")
        io = TableIO(self.spark, index_root)
        with self.meter.group("build") as build_work, span("plans.build.build_index"):
            t0 = time.perf_counter()
            res = build_index(self.spark, base, io)
            build_s = time.perf_counter() - t0
        stored = dir_bytes(index_root)
        rows = build_metrics_rows(io, res.run_id)
        walls, input_bytes = stage_walls(rows), staged_content_bytes(rows)
        self.mark("build")

        # ---- serve: closed loop, one client --------------------------------------
        eng, parts, _open_s = self.open_engine(io, tombstones=False)
        # a serving process's head queries are hot: fill the cache with them
        # before timing, so the timed mix is hits and first-sight misses
        self.tally.call("warm-up queries", eng.query, head_queries(self.seed, w.n_docs, w.head_pool))
        # ... and its batch path has compiled its plan once
        self.run_batch(parts, batch_queries(self.seed, WARM_BATCH_ROUND, BATCH_SIZE))
        self.mark("open+warm")
        stream = point_stream(w, self.seed)
        first: dict[str, object] = {}
        kinds: dict[str, str] = {}
        lat: list[float] = []
        jobs: list[int] = []
        batch_walls: list[float] = []
        batch_work = []
        first_batch = None
        serve_s = 0.0
        deadline = time.perf_counter() + self.seconds
        while True:
            block = 0
            # the window closes on whole blocks of ten, which hold the exact
            # head/tail mix
            while block < BATCH_EVERY and (block % 10 or time.perf_counter() < deadline):
                block += 1
                kind, q = next(stream)
                out, dt, n_jobs = self.point_query(eng, q)
                serve_s += dt
                lat.append(dt)
                if n_jobs is not None:
                    jobs.append(n_jobs)
                if out is None:
                    continue
                if q in first:
                    tally.ok(_same_rows(out, first[q]), f"repeat of {q!r} changed its result")
                else:
                    first[q], kinds[q] = out, kind
            ended = time.perf_counter() >= deadline
            if ended and len(batch_walls) >= MIN_BATCHES:
                break
            qs = batch_queries(self.seed, len(batch_walls), BATCH_SIZE)
            pdf, wall, work = self.run_batch(parts, qs)
            batch_walls.append(wall)
            batch_work.append(work)
            if first_batch is None:
                first_batch = (qs, pdf)
        rss_driver, rss_jvm = peak_rss_mb(self.spark)
        self.mark("serve")

        # ---- correctness -----------------------------------------------------------
        with span("perfbench.checks"):
            self.check(io, eng, parts, first, kinds, first_batch)
        self.mark("check.or_batch")

        e2e = {
            "setup_s": setup_s,
            "build_docs_per_s": w.n_docs / build_s,
            "stored_bytes_per_input_byte": stored / input_bytes,
            "serve_p50_ms": 1000 * statistics.median(lat),
            "serve_p75_ms": 1000 * self.tail(lat),
            "serve_qps": len(lat) / serve_s,
            # throughput over all of the run's batches: a mean, which moves
            # in proportion to a slow spell of the host rather than jumping
            # between its fast and slow modes the way a median of a few does
            "batch_qps": BATCH_SIZE * len(batch_walls) / sum(batch_walls),
            "driver_peak_rss_mb": rss_driver,
        }
        print(
            f"perfbench: {w.name} seed={self.seed}: {len(lat)} point queries, "
            f"{len(batch_walls)} batches {[round(b, 2) for b in batch_walls]}, build {build_s:.2f} s, "
            f"setup {setup_s:.2f} s (session {session_s:.2f} s, stagings "
            f"{[round(s, 2) for s in stage_s]})",
            file=sys.stderr,
        )
        if not self.traced:
            return {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()}

        # ---- traced run only: per-layer metrics ------------------------------------
        L = self.layer
        for stage, s in walls.items():
            L[f"plans.build.stage_{stage}_s"] = s
        L["spark.jvm_peak_rss_mb"] = rss_jvm
        L["spark.build.jobs"] = build_work.jobs
        L["spark.build.tasks"] = build_work.tasks
        L["spark.build.failed_tasks"] = build_work.failed_tasks
        hit = [dt for dt, j in zip(lat, jobs) if j == 0]
        miss = [dt for dt, j in zip(lat, jobs) if j > 0]
        L["operators.wand.engine_hit_share"] = len(hit) / len(lat)
        L["operators.wand.engine_jobs_per_query"] = statistics.mean(jobs)
        L["operators.wand.engine_hit_p50_ms"] = 1000 * statistics.median(hit) if hit else 0.0
        L["operators.wand.engine_miss_p50_ms"] = 1000 * statistics.median(miss) if miss else 0.0
        L["operators.wand.batch_s"] = statistics.median(batch_walls)
        L["spark.batch.jobs"] = statistics.median(b.jobs for b in batch_work)
        L["spark.batch.tasks"] = statistics.median(b.tasks for b in batch_work)
        self.layer_calls(io, base, first_batch[0])
        self.mark("layer_calls")
        self.ingest_cycle(io)
        self.mark("ingest_cycle")
        for name, v in (
            ("build_docs_per_s", e2e["build_docs_per_s"]),
            ("serve_p50_ms", e2e["serve_p50_ms"]),
            ("serve_qps", e2e["serve_qps"]),
            ("batch_qps", e2e["batch_qps"]),
        ):
            L[f"trace.{name}"] = v
        st = self_times(self.tracer.spans)
        for name in SELF_SPANS:
            L[f"self_s.{name}"] = st.get(name, 0.0)
        L["trace.spans"] = len(self.tracer.spans)
        L["trace.record_ms"] = 1000 * self.tracer.record_s
        return {k: {"value": L[k], "unit": u} for k, u in LAYER_UNITS.items()}

    @staticmethod
    def tail(lat: list[float]) -> float:
        """The fixed tail percentile, so two commits compare the same one;
        warns when this run's count leaves fewer than ten samples beyond it."""
        from perfbench.stats import highest_tail, percentile

        if (highest_tail(len(lat)) or 0) < TAIL_PCT:
            print(f"perfbench: fewer than 10 of {len(lat)} samples beyond p{TAIL_PCT}",
                  file=sys.stderr)
        return percentile(lat, TAIL_PCT)

    def check(self, io, eng, parts, first, kinds, first_batch) -> None:
        """Served results ≡ the compressed path ≡ the BM25 oracle; survivors ≡
        the dedup oracle; distributed OR batch ≡ the driver's.  Each compared
        query is one checked operation."""
        from searchenginesimple_spark.operators.wand import bm25_topk_compressed
        from searchenginesimple_spark.oracle import bm25_topk_oracle, dedup_survivors_oracle
        from searchenginesimple_spark.plans.build import read_docstore
        from searchenginesimple_spark.sources.corpus import QUERY_SET, queries_df

        from perfbench.workloads import head_queries

        tally, post, dsp, idx = self.tally, *parts
        heads = [q for q in first if kinds[q] == "head"]
        tails = [q for q in first if kinds[q] == "tail"][:ENGINE_CHECK_TAILS]
        oracle_qs = list(dict.fromkeys(QUERY_SET + head_queries(self.seed, self.w.n_docs, 6)))
        qs = list(dict.fromkeys(heads + tails + oracle_qs))
        comp = tally.call(
            "compressed AND batch",
            lambda: bm25_topk_compressed(post, dsp, idx, queries_df(self.spark, qs)).toPandas(),
        )
        if comp is None:
            return
        got = _by_query(comp)
        for q in heads + tails:
            tally.ok(
                _same_rows(first[q], got.get(q, _no_rows(comp))),
                f"engine != bm25_topk_compressed for {q!r}",
            )
        self.mark("check.compressed")
        docs = read_docstore(io).select("doc_id", "content").toPandas()
        want = _by_query(bm25_topk_oracle(docs, oracle_qs))
        for q in oracle_qs:
            exp, res = want.get(q), got.get(q)
            tally.ok(
                _same_rows(res, exp) if exp is not None and res is not None else exp is res,
                f"bm25_topk_compressed != bm25_topk_oracle for {q!r}",
            )

        self.mark("check.bm25_oracle")
        if self.traced and self.w.dedup_oracle:
            staged = io.read("docstore_raw").select("doc_id", "content").toPandas()
            got_surv = {int(r[0]) for r in io.read("survivors").select("doc_id").collect()}
            tally.ok(dedup_survivors_oracle(staged) == got_surv, "survivors != dedup oracle")
            self.mark("check.dedup_oracle")

        qs, dist = first_batch[0][:OR_CHECK_QUERIES], first_batch[1]
        if dist is not None:
            dist = dist[dist["query"].isin(qs)]
            fast = tally.call(
                "driver OR batch",
                lambda: bm25_topk_compressed(
                    post, dsp, idx, queries_df(self.spark, qs), mode="or"
                ).toPandas(),
            )
            if fast is not None:
                a, b = _by_query(dist), _by_query(fast)
                tally.ok(
                    a.keys() == b.keys() and all(_same_rows(a[q], b[q]) for q in a),
                    "distributed OR batch != driver OR batch",
                )

    def layer_calls(self, io, base, batch_qs) -> None:
        """Each build layer's public call on its own, forced with a noop
        write or a count, over the tables the timed build produced."""
        from pyspark.sql import functions as F

        from searchenginesimple_spark.config import DEFAULT as cfg
        from searchenginesimple_spark.operators.bm25 import query_terms, tf_mapside
        from searchenginesimple_spark.operators.dedup import fingerprints_from_tf, simhash_dup_pairs
        from searchenginesimple_spark.operators.postings import build_postings
        from searchenginesimple_spark.sources.corpus import queries_df, with_doc_ids

        L, span = self.layer, self.tracer.span

        def timed(name: str, metric: str, fn) -> None:
            with span(name):
                t0 = time.perf_counter()
                self.tally.call(name, fn)
                L[metric] = time.perf_counter() - t0

        staged = io.read("docstore_raw")
        tf = io.read("tf")
        n_staged = staged.count()
        timed("sources.corpus.with_doc_ids", "sources.corpus.with_doc_ids_s",
              lambda: _noop(with_doc_ids(base)))
        timed("operators.bm25.tf_mapside", "operators.bm25.tf_mapside_s",
              lambda: _noop(tf_mapside(staged.select("doc_id", "content"), "content",
                                       False, cfg.token_re, cfg.stopwords)))
        timed("operators.dedup.fingerprints_from_tf", "operators.dedup.fingerprints_s",
              lambda: _noop(fingerprints_from_tf(tf, n_docs=n_staged)))
        timed("operators.dedup.simhash_dup_pairs", "operators.dedup.dup_pairs_s",
              lambda: simhash_dup_pairs(io.read("fingerprints"), cfg).count())
        surv = io.read("survivors").select("doc_id")
        timed("operators.postings.build_postings", "operators.postings.encode_s",
              lambda: _noop(build_postings(tf.drop("shard").join(surv, "doc_id", "left_semi"), cfg)))
        timed("operators.bm25.query_terms", "operators.bm25.query_terms_s",
              lambda: query_terms(queries_df(self.spark, batch_qs), "query", False, cfg.token_re).count())
        L["operators.bm25.tf_rows"] = tf.count()
        L["operators.dedup.survivor_share"] = surv.count() / n_staged
        p = io.read("postings").agg(
            F.sum(F.length("ids") + F.length("tfs")), F.sum("df")
        ).collect()[0]
        L["operators.postings.bytes_per_posting"] = p[0] / p[1]

    def ingest_cycle(self, io) -> None:
        """One merge → delete → reopen → probe → query → compact cycle over
        the timed build's index.  Checks that the delta doc becomes visible
        and that no tombstoned doc ever ranks."""
        import numpy as np

        from perfbench.measure import postings_files
        from perfbench.workloads import DELTA_DOCS, delta_probe, head_queries
        from searchenginesimple_spark.functions.tokenize import tokenize_py
        from searchenginesimple_spark.plans.delete import compact_index, delete_docs
        from searchenginesimple_spark.plans.merge import build_index_incremental

        L, span, tally, w = self.layer, self.tracer.span, self.tally, self.w
        delta = self.spark.read.parquet(str(self.work / "raw" / "part=delta"))
        live = sorted(int(r[0]) for r in io.read("survivors").select("doc_id").collect())
        rng = np.random.default_rng([self.seed, 104729])
        dead = {int(d) for d in rng.choice(live, size=N_DELETE, replace=False)}
        # queries aimed at deleted docs: one file-local term of each
        staged = io.read("docstore_raw")
        dead_qs = []
        for r in staged.filter(staged["doc_id"].isin(sorted(dead)[:10])).select("content").collect():
            locs = sorted(t for t in set(tokenize_py(r[0])) if t.startswith("loc_"))
            dead_qs.extend(locs[:1])
        probe = delta_probe(self.seed, w)
        queries = head_queries(self.seed, w.n_docs, 5) + dead_qs

        def serve_checked(eng, qs: list[str], what: str) -> list[float]:
            lat = []
            for q in qs:
                res, dt, _ = self.point_query(eng, q)
                lat.append(dt)
                if res is not None:
                    tally.ok(not dead & set(res["docID"]), f"tombstoned doc ranked for {q!r} {what}")
            return lat

        with span("perfbench.ingest_cycle"):
            t0 = time.perf_counter()
            with self.meter.group("merge") as merge_work, span("plans.merge.build_index_incremental"):
                tally.call("build_index_incremental", build_index_incremental, self.spark, delta, io)
                merge_s = time.perf_counter() - t0
            with span("plans.delete.delete_docs"):
                t1 = time.perf_counter()
                tally.call("delete_docs", delete_docs, io, sorted(dead))
                L["plans.delete.delete_docs_ms"] = 1000 * (time.perf_counter() - t1)
            eng, _parts, open_s = self.open_engine(io, tombstones=True)
            visible = False
            for _ in range(5):  # the probe repeats until the delta doc ranks
                res, _dt, _ = self.point_query(eng, probe)
                if res is not None and (res["docID"] > live[-1]).any():
                    visible = True
                    break
            fresh_s = time.perf_counter() - t0
            tally.ok(visible, f"delta probe {probe!r} never ranked")
            lat = serve_checked(eng, queries, "after delete")
            with self.meter.group("compact") as compact_work, span("plans.delete.compact_index"):
                t2 = time.perf_counter()
                tally.call("compact_index", compact_index, self.spark, io)
                L["plans.delete.compact_index_s"] = time.perf_counter() - t2
        eng, _parts, _ = self.open_engine(io, tombstones=True)
        serve_checked(eng, dead_qs + [probe], "after compaction")
        L["plans.merge.build_index_incremental_s"] = merge_s
        L["plans.merge.docs_per_s"] = DELTA_DOCS / merge_s
        L["spark.merge.jobs"] = merge_work.jobs
        L["spark.compact.jobs"] = compact_work.jobs
        L["operators.wand.engine_open_s"] = open_s
        L["ingest.fresh_s"] = fresh_s
        L["ingest.query_p50_ms"] = 1000 * statistics.median(lat)
        L["sources.io.postings_files"] = postings_files(str(io.root))

    def result(self) -> dict:
        return {
            "correct": self.tally.failed == 0,
            "attempted": self.tally.attempted,
            "failed": self.tally.failed,
        }


def main(argv=None) -> int:
    args = parse_args(argv)
    try:
        import pyspark  # noqa: F401

        import searchenginesimple_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program is not importable here: {e}", file=sys.stderr)
        return 2
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    out_dir = Path.cwd() / ".perfbench"
    work = out_dir / f"work-{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    bench = Bench(args, WORKLOADS[args.workload], work)
    try:
        metrics = bench.run()
        if bench.traced:
            (out_dir / "traces").mkdir(exist_ok=True)
            bench.tracer.dump(str(out_dir / "traces" / f"{args.workload}-{args.seed}.json"))
    finally:
        bench.stop_session()
        shutil.rmtree(work, ignore_errors=True)
        bench.mark("stop")
        print(f"perfbench: phase walls (s) {bench.phases}", file=sys.stderr)
    print(json.dumps({**bench.result(), "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
