"""The three workloads: registered analytic queries, workbook ingest and
streaming dedup. Each one sets up (session, inputs), runs a fixed
number of ops sized by ``--seconds``, the first of them cold, and
checks its outputs afterwards.

An *op* is the unit every end-to-end latency is taken over: one pass
of the query sweep, one workbook (``read_workbook`` to commit) or one
micro-batch (``durationMs.triggerExecution``). Each op records its
wall and the CPU time of the process tree it cost.
"""

from __future__ import annotations

import datetime
import glob
import hashlib
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time
from contextlib import contextmanager

from pyspark.sql import functions as F

import gen
import stats
from spans import force_plan, stage_totals

PKG = "pythondataingestionprocess_spark"

# A cross-section of bench.py's HEADLINE list, small enough for a cold
# pass of ~15 s at sf0.01 on 4 cores. It keeps every query layer busy:
# relational joins and aggregates, a window, an event-time face, the
# heaviest cold compile and the session-memoized MinHash pair family
# (dedup_minhash_lsh) and a vector face (embedding_knn_brute). Faces
# that alone cost several seconds per pass (dedup_groups_cc's
# build-time CC loop, pagerank_nations) do not fit the run budget.
QUERIES = (
    "pricing_summary",
    "q5_local_supplier_volume",
    "window_running_total",
    "events_session_window",
    "dedup_minhash_lsh",
    "embedding_knn_brute",
)
QUERY_SF = 0.01

INGEST_FILES = 12  # backlog; a run ingests as many as its op count needs
INGEST_ROWS_PER_FILE = 100
INGEST_DATE = datetime.date(2025, 1, 1)  # SCD stamp: fixed, not today

STREAM_FILES = 30
STREAM_DOCS_PER_FILE = 40
STREAM_ROUND_FILES = 3  # files dropped per availableNow run
STREAM_DIGEST_FILES = 3  # pairs among these files form the digest
DEDUP_THRESHOLD = 0.5


class Workload:
    """Shared plumbing. Subclasses set ``name``, the nominal op walls
    and ``min_ops`` and implement ``prepare``, ``wrap_layers``,
    ``timed`` and ``check``."""

    name = ""
    # nominal walls on a shared 4-core host, s: the first (cold) op,
    # which pays for JIT and codegen, and a later one
    first_op_s = 1.0
    op_s = 1.0
    min_ops = 2

    def n_ops(self, seconds: float) -> int:
        """Ops in the timed region: as many as take about ``seconds``
        at the nominal walls, a fixed number for a given ``seconds``.
        Every run of a seed does the same work, so its totals and
        counts compare across runs however fast the host is."""
        return max(self.min_ops, 1 + round((seconds - self.first_op_s) / self.op_s))

    def __init__(self, root: str, work: str, seed: int, tracer) -> None:
        self.root = root
        self.work = work
        self.seed = seed
        self.tracer = tracer
        self.spark = None
        self.ops: list[float] = []  # op walls, s
        self.op_cpu: list[float] = []  # process-tree CPU per op, s
        self.items = 0  # queries / input rows / docs completed
        self.failed = 0
        self.attempted = 0
        self.extra: dict[str, tuple[float, str, int, str]] = {}
        self.layer: dict[str, float] = {}
        self.problems: list[str] = []

    # -- setup ------------------------------------------------------------

    def setup(self, rep: int) -> None:
        """One full set-up: a fresh session (the first one launches the
        JVM), this rep's inputs, then the warm-up."""
        from pythondataingestionprocess_spark import session

        if self.spark is not None:
            self.spark.stop()
        local = os.path.join(self.work, "spark-local")
        self.spark = session.get_spark(
            app_name=f"perfbench-{self.name}",
            extra_conf={
                "spark.local.dir": local,
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                # -XX:-UsePerfData: no hsperfdata file in /tmp
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={local} -XX:-UsePerfData",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.tracer.sc = self.spark.sparkContext
        self.dir = os.path.join(self.work, f"rep{rep}")
        os.makedirs(self.dir)
        self.prepare()
        # warm-up: JVM and executor threads only. Running the workload's
        # own code here would compile its classes into the JVM-wide
        # codegen cache and hide the first op's cold cost.
        self.spark.range(10_000).selectExpr("sum(id)").collect()

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    @contextmanager
    def op(self):
        """Record one op's wall and process-tree CPU; an op that raises
        records neither."""
        me = os.getpid()
        t0, c0 = time.perf_counter(), stats.tree_cpu_s(me)
        yield
        self.ops.append(time.perf_counter() - t0)
        self.op_cpu.append(stats.tree_cpu_s(me) - c0)

    def metric(self, name: str, value: float, unit: str, n: int, note: str = "") -> None:
        self.extra[stats.check_metric_name(name)] = (value, unit, n, note)

    def op_failed(self, what: str, exc: BaseException) -> None:
        self.failed += 1
        self.problems.append(f"{what}: {type(exc).__name__}: {str(exc)[:200]}")


# ---- query_sweep ------------------------------------------------------


class QuerySweep(Workload):
    name = "query_sweep"
    first_op_s = 14.0
    op_s = 2.2

    def prepare(self) -> None:
        self.sf_dir = os.path.join(self.dir, "sf")
        subprocess.run(
            [sys.executable, os.path.join(self.root, "scripts", "gen_sf.py"),
             "--sf", str(QUERY_SF), "--out", self.sf_dir],
            check=True, stdout=subprocess.DEVNULL,
        )
        self.order = list(QUERIES)
        random.Random(self.seed).shuffle(self.order)

    def wrap_layers(self) -> None:
        from pythondataingestionprocess_spark import catalog

        self.tracer.wrap(catalog, "load_table", "catalog.load_table", PKG)

    def run_query(self, name: str, trace: str) -> None:
        from pythondataingestionprocess_spark.plans import REGISTRY

        tr = self.tracer
        with tr.span("query", trace=trace, job_group=True):
            with tr.span("plans.build", job_group=True):
                df = REGISTRY[name].fn(self.spark, self.sf_dir)
            if tr.enabled:
                with tr.overhead(), tr.span("catalyst.plan"):
                    force_plan(df)
            with tr.span("exec.action"):
                df.write.format("noop").mode("overwrite").save()

    def run_pass(self, label: str) -> list[float]:
        """Every query once, in the seed's order; the walls of those
        that succeeded."""
        walls = []
        for name in self.order:
            self.attempted += 1
            trace = f"{label}-{name}"
            t0 = time.perf_counter()
            try:
                self.run_query(name, trace)
            except Exception as exc:  # a failing query is an op failure
                self.op_failed(name, exc)
                continue
            walls.append(time.perf_counter() - t0)
            self.tracer.collect_stages(self.spark, trace)
        return walls

    def timed(self, n: int, cap: float) -> None:
        """Ops are passes. The first, cold, pass pays for codegen, the
        session memos and the JIT; the warm ones are dashboard-refresh
        traffic, where the memos and the codegen class cache hit or
        thrash, and keep shrinking while the JIT compiles (3.4 s to
        1.3 s over the first eight on 4 cores)."""
        cold: list[float] = []
        for k in range(n):
            if time.perf_counter() > cap:
                break
            with self.op():
                walls = self.run_pass(f"p{k}")
            self.items += len(walls)
            if k == 0:
                cold = walls
        self.metric("cold_pass_s", self.ops[0], "s", 1)
        warm = self.ops[1:]
        if warm:
            self.metric("warm_pass_s", statistics.median(warm), "s", len(warm), "median")
        if cold:
            p, v = stats.tail(cold)
            self.metric("query_p50_s", statistics.median(cold), "s", len(cold), "cold pass")
            self.metric("query_tail_s", v, "s", len(cold), f"p{p:g}, cold pass")

    def check(self) -> None:
        from pythondataingestionprocess_spark import oracle
        from pythondataingestionprocess_spark.plans import REGISTRY

        checked = 0
        for name in QUERIES:
            if REGISTRY[name].oracle is None:
                continue
            problems = oracle.check_query(self.spark, self.sf_dir, name)
            checked += 1
            self.problems.extend(f"{name}: {p}" for p in problems)
        self.metric("oracle_checked", checked, "count", checked)


# ---- ingest_batches ---------------------------------------------------


class IngestBatches(Workload):
    name = "ingest_batches"
    first_op_s = 21.0
    op_s = 9.5

    def prepare(self) -> None:
        from pythondataingestionprocess_spark.pipeline.store import SCHEMAS
        from pythondataingestionprocess_spark.pipeline.txn_group import TableGroup

        self.inbox_src = gen.workbook_inbox(
            os.path.join(self.dir, "backlog"), self.seed, INGEST_FILES, INGEST_ROWS_PER_FILE
        )
        self.inbox = os.path.join(self.dir, "inbox")
        self.processed = os.path.join(self.dir, "processed")
        self.errors = os.path.join(self.dir, "errors")
        os.makedirs(self.inbox)
        self.group = TableGroup(self.spark, os.path.join(self.dir, "store"), schemas=SCHEMAS)

    def wrap_layers(self) -> None:
        from pythondataingestionprocess_spark.pipeline import ingest
        from pythondataingestionprocess_spark.sources import files, workbook, xlsx_lite

        tr = self.tracer
        for fn in ("read_workbook", "clean_compras", "clean_precios", "attach_positional"):
            tr.wrap(workbook, fn, f"sources.{fn}", PKG)
        tr.wrap(files, "move_file", "sources.move_file", PKG)
        tr.wrap(xlsx_lite, "read_sheets", "sources.decode", PKG, after=self._count_rows)
        tr.wrap(ingest, "ingest_batch_txn", "pipeline.ingest_batch_txn", PKG, job_group=True)
        tr.wrap(ingest, "stage_batch", "pipeline.stage_batch", PKG, job_group=True)

    def _count_rows(self, book, attrs) -> object:
        attrs["rows"] = sum(max(len(s["rows"]) - 1, 0) for s in book.values())
        return book

    def ingest_file(self, path: str, group):
        """read → clean/attach → one group transaction; returns the
        engine's IngestResult. Raises on a bad workbook."""
        from pythondataingestionprocess_spark.pipeline import ingest
        from pythondataingestionprocess_spark.sources import workbook

        compras, precios, links = workbook.read_workbook(self.spark, path)
        compras = workbook.attach_positional(workbook.clean_compras(compras), links)
        precios = workbook.clean_precios(precios)
        return ingest.ingest_batch_txn(compras, precios, group, current_date=INGEST_DATE)

    def report(self, group) -> list:
        """The star-schema read after a commit: facts per store."""
        op = group.read("operation")
        df = (
            op.join(group.read("purchase"), "id_purchase")
            .join(group.read("product").select("id_product", "category"), "id_product")
            .join(group.read("provider").select("id_provider", "id_store"), "id_provider")
            .join(group.read("store").select("id_store", "store_name"), "id_store")
            .groupBy("store_name")
            .agg(F.count(F.lit(1)).alias("facts"),
                 F.sum(F.col("quantity") * F.col("unit_price")).alias("revenue"))
        )
        if self.tracer.enabled:
            with self.tracer.overhead(), self.tracer.span("catalyst.plan"):
                force_plan(df)
        with self.tracer.span("exec.action"):
            return df.collect()

    def drop(self, i: int) -> tuple[float, float] | None:
        """Drop backlog file ``i`` into the inbox and sweep the inbox
        once; check the routing, and after a commit read the star
        report. Returns the file's (wall, process-tree CPU), ``None``
        if it was not ingested."""
        from pythondataingestionprocess_spark.sources import files

        ingested: dict[str, tuple] = {}  # path → (IngestResult, wall, cpu)
        me = os.getpid()

        def process(path: str) -> None:
            t0, c0 = time.perf_counter(), stats.tree_cpu_s(me)
            result = self.ingest_file(path, self.group)
            ingested[path] = (result, time.perf_counter() - t0, stats.tree_cpu_s(me) - c0)

        src = self.inbox_src.files[i]
        dst = os.path.join(self.inbox, os.path.basename(src))
        shutil.copyfile(src, dst)
        self.attempted += 1
        trace = f"wb{i}"
        with self.tracer.span("batch", trace=trace, job_group=True):
            rep = files.ingest_directory(self.inbox, process, self.processed, self.errors)
            self.dir_reports.append(rep)
            truth = self.inbox_src.truth[i]
            routed_ok = (len(rep.errored) == 1) if truth.malformed else (len(rep.processed) == 1)
            if not routed_ok or rep.unmoved:
                self.failed += 1
                self.problems.append(f"file {i} ({truth.name}) routed wrongly: {rep}")
            result, *cost = ingested.pop(dst, (None, None, None))
            if result is not None:
                t0 = time.perf_counter()
                rows = self.report(self.group)
                self.report_walls.append(time.perf_counter() - t0)
                self.reports.append({r["store_name"]: r["facts"] for r in rows})
            self.outcomes.append(result)
        self.tracer.collect_stages(self.spark, trace)
        return tuple(cost) if result is not None else None

    def timed(self, n: int, cap: float) -> None:
        """Ops are the files in drop order until ``n`` have committed;
        the malformed file, dead-lettered, is not one. The first file
        is the store's first commit and the JVM's first run of the
        ingest code, at over twice a later file's wall."""
        self.outcomes: list[object] = []  # per file: IngestResult, None if dead-lettered
        self.reports: list[dict[str, int]] = []
        self.dir_reports = []
        self.report_walls: list[float] = []
        i = 0
        while len(self.ops) < n and i < len(self.inbox_src.files) and time.perf_counter() < cap:
            cost = self.drop(i)
            if cost is not None:
                self.ops.append(cost[0])
                self.op_cpu.append(cost[1])
                self.items += self.inbox_src.truth[i].rows_in
            i += 1
        self.metric("first_batch_s", self.ops[0], "s", 1, "cold, read_workbook to commit")
        p, v = stats.tail(self.ops)
        self.metric("batch_p50_s", statistics.median(self.ops), "s", len(self.ops), "read_workbook to commit")
        self.metric("batch_tail_s", v, "s", len(self.ops), f"p{p:g}")
        self.metric("report_p50_s", statistics.median(self.report_walls), "s",
                    len(self.report_walls), "star read after each commit")

    def check(self) -> None:
        truths = self.inbox_src.truth
        expected_cum: dict[str, int] = {}
        k = 0
        rows_in = staged = filtered = deduped = 0
        for i, (result, truth) in enumerate(zip(self.outcomes, truths)):
            if truth.malformed:
                if result is not None:
                    self.problems.append(f"malformed file {i} was ingested")
                continue
            if result is None:
                self.problems.append(f"file {i} ({truth.name}) failed to ingest")
                continue
            for s, n in truth.staged_by_store.items():
                expected_cum[s] = expected_cum.get(s, 0) + n
            got = self.reports[k]
            k += 1
            if got != {s: n for s, n in expected_cum.items() if n}:
                self.problems.append(f"after file {i}: facts per store {got} != {expected_cum}")
            if result.n_input_rows != truth.rows_in or result.n_staged_rows != truth.staged:
                self.problems.append(
                    f"file {i}: engine rows in/staged {result.n_input_rows}/{result.n_staged_rows}"
                    f" != truth {truth.rows_in}/{truth.staged}")
            if i == gen.IDENTICAL_REDROP and result.n_staged_rows != 0:
                self.problems.append("identical re-drop added fact rows")
            rows_in += result.n_input_rows
            staged += result.n_staged_rows
            filtered += truth.filtered
            deduped += truth.deduped
        # reconciliation: the engine's in/staged against the predicted
        # filter and history-dedup drops
        if rows_in != staged + filtered + deduped:
            self.problems.append(
                f"reconciliation: rows_in {rows_in} != staged {staged} + filtered {filtered}"
                f" + deduped {deduped}")
        facts = self.group.read("operation").count()
        if facts != staged:
            self.problems.append(f"operation table holds {facts} rows, engine staged {staged}")
        self.layer.update({
            "pipeline.rows_in": rows_in,
            "pipeline.rows_staged": staged,
            "pipeline.rows_skipped": rows_in - staged,
        })
        self.store_layer()
        self.metric("ingest_rows_per_s", self.items / self.timed_s, "rows/s", len(self.ops))

    def store_layer(self) -> None:
        # the current snapshot's files: what a reader of the group lists
        sid = self.group.current_snapshot()
        n_files = n_bytes = 0
        for t in self.group.tables():
            dirs, _ = self.group._state(t, sid)
            for d in dirs:
                for f in glob.glob(os.path.join(d.replace("file:", ""), "**", "*.parquet"), recursive=True):
                    n_files += 1
                    n_bytes += os.path.getsize(f)
        written = len(glob.glob(os.path.join(self.group.root, "**", "*.parquet"), recursive=True))
        input_bytes = sum(t.size for t, result in zip(self.inbox_src.truth, self.outcomes)
                          if result is not None)
        self.layer.update({
            "pipeline.store_files": n_files,
            "pipeline.store_bytes": n_bytes,
            "pipeline.files_written": written,
            "pipeline.bytes_per_input_byte": n_bytes / input_bytes if input_bytes else 0.0,
            "pipeline.snapshots": len(self.group.snapshot_ids()),
            "sources.files_processed": sum(len(r.processed) for r in self.dir_reports),
            "sources.files_dead_lettered": sum(len(r.errored) for r in self.dir_reports),
            "sources.files_unmoved": sum(len(r.unmoved) for r in self.dir_reports),
        })


# ---- stream_dedup -----------------------------------------------------


class StreamDedup(Workload):
    name = "stream_dedup"
    first_op_s = 5.5
    op_s = 5.5
    min_ops = STREAM_ROUND_FILES

    def prepare(self) -> None:
        self.backlog = gen.doc_backlog(
            os.path.join(self.dir, "backlog"), self.seed, STREAM_FILES, STREAM_DOCS_PER_FILE
        )
        self.inbox = os.path.join(self.dir, "inbox")
        self.store = os.path.join(self.dir, "store")
        self.pairs_out = os.path.join(self.dir, "pairs")
        self.ckpt = os.path.join(self.dir, "ckpt")
        self.dead = os.path.join(self.dir, "dead")
        os.makedirs(self.inbox)
        self.mtime0 = int(time.time()) - 3600

    def wrap_layers(self) -> None:
        from pythondataingestionprocess_spark.operators import dedup
        from pythondataingestionprocess_spark.streaming import dedup_ingest

        tr = self.tracer
        tr.wrap(dedup_ingest, "screen_batch", "streaming.screen_batch", PKG, after=self._plan)
        tr.wrap(dedup_ingest, "capped_store_candidates", "streaming.capped_store_candidates", PKG)
        tr.wrap(dedup_ingest, "append_to_store", "streaming.append_to_store", PKG)
        # the verify step receives the checkpointed candidate set:
        # counting it there reads cached blocks, not the store
        tr.wrap(dedup, "verify_jaccard_pairs", "streaming.verify", PKG, before=self._count_candidates)

    def _plan(self, df, attrs):
        with self.tracer.overhead(), self.tracer.span("catalyst.plan"):
            force_plan(df)
        return df

    def _count_candidates(self, args, attrs) -> None:
        # only the cross-store call passes an already-checkpointed
        # candidate set; the within-batch one is lazy and would re-run
        with self.tracer.overhead():
            if args[0]._jdf.queryExecution().logical().getClass().getSimpleName() != "LogicalRDD":
                return
            sc = self.spark.sparkContext
            prev = sc.getLocalProperty("spark.jobGroup.id")
            sc.setJobGroup("perfbench-probe", "candidate count")
            try:
                attrs["candidates"] = args[0].count()
            finally:
                sc.setLocalProperty("spark.jobGroup.id", prev)

    def timed(self, n: int, cap: float) -> None:
        """Rounds of ``STREAM_ROUND_FILES`` files, one micro-batch per
        file, until ``n`` files are in; a round's CPU is shared evenly
        among its micro-batches."""
        from pythondataingestionprocess_spark.streaming import dedup_ingest, file_ingest

        fn = dedup_ingest.dedup_batch_fn(self.store, self.pairs_out, threshold=DEDUP_THRESHOLD)
        tr = self.tracer

        def batch(df, bid):
            with tr.span("streaming.batch", trace=f"mb{bid}"):
                fn(df, bid)

        progress: list[dict] = []
        rounds = nxt = 0
        files = self.backlog.files
        me = os.getpid()
        while nxt < min(n, len(files)) and (nxt == 0 or time.perf_counter() < cap):
            c0 = stats.tree_cpu_s(me)
            for k in range(nxt, min(nxt + STREAM_ROUND_FILES, len(files))):
                dst = os.path.join(self.inbox, os.path.basename(files[k]))
                shutil.copyfile(files[k], dst)
                os.utime(dst, (self.mtime0 + k, self.mtime0 + k))  # batch order = file order
            nxt = min(nxt + STREAM_ROUND_FILES, len(files))
            stream = file_ingest.file_stream(
                self.spark, self.inbox, "doc_id long, text string", max_files_per_trigger=1)
            with tr.span("streaming.run_ingestion", trace=f"round{rounds}"):
                q = file_ingest.run_ingestion(stream, batch, self.ckpt, dead_letter_dir=self.dead)
                q.awaitTermination()
            rounds += 1
            done = [json.loads(p.json) for p in q.recentProgress]
            progress.extend(done)
            n_data = sum(1 for p in done if p["numInputRows"] > 0)
            self.op_cpu += [(stats.tree_cpu_s(me) - c0) / max(n_data, 1)] * n_data
            if tr.enabled:  # Spark runs each query's batches under its runId group
                with tr.overhead():
                    for k, v in stage_totals(self.spark, str(q.runId)).items():
                        self.layer[f"exec.{k}"] = self.layer.get(f"exec.{k}", 0) + v
        data = [p for p in progress if p["numInputRows"] > 0]
        self.ops = [p["durationMs"]["triggerExecution"] / 1e3 for p in data]
        self.items = sum(p["numInputRows"] for p in data)
        self.attempted = len(data)
        batch_ids = [p["batchId"] for p in data]
        retried = len(batch_ids) - len(set(batch_ids))
        dead = len(glob.glob(os.path.join(self.dead, "batch_*")))
        self.failed += retried + dead
        if retried or dead:
            self.problems.append(f"{retried} micro-batches retried, {dead} dead-lettered")
        self.files_done = nxt
        p, v = stats.tail(self.ops)
        self.metric("microbatch_p50_s", statistics.median(self.ops), "s", len(self.ops), "triggerExecution")
        self.metric("microbatch_tail_s", v, "s", len(self.ops), f"p{p:g}")
        self.layer["streaming.add_batch_ms"] = sum(p["durationMs"].get("addBatch", 0) for p in data)
        self.layer["streaming.input_rows"] = self.items

    def check(self) -> None:
        pairs = self.spark.read.parquet(self.pairs_out).select("id_a", "id_b", "kind").collect()
        texts = self.backlog.texts
        seen_ids = {d for d, f in self.backlog.file_of.items() if f < self.files_done}
        emitted = {(min(r.id_a, r.id_b), max(r.id_a, r.id_b)) for r in pairs}
        bad = [p for p in emitted if gen.jaccard(texts[p[0]], texts[p[1]]) < DEDUP_THRESHOLD]
        if bad:
            self.problems.append(f"{len(bad)} emitted pairs below Jaccard {DEDUP_THRESHOLD}: {bad[:3]}")
        planted = {p for p in self.backlog.planted if p[1] in seen_ids}
        recall = len(planted & emitted) / len(planted) if planted else 1.0
        self.metric("planted_recall", recall, "ratio", len(planted))
        head = {d for d, f in self.backlog.file_of.items() if f < STREAM_DIGEST_FILES}
        digest = hashlib.sha256(
            json.dumps(sorted(p for p in emitted if p[0] in head and p[1] in head)).encode()
        ).hexdigest()[:16]
        self.digest = digest
        cross = sum(1 for r in pairs if r.kind == "cross")
        store = self.spark.read.parquet(os.path.join(self.store, "shingles"))
        self.layer.update({
            "streaming.store_rows": store.count(),
            "streaming.store_files": len(glob.glob(os.path.join(self.store, "**", "*.parquet"),
                                                   recursive=True)),
            "streaming.cross_pairs": cross,
        })
        self.metric("stream_docs_per_s", self.items / self.timed_s, "docs/s", len(self.ops))


WORKLOADS = {w.name: w for w in (QuerySweep, IngestBatches, StreamDedup)}
