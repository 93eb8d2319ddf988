"""One benchmark run: ``python3 perfbench/run.py --workload <name>
--seed <n> --seconds <s> --trace <0|1>`` from the root of a checkout.

Sets the workload up several times (session, seeded inputs), times a
fixed number of ops, the first of them cold, sized so that they take
about ``--seconds`` on a shared 4-core host, checks the outputs outside
the timed region and prints every metric by name with its unit and
sample count. The last stdout line is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` (the end-to-end metrics with
``--trace 0``, the per-layer ones with ``--trace 1``).

With ``--trace 1`` the engine's public functions are wrapped in spans
from here, Spark's counters are read through py4j, and the spans are
written as JSON lines under ``.perfbench_spans/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

import spans
import stats

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 5
HARD_LIMIT_S = 170  # the run must end within 180 s
OP_CAP_S = 100  # no op starts later than this after the run began
T_START = time.perf_counter()

END_TO_END = {  # name → unit; the metrics of the result line
    "setup_s": "s",
    "op_mean_s": "s",
    "cpu_s": "s",
    "peak_rss_mb": "MB",
}

PER_LAYER = {  # name → unit
    "session.start_s": "s",
    "catalog.load_calls": "count",
    "catalog.load_s": "s",
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "catalyst.plan_s": "s",
    "codegen.compile_ms": "ms",
    "codegen.compile_count": "count",
    "exec.action_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.executor_run_s": "s",
    "exec.executor_cpu_s": "s",
    "exec.gc_s": "s",
    "exec.shuffle_read_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.input_bytes": "bytes",
    "exec.python_worker_cpu_s": "s",
    "sources.decode_s": "s",
    "sources.rows_read": "count",
    "sources.files_processed": "count",
    "sources.files_dead_lettered": "count",
    "sources.files_unmoved": "count",
    "pipeline.stage_s": "s",
    "pipeline.stage_jobs": "count",
    "pipeline.commit_s": "s",
    "pipeline.commit_jobs": "count",
    "pipeline.files_written": "count",
    "pipeline.rows_in": "count",
    "pipeline.rows_staged": "count",
    "pipeline.rows_skipped": "count",
    "pipeline.store_files": "count",
    "pipeline.store_bytes": "bytes",
    "pipeline.bytes_per_input_byte": "ratio",
    "pipeline.snapshots": "count",
    "streaming.add_batch_ms": "ms",
    "streaming.input_rows": "count",
    "streaming.screen_build_s": "s",
    "streaming.append_s": "s",
    "streaming.store_rows": "count",
    "streaming.store_files": "count",
    "streaming.cross_candidates": "count",
    "streaming.cross_pairs": "count",
    "streaming.verify_yield": "ratio",
    "trace.overhead_s": "s",
    "trace.overhead_share": "ratio",
}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def checkout_ok() -> bool:
    """The engine and the corpus generator must be in the checkout the
    benchmark runs from; the benchmark carries neither."""
    return os.path.isdir(os.path.join(ROOT, "pythondataingestionprocess_spark")) and os.path.isfile(
        os.path.join(ROOT, "scripts", "gen_sf.py")
    )


def configure_env(work: str) -> None:
    nproc = len(os.sched_getaffinity(0))
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(nproc))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # the spark-submit launcher JVM: no hsperfdata file in /tmp either
    os.environ["SPARK_LAUNCHER_OPTS"] = " ".join(
        p for p in (os.environ.get("SPARK_LAUNCHER_OPTS"), "-XX:-UsePerfData") if p
    )
    # Python workers import the engine from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )


def layer_metrics(wl, tracer, cg: tuple[int, int], pyw_cpu: float, timed_s: float) -> dict:
    recs = tracer.spans
    self_s = spans.self_time_by_name(recs)

    def attr_sum(span_name: str, key: str) -> float:
        return sum(s["attrs"].get(key, 0) for s in recs if s["name"] == span_name)

    out = dict.fromkeys(PER_LAYER, 0)
    out.update({
        "session.start_s": self_s.get("session.get_spark", 0.0),
        "catalog.load_calls": sum(1 for s in recs if s["name"] == "catalog.load_table"),
        "catalog.load_s": self_s.get("catalog.load_table", 0.0),
        "plans.build_s": self_s.get("plans.build", 0.0),
        "plans.build_jobs": attr_sum("plans.build", "jobs"),
        "catalyst.plan_s": self_s.get("catalyst.plan", 0.0),
        "codegen.compile_ms": cg[0] / 1e6,
        "codegen.compile_count": cg[1],
        "exec.action_s": self_s.get("exec.action", 0.0),
        "exec.python_worker_cpu_s": pyw_cpu,
        "sources.decode_s": sum(v for k, v in self_s.items() if k.startswith("sources.")),
        "sources.rows_read": attr_sum("sources.decode", "rows"),
        "pipeline.stage_s": self_s.get("pipeline.stage_batch", 0.0),
        "pipeline.stage_jobs": attr_sum("pipeline.stage_batch", "jobs"),
        "pipeline.commit_s": self_s.get("pipeline.ingest_batch_txn", 0.0),
        "pipeline.commit_jobs": attr_sum("pipeline.ingest_batch_txn", "jobs"),
        "streaming.screen_build_s": self_s.get("streaming.screen_batch", 0.0),
        "streaming.append_s": self_s.get("streaming.append_to_store", 0.0),
        "streaming.cross_candidates": attr_sum("streaming.verify", "candidates"),
    })
    for k in spans.STAGE_FIELDS:  # grouped spans (query, ingest) ...
        out[f"exec.{k}"] = sum(s["attrs"].get(k, 0) for s in recs if "group" in s["attrs"])
    for k, v in wl.layer.items():  # ... plus what the workload read itself
        out[k] = out.get(k, 0) + v if k.startswith("exec.") else v
    cands = out["streaming.cross_candidates"]
    out["streaming.verify_yield"] = out["streaming.cross_pairs"] / cands if cands else 0.0
    out["trace.overhead_s"] = tracer.overhead_s
    out["trace.overhead_share"] = tracer.overhead_s / timed_s
    return out


def _over_time(signum, frame):
    raise TimeoutError(f"run exceeded {HARD_LIMIT_S} s")


def stop_spark(wl) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    if wl.spark is None:
        return
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    wl.stop()
    SparkContext._gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:  # the JVM exits once its stdin closes
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    args = parse_args(argv)
    if not checkout_ok():
        print(f"perfbench: no engine checkout at {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(1, ROOT)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    signal.signal(signal.SIGALRM, _over_time)
    signal.alarm(HARD_LIMIT_S)

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    configure_env(work)
    tracer = spans.Tracer(bool(args.trace))
    wl = WORKLOADS[args.workload](ROOT, work, args.seed, tracer)
    me = os.getpid()
    try:
        from pythondataingestionprocess_spark import session

        tracer.wrap(session, "get_spark", "session.get_spark", "pythondataingestionprocess_spark")
        setups = []
        for rep in range(SETUP_REPS):
            t0 = time.perf_counter()
            with tracer.span("setup", trace=f"setup{rep}"):
                wl.setup(rep)
            setups.append(time.perf_counter() - t0)
        wl.wrap_layers()

        cg0 = spans.codegen_counters(wl.spark)
        pyw0 = stats.cpu_s_of(stats.python_workers(me))
        n_ops = wl.n_ops(args.seconds)
        noise = stats.NoiseContext()
        t0 = time.perf_counter()
        wl.timed(n_ops, T_START + OP_CAP_S)
        wl.timed_s = time.perf_counter() - t0
        pyw = stats.cpu_s_of(stats.python_workers(me)) - pyw0
        cg1 = spans.codegen_counters(wl.spark)
        rss = stats.tree_peak_rss_mb(me)
        ctx = noise.finish()
        tracer.unwrap_all()

        t_check = time.perf_counter()
        wl.check()
        check_s = time.perf_counter() - t_check
    finally:
        signal.alarm(0)
        stop_spark(wl)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run's work dir is still there
            pass

    done = len(wl.ops)
    tail_p, tail_v = stats.tail(wl.ops)
    # means over the whole fixed run, cold op included: the longest
    # window a run has, over the same work on every run (README.md)
    e2e = {
        "setup_s": ("s", statistics.median(setups), f"median of {SETUP_REPS} set-ups"),
        "op_mean_s": ("s", statistics.fmean(wl.ops), f"mean of {done} ops, the first cold"),
        "cpu_s": ("s", statistics.fmean(wl.op_cpu), f"process-tree CPU per op, mean of {done} ops"),
        "peak_rss_mb": ("MB", rss, "sum of per-process VmHWM"),
        "op_p50_s": ("s", statistics.median(wl.ops), f"p50 of {done} ops"),
        "op_tail_s": ("s", tail_v, f"p{tail_p:g} of {done} ops"),
        "items_per_s": ("1/s", wl.items / wl.timed_s, f"{wl.items} items in {wl.timed_s:.2f} s"),
    }
    correct = not wl.problems
    print(f"perfbench {args.workload} seed={args.seed} seconds={args.seconds:g} trace={args.trace}")
    print(f"noise {json.dumps(ctx)}")
    print(f"phases set-up {sum(setups):.1f} s, timed {wl.timed_s:.1f} s, checks {check_s:.1f} s, "
          f"run {time.perf_counter() - T_START:.1f} s")
    if done < n_ops:
        print(f"note: {done} of {n_ops} ops, no op starts {OP_CAP_S} s into the run")
    print(f"ops wall_s {[round(x, 3) for x in wl.ops]} cpu_s {[round(x, 2) for x in wl.op_cpu]}")
    for name, (unit, value, note) in e2e.items():
        print(f"metric {name} = {value:.6g} {unit} ({note})")
    for name, (value, unit, n, note) in wl.extra.items():
        print(f"metric {name} = {value:.6g} {unit} (n={n}{', ' + note if note else ''})")
    print(f"metric error_rate = {wl.failed / max(wl.attempted, 1):.6g} ratio "
          f"({wl.failed} failed of {wl.attempted} attempted)")
    if getattr(wl, "digest", None):
        print(f"pair_set_digest {wl.digest}")
    metrics = {n: {"value": e2e[n][1], "unit": u} for n, u in END_TO_END.items()}
    if args.trace:
        layer = layer_metrics(wl, tracer, (cg1[0] - cg0[0], cg1[1] - cg0[1]), pyw, wl.timed_s)
        for name, value in layer.items():
            print(f"layer {name} = {value:.6g} {PER_LAYER[name]}")
        out_dir = os.path.join(ROOT, ".perfbench_spans")
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, f"{args.workload}-seed{args.seed}.jsonl")
        tracer.write_jsonl(path)
        print(f"spans {len(tracer.spans)} written to {os.path.relpath(path, ROOT)}")
        metrics = {n: {"value": layer[n], "unit": u} for n, u in PER_LAYER.items()}
    for p in wl.problems:
        print(f"problem {p}")
    print(f"correct {str(correct).lower()}")
    print(json.dumps({
        "correct": correct,
        "attempted": wl.attempted,
        "failed": wl.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
