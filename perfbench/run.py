"""GraphRAG benchmark: one workload per run, one JSON result line.

    python3 perfbench/run.py --workload rag_serve --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout of the repository. The last line of
standard output is the result: ``{"correct", "attempted", "failed",
"metrics"}``. With ``--trace 0`` the metrics are the end-to-end metrics
of BENCHMARK.json, with ``--trace 1`` the per-layer ones (see
METRICS.md). The line before it is the run's record: environment stamp,
sample counts, gate results and set-up components.

Inputs are generated from ``--seed`` into a fresh work directory under
``.perfbench/`` (removed at the end); span dumps of traced runs stay in
``.perfbench/out/``. Exit status: 0 when every correctness gate held,
1 when one failed or an op errored, 2 when the program is not there.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import spec  # noqa: E402


class RssSampler:
    """Peak resident memory of this process and its descendants (the
    driver JVM and the Python workers), sampled while started."""

    def __init__(self, period: float = 0.1) -> None:
        self.period = period
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    @staticmethod
    def _tree_rss_kb() -> int:
        parent: dict[int, int] = {}
        rss: dict[int, int] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as f:
                    stat = f.read()
                with open(f"/proc/{name}/statm") as f:
                    pages = int(f.read().split()[1])
            except OSError:
                continue
            pid = int(name)
            parent[pid] = int(stat.rsplit(")", 1)[1].split()[1])
            rss[pid] = pages * (os.sysconf("SC_PAGE_SIZE") // 1024)
        me, total = os.getpid(), 0
        for pid, kb in rss.items():
            cur, hops = pid, 0
            while cur not in (0, 1) and hops < 64:
                if cur == me:
                    total += kb
                    break
                cur, hops = parent.get(cur, 0), hops + 1
        return total

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, self._tree_rss_kb())
            self._stop.wait(self.period)

    def start(self) -> None:
        self._stop.clear()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def stop(self) -> None:
        if self._thread is not None:
            self._stop.set()
            self._thread.join()
            self._thread = None
        self.peak_kb = max(self.peak_kb, self._tree_rss_kb())


def _nproc() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def _pin_env(work: str, traced: bool) -> dict:
    """Keep every file the run writes inside ``work``; pin the engine's
    parallelism to this box's core count, as the tier-1 test command
    does. Returns the session's extra Spark settings."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(_nproc())
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "3g")
    os.environ["TMPDIR"] = tmp
    # the launcher JVM that spark-submit starts before the driver
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    # Python workers import the package from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        # the session factory's own JVM flag, plus a temp dir in the work
        # dir and no hsperfdata file in the system temp dir
        "spark.driver.extraJavaOptions": (
            f"-XX:ReservedCodeCacheSize=512m -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        ),
    }
    if traced:
        log = os.path.join(work, "eventlog")
        os.makedirs(log, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + log,
                "spark.eventLog.compress": "false",
            }
        )
    return conf


def _stop(spark) -> None:
    """Stop the session, then the driver JVM, and wait for it to exit
    (it exits when its stdin closes; the Python workers go with it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=120)


def _end_to_end(o, session_s: float, peak_mb: float) -> dict:
    from workloads import pct

    ops = o.op_ms or [float("nan")]
    queries = o.query_ms or [float("nan")]
    values = {
        "setup_s": session_s + o.build_s + o.phases_s["warm_up"],
        "build_s": o.build_s,
        "peak_rss_mb": peak_mb,
        "ops_ok_ratio": 1.0 - o.failed / max(1, o.attempted),
        "op_p50_ms": pct(ops, 50),
        "op_p90_ms": pct(ops, 90),
        # closed-loop throughput by Little's law: concurrent callers over
        # mean latency, which does not quantize on the run's deadline
        "ops_per_s": 1000.0 * o.concurrency / statistics.fmean(ops),
        "query_p50_ms": pct(queries, 50),
        "query_p90_ms": pct(queries, 90),
        "recall_at_10": statistics.fmean(o.recall) if o.recall else 0.0,
        "write_amp": o.bytes_written / max(1, o.input_bytes),
        "state_mb": o.state_bytes / 1e6,
    }
    return {m.name: {"value": values[m.name], "unit": m.unit} for m in spec.END_TO_END}


def _per_layer(o, tracer, log_dir: str) -> dict:
    import spans
    from workloads import pct

    work = spans.read_event_log(log_dir, tracer.stream_spans)
    layers = spans.layer_metrics(tracer.spans, work)
    values = {}
    for layer, fields in layers.items():
        for f, v in fields.items():
            values[f"{layer}.{f}"] = v
    # Spark jobs per served query: every job under a traced serving op
    by_id = {s.id: s for s in tracer.spans}
    roots = [s for s in tracer.spans if s.name.startswith("serve.") and s.parent is None]
    jobs = 0
    for sid, w in work.items():
        cur = by_id.get(sid)
        while cur is not None and cur.parent is not None:
            cur = by_id.get(cur.parent)
        if cur is not None and cur.name.startswith("serve."):
            jobs += w["spark_jobs"]
    values["serve.spark_jobs_per_query"] = jobs / max(1, len(roots))
    values.update(o.ratios)

    # tracing overhead: median traced query minus median untraced one
    # (the traced run alternates the two)
    on = [v for v, t in zip(o.query_ms, o.query_traced) if t]
    off = [v for v, t in zip(o.query_ms, o.query_traced) if not t]
    values["trace.overhead_ms"] = pct(on, 50) - pct(off, 50) if on and off else 0.0
    return {
        m.name: {"value": float(values.get(m.name, 0.0)), "unit": m.unit}
        for m in spec.PER_LAYER
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=[w.name for w in spec.WORKLOADS])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, spec.PKG)):
        print(f"perfbench: package {spec.PKG} not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    load_before = os.getloadavg()
    run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, "work", run_id)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        return _run(args, work, base, run_id, load_before)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, work: str, base: str, run_id: str, load_before) -> int:
    traced = bool(args.trace)
    conf = _pin_env(work, traced)

    import spans
    import workloads

    tracer = spans.Tracer() if traced else None
    if tracer:
        tracer.install()
    spark = None
    try:
        from graphragpart1datapipeline_spark import session

        spark = session.get_spark("perfbench", extra_conf=conf)
        if tracer:
            tracer.spark = spark
        spark.sparkContext.setLogLevel("ERROR")
        spark.range(1).count()
        session_s = time.perf_counter() - T_PROCESS
        ctx = workloads.Ctx(spark, work, args.seed, args.seconds, tracer, workloads.SIZES[args.scale])
        ctx.sample = RssSampler()
        outcome = workloads.WORKLOADS[args.workload](ctx)
        env = {
            "nproc": _nproc(),
            "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
            "spark": spark.version,
            "java": spark.sparkContext._jvm.System.getProperty("java.version"),
            "python": platform.python_version(),
            "loadavg_before": load_before,
        }
    finally:
        if tracer:
            tracer.uninstall()
        if spark is not None:
            _stop(spark)
    env["loadavg_after"] = os.getloadavg()

    peak_mb = ctx.sample.peak_kb / 1024.0
    if traced:
        out_dir = os.path.join(base, "out")
        os.makedirs(out_dir, exist_ok=True)
        tracer.dump(os.path.join(out_dir, f"spans-{run_id}.json"))
        metrics = _per_layer(outcome, tracer, os.path.join(work, "eventlog"))
    else:
        metrics = _end_to_end(outcome, session_s, peak_mb)
    correct = outcome.failed == 0 and all(g["ok"] for g in outcome.gates.values())
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "env": env,
        "session_s": session_s,
        "build_s": outcome.build_s,
        "phases_s": {**outcome.phases_s, "timed": outcome.timed_s},
        "wall_s": time.perf_counter() - T_PROCESS,
        "samples": {"ops": len(outcome.op_ms), "queries": len(outcome.query_ms)},
        "gates": outcome.gates,
        "errors": outcome.errors,
        "detail": outcome.detail,
    }
    print(json.dumps({"perfbench_record": record}, default=str))
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": outcome.attempted,
                "failed": outcome.failed,
                "metrics": metrics,
            }
        )
    )
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
