"""Benchmark runner for the engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. One process, one client, closed loop:
each operation starts when the previous one has finished and been
checked. Operations run one at a time because Spark's codegen counters
and the GC counters are process-global. The last line of standard output
is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics``; with ``--trace 0`` the metrics are the end-to-end ones,
with ``--trace 1`` the per-layer ones (see README.md next to this file).

Exit codes: 0 with a result; 2 when the checkout holds no engine package
or the arguments are wrong; 3 when Spark's effective parallelism is not
the one requested. No result is printed unless the exit code is 0.
"""

import time

T_START = time.perf_counter()  # process start, as near as Python gets

import argparse  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

ROOT = os.getcwd()
RUN_DIR = os.path.join(ROOT, ".perfbench_run")
# the repository's test tables, one directory per scale factor
DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
# A cap on the driver heap (G1 still sizes it between its default initial
# size and the cap): the program's default 16 GB lets G1 grow the heap
# far past the live set, and the resident peak spread 36% between runs.
DRIVER_HEAP = "2g"

END_TO_END = {
    "setup_s": "s",
    "ops_per_s": "1/s",
    "correct_share": "ratio",
    "footprint_mib": "MiB",
}

PER_LAYER = {
    "session.build_s": "s",
    "queries.build_s": "s",
    "queries.eager_jobs": "count",
    "engine.sql_s": "s",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "codegen.compiles": "count",
    "codegen.compile_ms": "ms",
    "codegen.cache_fits": "bool",
    "exec.collect_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.task_run_s": "s",
    "exec.task_cpu_s": "s",
    "exec.shuffle_fetch_wait_s": "s",
    "exec.scan_rows": "count",
    "exec.scan_bytes": "B",
    "exec.scan_rows_per_output_row": "ratio",
    "exec.shuffle_bytes_written": "B",
    "exec.shuffle_records_read": "count",
    "exec.broadcasts": "count",
    "exec.spill_bytes": "B",
    "pyworker.total_ms": "ms",
    "pyworker.boot_ms": "ms",
    "pyworker.init_ms": "ms",
    "pyworker.bytes_sent": "B",
    "pyworker.bytes_received": "B",
    "versioned.commit_s.insert": "s",
    "versioned.commit_s.delete": "s",
    "versioned.commit_s.update": "s",
    "versioned.commit_s.merge": "s",
    "versioned.commit_s.optimize": "s",
    "versioned.commit_s.restore": "s",
    "versioned.commit_s.vacuum": "s",
    "versioned.bytes_written_per_user_byte": "ratio",
    "versioned.files_rewritten": "count",
    "versioned.files_skipped_ratio": "ratio",
    "streaming.batches": "count",
    "streaming.add_batch_ms": "ms",
    "streaming.query_planning_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.commit_offsets_ms": "ms",
    "streaming.state_rows": "count",
    "jvm.gc_s": "s",
    "jvm.heap_peak_mib": "MiB",
    "jvm.rss_peak_mib": "MiB",
    "self.op_s": "s",
    "self.queries.build_s": "s",
    "self.engine.sql_s": "s",
    "self.exec.collect_s": "s",
    "self.catalyst_s": "s",
    "op.p50_s": "s",
    "read.p50_s": "s",
    "write.p50_s": "s",
    "trace.untraced_op_s": "s",
    "trace.traced_op_s": "s",
    "trace.overhead_s": "s",
    "trace.ops": "count",
}


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def _loadavg() -> list[float]:
    return [round(x, 2) for x in os.getloadavg()]


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the host since boot, from /proc/stat."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    return ticks[7], sum(ticks)


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def _log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def jvm_rss_peak_mib(jvm) -> float:
    """The JVM's VmHWM, read through the gateway's pid."""
    pid = jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def _parse(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, choices=(0.001, 0.01), default=None,
                   help="override the workload's scale factor (the data under data/)")
    p.add_argument("--perturb-expected", action="store_true",
                   help="negative control: corrupt one expected result")
    return p.parse_args(argv)


class Bench:
    """One benchmark process: environment, session, timed phases."""

    def __init__(self, args: argparse.Namespace) -> None:
        from workloads import WORKLOADS

        self.args = args
        self.workload = WORKLOADS[args.workload]()
        self.cpus = _nproc()
        self.sf = args.scale if args.scale is not None else self.workload.scale
        self.sf_dir = os.path.join(DATA_DIR, f"sf{self.sf:g}")
        self.work = os.path.join(RUN_DIR, f"work-{os.getpid()}")
        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        os.environ.update({
            "SPARK_GRAFT_CPUS": str(self.cpus),
            "SPARK_LOCAL_DIRS": os.path.join(self.work, "spark-local"),
            "TMPDIR": tmp,
            "TZ": "UTC",
            "SPARK_GRAFT_DRIVER_MEM": DRIVER_HEAP,
        })
        time.tzset()
        tempfile.tempdir = tmp  # in case an import already read TMPDIR
        self.tmp = tmp
        self.host = {"nproc": self.cpus, "SPARK_GRAFT_CPUS": self.cpus, "loadavg_before": _loadavg()}
        self.ticks0 = _cpu_ticks()

    # -- set-up ----------------------------------------------------------
    def setup(self) -> float:
        """Time from process start until the engine is ready: the imports,
        then the first set-up, which launches the JVM, builds the session,
        registers the tables and runs one warm-up query. One sample a run:
        a second cold set-up would need a second JVM and costs as much as
        the timed phase."""
        from ballista_mvp_spark.engine import Engine
        from ballista_mvp_spark.queries import ALL_QUERIES
        from ballista_mvp_spark.session import build_session

        imports_s = time.perf_counter() - T_START
        b0 = time.perf_counter()
        self.spark = build_session(
            "perfbench",
            extra_conf={
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.tmp}",
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            },
        )
        self.build_s = time.perf_counter() - b0
        self.spark.sparkContext.setLogLevel("ERROR")
        self.engine = Engine(spark=self.spark, seed=self.args.seed)
        self.engine.register_testdata(self.sf_dir)
        ALL_QUERIES["count_star"](self.spark, self.sf_dir).collect()
        setup_s = imports_s + time.perf_counter() - b0
        self.host["setup_s"] = {"imports": imports_s, "session_build": self.build_s, "total": setup_s}
        return setup_s

    def check_host(self) -> bool:
        sc = self.spark.sparkContext
        self.host.update({
            "master": sc.master,
            "spark.default.parallelism": sc.defaultParallelism,
            "spark.sql.shuffle.partitions": int(self.spark.conf.get("spark.sql.shuffle.partitions")),
            "scale_factor": self.sf,
        })
        want = f"local[{self.cpus}]"
        if sc.master != want or sc.defaultParallelism != self.cpus:
            _log(f"refusing run: effective master {sc.master} / parallelism "
                 f"{sc.defaultParallelism}, requested {want}")
            return False
        return True

    def stop(self) -> None:
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()  # the JVM exits when its stdin closes
                proc.wait(timeout=60)

    def footprint_mib(self) -> float:
        """Memory the run holds: the JVM heap still live after a full
        collection at the end of the run, plus the JVM's non-heap memory
        in use (metaspace, code cache), plus this Python process's peak
        RSS. The JVM's resident peak follows G1's heap sizing rather than
        the program, so it is reported (``jvm_rss_peak``) but not used."""
        jvm = self.spark.sparkContext._jvm
        mem = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        committed = mem.getHeapMemoryUsage().getCommitted() / 2**20
        # Python's collection releases the JVM objects its dead proxies
        # hold; the first JVM collection lets Spark's ContextCleaner see
        # dead broadcasts and shuffles, and the second frees their blocks.
        gc.collect()
        mem.gc()
        time.sleep(1.0)
        mem.gc()
        heap = mem.getHeapMemoryUsage().getUsed() / 2**20
        nonheap = mem.getNonHeapMemoryUsage().getUsed() / 2**20
        python = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
        self.host["memory_mib"] = {
            "heap_live": heap, "nonheap": nonheap, "python_peak": python,
            "jvm_rss_peak": jvm_rss_peak_mib(jvm), "heap_committed": committed, "heap_max": DRIVER_HEAP,
        }
        return heap + nonheap + python

    # -- the closed loop ------------------------------------------------
    def phase(self, passes, seconds: float, tracer=None) -> dict:
        """Run whole passes while the next one, if it lasts as long as
        the last, still ends within ``seconds`` of summed operation time
        (at least one pass). Only the operations are timed; their checks
        run between them."""
        out = {"lat": [], "kind": [], "label": [], "failed": 0}
        busy = last = 0.0
        wall0 = time.perf_counter()
        i = 0
        for ops in passes:
            if out["lat"] and (busy + last > seconds or time.perf_counter() - wall0 > 3 * seconds + 60):
                break
            start = busy
            for op in ops:
                lat = self._one(op, i, out, tracer)
                busy += lat
                i += 1
            last = busy - start
        out["busy"] = busy
        return out

    def _one(self, op, i: int, out: dict, tracer) -> float:
        df = rows = None
        if tracer is not None:
            tracer.before(i)
        w0 = time.time()
        t0 = time.perf_counter()
        try:
            df = op.build()
            w1 = time.time()
            if tracer is not None:
                tracer.between(i)
            rows = df.collect()
        except Exception:
            _log(f"op {op.label} raised:\n{traceback.format_exc()}")
        lat = time.perf_counter() - t0
        w2 = time.time()
        out["lat"].append(lat)
        out["kind"].append(op.kind)
        out["label"].append(op.label)
        ok = False
        if rows is not None:
            if tracer is not None:
                tracer.after(op, df, w0, w1, w2)
            try:
                ok = op.check(df.columns, rows)
            except Exception:
                _log(f"check of {op.label} raised:\n{traceback.format_exc()}")
        if not ok:
            out["failed"] += 1
            _log(f"op {op.label} failed its check")
        return lat

    def run(self) -> dict:
        import random

        from ballista_mvp_spark.oracle import duckdb_connect
        from workloads import Ctx

        ctx = Ctx(
            spark=self.spark, engine=self.engine, sf_dir=self.sf_dir,
            duck=duckdb_connect(self.sf_dir), rng=random.Random(self.args.seed),
            work_dir=self.work, perturb=self.args.perturb_expected,
        )
        warm = self.phase([self.workload.prepare(ctx)], float("inf"))
        passes = self.workload.passes(ctx)
        if self.args.trace:
            return self._traced(passes, warm)
        timed = self.phase(passes, self.args.seconds)
        return {"warm": warm, "timed": timed}

    def _traced(self, passes, warm) -> dict:
        from layers import Tracer

        half = self.args.seconds / 2
        untraced = self.phase(passes, half)
        tracer = Tracer(self.spark)
        traced = self.phase(passes, half, tracer)
        time.sleep(0.5)  # let the listener bus deliver the last progress events
        tracer.close()
        out_dir = os.path.join(RUN_DIR, "traces")
        os.makedirs(out_dir, exist_ok=True)
        tracer.write_spans(os.path.join(out_dir, f"{self.args.workload}-seed{self.args.seed}.jsonl"))
        return {"warm": warm, "untraced": untraced, "timed": traced, "tracer": tracer}

    # -- metrics ---------------------------------------------------------
    def end_to_end(self, res: dict, setup_s: float) -> dict:
        t = res["timed"]
        attempted = len(res["warm"]["lat"]) + len(t["lat"])
        return {
            "setup_s": setup_s,
            "ops_per_s": len(t["lat"]) / t["busy"],
            "correct_share": (attempted - res["warm"]["failed"] - t["failed"]) / attempted,
            "footprint_mib": self.footprint_mib(),
        }

    def per_layer(self, res: dict) -> dict:
        tracer = res["tracer"]
        recs = tracer.ops
        reads = [r for r in recs if r["kind"] == "read"]
        m = {k: 0.0 for k in PER_LAYER}
        m["session.build_s"] = self.build_s
        q = [r for r in recs if r["layer"] == "queries"]
        e = [r for r in recs if r["layer"] == "engine"]
        m["queries.build_s"] = _mean(r["build_s"] for r in q)
        m["queries.eager_jobs"] = _mean(r["queries.eager_jobs"] for r in q)
        m["engine.sql_s"] = _mean(r["build_s"] for r in e)
        m["exec.collect_s"] = _mean(r["collect_s"] for r in recs)
        for key in ("codegen.compiles", "codegen.compile_ms", "exec.jobs", "exec.stages", "exec.tasks",
                    "exec.task_run_s", "exec.task_cpu_s", "exec.shuffle_fetch_wait_s", "exec.spill_bytes"):
            m[key] = _mean(r[key] for r in recs)
        for key in PER_LAYER:
            if key.startswith(("catalyst.", "pyworker.")) or key in (
                "exec.scan_rows", "exec.scan_bytes", "exec.shuffle_bytes_written",
                "exec.shuffle_records_read", "exec.broadcasts",
            ):
                m[key] = _mean(r[key] for r in reads)
        out_rows = sum(r["exec.output_rows"] for r in reads)
        m["exec.scan_rows_per_output_row"] = sum(r["exec.scan_rows"] for r in reads) / out_rows if out_rows else 0.0
        m["codegen.cache_fits"] = 1.0 if sum(r["codegen.compiles"] for r in recs) == 0 else 0.0
        m.update(self.workload.layer_metrics(recs))
        drains = sum(1 for r in recs if r["label"].startswith("streaming_"))
        m.update(tracer.streaming(drains))
        m["jvm.gc_s"] = tracer.gc_s()
        m["jvm.heap_peak_mib"] = tracer.heap_peak_mib()
        m["jvm.rss_peak_mib"] = jvm_rss_peak_mib(self.spark.sparkContext._jvm)
        selfs = tracer.self_times()
        for name in ("op", "queries.build", "engine.sql", "exec.collect"):
            m[f"self.{name}_s"] = selfs.get(name, 0.0)
        m["self.catalyst_s"] = sum(v for k, v in selfs.items() if k.startswith("catalyst."))
        t, u = res["timed"], res["untraced"]
        for key, kinds in (("op.p50_s", ("read", "write")), ("read.p50_s", ("read",)), ("write.p50_s", ("write",))):
            lat = [x for x, k in zip(u["lat"], u["kind"]) if k in kinds]
            m[key] = statistics.median(lat) if lat else 0.0
        both = set(u["label"]) & set(t["label"])
        pick = (lambda ph: [x for x, lb in zip(ph["lat"], ph["label"]) if lb in both]) if both else (lambda ph: ph["lat"])
        m["trace.untraced_op_s"] = _mean(pick(u))
        m["trace.traced_op_s"] = _mean(pick(t))
        m["trace.overhead_s"] = m["trace.traced_op_s"] - m["trace.untraced_op_s"]
        m["trace.ops"] = len(recs)
        return m


def main(argv: list[str]) -> int:
    args = _parse(argv)
    if not os.path.isfile(os.path.join(ROOT, "ballista_mvp_spark", "__init__.py")):
        _log(f"no engine package under {ROOT}; run from the root of a checkout")
        return 2
    sys.path.insert(0, ROOT)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        _log(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
        return 2
    bench = Bench(args)
    try:
        setup_s = bench.setup()
        if not bench.check_host():
            return 3
        res = bench.run()
        metrics = bench.per_layer(res) if args.trace else bench.end_to_end(res, setup_s)
    finally:
        if hasattr(bench, "spark"):
            bench.stop()
        shutil.rmtree(bench.work, ignore_errors=True)
    phases = [res[k] for k in ("warm", "untraced", "timed") if k in res]
    attempted = sum(len(p["lat"]) for p in phases)
    failed = sum(p["failed"] for p in phases)
    bench.host["loadavg_after"] = _loadavg()
    steal, total = (b - a for a, b in zip(bench.ticks0, _cpu_ticks()))
    bench.host["cpu_steal_share"] = steal / total if total else 0.0
    bench.host["ops"] = {k: len(res[k]["lat"]) for k in ("warm", "untraced", "timed") if k in res}
    bench.host["busy_s"] = {k: res[k]["busy"] for k in ("warm", "untraced", "timed") if k in res}
    bench.host["timed_op_s"] = [[lb, round(x, 3)] for lb, x in zip(res["timed"]["label"], res["timed"]["lat"])]
    bench.host["wall_s"] = time.perf_counter() - T_START
    print("perfbench-host " + json.dumps(bench.host))
    units = PER_LAYER if args.trace else END_TO_END
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
