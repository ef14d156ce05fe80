"""Benchmark entry point.

    python3 perfbench/run.py --workload staged_snapshot --seed 1 --seconds 1 --trace 0

Runs one workload on ``local[<nproc>]`` in one process with one client
thread, and prints as its last stdout line::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics of BENCHMARK.json, ``--trace 1``
the per-layer ones. The line before it is a ``{"context": ...}`` record
(host, versions, session conf, seed, input sizes and fingerprint). Both,
plus the spans and stage groups of a traced run, are also written to
``.perfbench-work/results/``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench-work")
RESULTS = os.path.join(WORK_ROOT, "results")

#: set-ups per run; setup_s is their median
SETUPS = 3


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size factor (the self-tests run at toy scale)")
    ap.add_argument("--drop-one-row", action="store_true",
                    help="drop one output row before hashing (self-test of the output check)")
    return ap.parse_args(argv)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def source_digest() -> str:
    """Digest of the program's sources: the checkout is not a git repo, so
    this stands in for the commit."""
    import hashlib

    h = hashlib.sha256()
    files = [os.path.join(ROOT, "__spark_entry__.py")]
    for d, _, fs in sorted(os.walk(os.path.join(ROOT, "rdfcmap_spark"))):
        files += [os.path.join(d, f) for f in sorted(fs) if f.endswith(".py")]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def git_commit() -> str | None:
    head = os.path.join(ROOT, ".git", "HEAD")
    try:
        with open(head) as f:
            ref = f.read().strip()
        if ref.startswith("ref: "):
            with open(os.path.join(ROOT, ".git", ref[5:])) as f:
                return f.read().strip()
        return ref
    except OSError:
        return None


def mem_total_mb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024
    return 0.0


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set of ``pid`` (VmHWM), in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def context(spark, args, inputs: dict) -> dict:
    import duckdb
    import pyspark

    conf = spark.conf
    return {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "scale": args.scale,
        "inputs": inputs,
        "nproc": nproc(),
        "mem_total_mb": mem_total_mb(),
        "python": sys.version.split()[0],
        "pyspark": pyspark.__version__,
        "duckdb": duckdb.__version__,
        "java": spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
        "git_commit": git_commit(),
        "source_digest": source_digest(),
        "session_conf": {
            k: conf.get(k, None)
            for k in ("spark.master", "spark.driver.memory", "spark.memory.offHeap.enabled",
                      "spark.memory.offHeap.size", "spark.sql.shuffle.partitions",
                      "spark.ui.enabled")
        },
    }


class StderrToFile:
    """Point fd 2 at a file, so the Spark JVM (which inherits it) logs there
    and the benchmark's own output stays readable."""

    def __init__(self, path: str):
        self.path = path
        self.saved = os.dup(2)
        fd = os.open(path, os.O_WRONLY | os.O_CREAT | os.O_TRUNC, 0o644)
        sys.stderr.flush()
        os.dup2(fd, 2)
        os.close(fd)

    def restore(self) -> None:
        sys.stderr.flush()
        os.dup2(self.saved, 2)
        os.close(self.saved)

    def tail(self, n: int = 40) -> str:
        with open(self.path, errors="replace") as f:
            return "".join(f.readlines()[-n:])


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_spark(spark) -> None:
    """Stop the session and the gateway JVM, and wait until the JVM and its
    Python workers have exited."""
    from pyspark import SparkContext

    from workloads import jvm_pid, process_tree

    tree = process_tree(jvm_pid(spark))
    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.perf_counter() + 30
    while any(_alive(p) for p in tree) and time.perf_counter() < deadline:
        time.sleep(0.1)


def load_twin(wl, spark, cache_dir: str) -> dict:
    """The DuckDB-verified hashes of this input: computed once per
    (workload, input fingerprint, program sources) and cached."""
    os.makedirs(cache_dir, exist_ok=True)
    key = f"{wl.name}-{wl.fingerprint}-{source_digest()}-{wl.scale}"
    path = os.path.join(cache_dir, key + ".json")
    if os.path.exists(path):
        with open(path) as f:
            return {k: tuple(v) for k, v in json.load(f).items()}
    hashes = wl.twin_hashes(spark)
    with open(path, "w") as f:
        json.dump(hashes, f)
    return hashes


def main(argv=None) -> int:
    args = parse_args(argv)
    os.chdir(ROOT)
    for p in (HERE, ROOT):
        if p not in sys.path:
            sys.path.insert(0, p)
    try:
        import __spark_entry__  # noqa: F401
        import duckdb  # noqa: F401
        import rdfcmap_spark  # noqa: F401
        from rdfcmap_spark.session import build_session
    except ImportError as e:
        print(f"perfbench: cannot import the program ({e}); run it from a checkout of the repo",
              file=sys.stderr)
        return 2
    import spans as T
    from workloads import PER_LAYER, WORKLOADS, jvm_pid, layer_metrics

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    run_id = f"{args.workload}-s{args.seed}-t{args.trace}"
    work = os.path.join(WORK_ROOT, f"run-{run_id}-{os.getpid()}")
    os.makedirs(RESULTS, exist_ok=True)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    log = StderrToFile(os.path.join(RESULTS, run_id + ".log"))
    # the program's defaults, sized to the machine
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # temporary files of Python and of the JVM (native libraries, artifact
    # dirs, perf counters) stay inside the checkout too
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:+PerfDisableSharedMem"

    wl = WORKLOADS[args.workload](args.seed, args.scale, work, log_path=log.path)
    spark = None
    try:
        inputs = wl.generate()
        setups = []
        for _ in range(SETUPS):
            if spark is not None:
                spark.stop()
            t0 = time.perf_counter()
            spark = build_session(app_name=f"perfbench-{args.workload}",
                                  extra_conf=T.TRACE_CONF if args.trace else None)
            t1 = time.perf_counter()
            wl.materialize(spark)
            t2 = time.perf_counter()
            setups.append({"session_s": t1 - t0, "materialize_s": t2 - t1, "total_s": t2 - t0})

        attempted = failed = 0
        passes = []

        def one_pass(fn):
            nonlocal attempted, failed
            attempted += len(wl.ops)
            try:
                p = fn()
            except Exception:
                failed += len(wl.ops)
                traceback.print_exc()
                return None
            passes.append(p)
            return p

        counters, groups, tracer = {}, {}, None
        if args.trace:
            # cold untraced pass, traced pass, warm untraced pass: the traced
            # pass is compared with the warm untraced one
            cold = one_pass(lambda: wl.run_pass(spark))
            sm = T.StageMetrics(spark)
            tracer = T.Tracer(spark)

            def traced_pass():
                p, c = wl.traced_pass(spark, tracer, sm)
                counters.update(c)
                return p

            traced = one_pass(traced_pass)
            groups = {g: m for g, m in sm.collect().items() if g != "(none)"}
            warm = one_pass(lambda: wl.run_pass(spark))
        else:
            t_window = time.perf_counter()
            while True:
                one_pass(lambda: wl.run_pass(spark, drop_one=args.drop_one_row))
                if time.perf_counter() - t_window >= args.seconds:
                    break
        if not passes:
            raise RuntimeError("no pass completed")
        peak_rss_mb = vm_hwm_mb(jvm_pid(spark))

        t_verify = time.perf_counter()
        twin_hashes = load_twin(wl, spark, os.path.join(WORK_ROOT, "verified"))
        for p in passes:
            for op, got in p.hashes.items():
                if tuple(got) != tuple(twin_hashes[op]):
                    p.failed.add(op)
            failed += len(p.failed)
        verify_s = time.perf_counter() - t_verify
        ctx = context(spark, args, inputs)
    except Exception:
        traceback.print_exc()
        log.restore()
        print(f"perfbench: run failed; log tail from {log.path}:\n{log.tail()}", file=sys.stderr)
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        return 1

    med = statistics.median
    if args.trace:
        v = layer_metrics(tracer, groups, counters)
        v["session.start_s"] = setups[0]["session_s"]
        v["session.restart_s"] = med(s["session_s"] for s in setups[1:])
        v["session.materialize_s"] = med(s["materialize_s"] for s in setups)
        v["peak_rss_mb"] = peak_rss_mb
        v["trace.cold_s"] = cold.mix_s if cold else 0.0
        v["trace.traced_s"] = traced.mix_s if traced else 0.0
        v["trace.untraced_s"] = warm.mix_s if warm else 0.0
        v["trace.overhead_s"] = v["trace.traced_s"] - v["trace.untraced_s"]
        v["failed_ratio"] = failed / attempted
        metrics = {name: {"value": v[name], "unit": unit} for name, unit, _ in PER_LAYER}
    else:
        metrics = {
            "setup_s": {"value": med(s["total_s"] for s in setups), "unit": "s"},
            "build_s": {"value": med(p.build_s for p in passes), "unit": "s"},
            "triples_per_s": {"value": med(p.rows / p.build_s for p in passes), "unit": "1/s"},
            "bytes_per_triple": {"value": med(p.bytes_written / max(1, p.rows) for p in passes),
                                 "unit": "B"},
            "mix_s": {"value": med(p.mix_s for p in passes), "unit": "s"},
            "cpu_s": {"value": med(p.cpu_s for p in passes), "unit": "s"},
        }
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}
    record = {
        "context": ctx,
        "setups": setups,
        "passes": [
            {"build_s": p.build_s, "mix_s": p.mix_s, "cpu_s": p.cpu_s, "rows": p.rows,
             "bytes_written": p.bytes_written,
             "op_s": p.op_s, "hashes": p.hashes, "failed": sorted(p.failed)}
            for p in passes
        ],
        "verify_s": verify_s,
        "spans": tracer.spans if tracer else [],
        "groups": groups,
        "result": result,
    }
    with open(os.path.join(RESULTS, run_id + ".json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    stop_spark(spark)
    shutil.rmtree(work, ignore_errors=True)
    log.restore()
    print(json.dumps({"context": ctx}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
