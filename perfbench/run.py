"""csp_spark benchmark: one command, one workload per run.

    python3 perfbench/run.py --workload tick_replay --seed 1 --seconds 10 --trace 0

Run from the repository root. A run generates its inputs from the seed
under ``.perfbench_work/`` and then:

1. sets up the local Spark session from process start (session up,
   inputs registered and counted); ``setup_s`` is its CPU time;
2. runs the cold pass, the same pass as the timed one with every op's
   output then collected and checked (see verify.py), and waits for the
   JIT to go idle;
3. times one pass of every op, whatever ``--seconds`` says; ``cpu_s`` is
   its CPU time;
4. with ``--trace 1``, times one more pass with per-layer tracing.

CPU times are those of the whole process tree (driver, JVM, Python
workers) less the JVM's JIT compiler threads. The last line of standard
output is the JSON result; the line before it records the environment,
wall times, per-op times, and the LSH/BLAS digests. See
perfbench/README.md.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("doc_curate", "tick_replay")
# JVM threads whose CPU time is JIT compilation, not the work itself
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def main():
    ap = argparse.ArgumentParser(description="csp_spark benchmark")
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isfile(os.path.join(REPO, "csp_spark", "__init__.py")):
        sys.exit(f"csp_spark is not in {REPO}: run from a full checkout")
    work = os.path.join(REPO, ".perfbench_work", f"{a.workload}-{a.seed}-{os.getpid()}")
    run = Run(a, work)
    try:
        result, info = run.run()
    finally:
        run.close()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(info, sort_keys=True))
    print(json.dumps(result))


class Run:
    def __init__(self, args, work):
        self.a = args
        self.work = work
        self.info = {"workload": args.workload, "seed": args.seed}
        self.spark = None
        self.inp = None

    def close(self):
        """Stop the session and wait for the JVM, which exits when its
        standard input closes, and with it the Python workers."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        gateway.shutdown()
        gateway.proc.stdin.close()
        try:
            gateway.proc.wait(60)
        except subprocess.TimeoutExpired:
            gateway.proc.kill()
            gateway.proc.wait()

    def _environment(self):
        """Keep every file the run writes inside the work directory, and let
        Python workers import csp_spark and perfbench."""
        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        os.environ["TMPDIR"] = tmp
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (REPO, os.environ.get("PYTHONPATH")) if p
        )
        os.environ.setdefault("PYTHONWARNINGS", "ignore::FutureWarning")
        # the JVMs would otherwise keep a perf-data file under /tmp
        os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
        sys.path.insert(0, REPO)

    def _session(self):
        from csp_spark import get_spark

        cores = min(4, os.cpu_count() or 1)
        spark = get_spark(
            app_name="perfbench",
            master=f"local[{cores}]",
            shuffle_partitions=cores,
            **{
                "spark.driver.memory": "2g",
                # the UI's REST API serves the traced run's stage metrics
                "spark.ui.enabled": str(bool(self.a.trace)).lower(),
                "spark.ui.showConsoleProgress": "false",
                "spark.local.dir": os.path.join(self.work, "local"),
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                "spark.driver.extraJavaOptions":
                    (f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"
                     # compiler threads live as long as the JVM, so their
                     # CPU time can be told apart from the rest
                     " -XX:-UseDynamicNumberOfCompilerThreads"),
            },
        )
        spark.sparkContext.setLogLevel("ERROR")
        return spark

    def run(self):
        self._environment()
        from perfbench import gen, workloads

        t, c = time.perf_counter(), _cpu_s()
        paths = gen.generate(os.path.join(self.work, "inputs"), self.a.seed,
                             gen.SIZES[self.a.workload])
        self.info["gen_s"] = time.perf_counter() - t
        gen_cpu = _cpu_s() - c
        self.ops = workloads.WORKLOADS[self.a.workload]

        # Set-up runs from process start (interpreter, imports, JVM launch,
        # session, inputs registered and counted), less input generation.
        self.spark = self._session()
        self.inp = workloads.Inputs(self.spark, paths, os.path.join(self.work, "sink"))
        self.info["rows"] = {name: df.count() for name, df in self.inp.tables.items()}
        setup_jit = _jit_s()
        setup_cpu = _cpu_s() - gen_cpu - setup_jit
        self.info.update(setup_jit_s=setup_jit,
                         setup_wall_s=time.perf_counter() - T_PROCESS - self.info["gen_s"])

        t = time.perf_counter()
        failed = self.verify(paths)
        self.info["cold_pass_s"] = time.perf_counter() - t
        if failed:
            sys.exit(f"{failed} of {len(self.ops)} ops failed their checks")
        self.info["quiesce_s"] = _quiesce()

        steal0, host0 = _steal_s(), _host_busy_s()
        wall, cpu, jit, ops = self.one_pass()
        self.info.update(steal_s=_steal_s() - steal0,
                         others_cpu_s=_host_busy_s() - host0 - cpu - jit,
                         wall_s=wall, jit_s=jit, op_s=ops)
        sc = self.spark.sparkContext
        self.info.update(
            default_parallelism=sc.defaultParallelism,
            master=sc.master,
            spark_version=self.spark.version,
            peak_rss_mb=_rss_mb(),
        )
        if self.a.trace:
            from perfbench.trace import Tracer

            tracer = Tracer(self.spark)
            traced_wall = self.one_pass(tracer)[0]
            metrics = tracer.metrics()
            self.info["jobs_per_op"] = tracer.jobs_per_op()
            metrics.update(wall_s=wall, tracing_overhead_s=traced_wall - wall,
                           peak_rss_mb=_rss_mb(), **{"jvm.jit_s": jit})
        else:
            metrics = {"cpu_s": cpu, "setup_s": setup_cpu}
        result = {
            "correct": failed == 0,
            "attempted": len(self.ops),
            "failed": failed,
            "metrics": {k: {"value": v, "unit": _unit(k)} for k, v in sorted(metrics.items())},
        }
        return result, self.info

    # ------------------------------------------------------------ passes

    def _reset(self):
        """Outside any timed region: drop the memoized LSH pairs and every
        persisted result, and collect garbage in both runtimes so the
        context cleaner frees checkpoints. Each pass then does real work
        (a persisted plan would otherwise serve the next pass's identical
        plan from the cache)."""
        from csp_spark.dedup.dedup import clear_pairs_cache

        clear_pairs_cache(self.spark)
        self.spark.catalog.clearCache()
        self.inp.results.clear()
        gc.collect()
        self.spark._jvm.System.gc()

    def one_pass(self, tracer=None, collect=None):
        """Every op once: build through the public API, then sink. Returns
        the pass's wall time, its process-tree CPU seconds less the JIT's,
        the JIT's CPU seconds, and each op's wall and CPU (less JIT)
        seconds. ``collect``, on the untimed cold pass, receives each op's
        sunk result."""
        self._reset()
        ops = {}
        start = last = (time.perf_counter(), _cpu_s(), _jit_s())
        for op in self.ops:
            if tracer:
                ph = tracer.phase(op.layer, op.name, "build")
            df = op.build(self.inp)
            if tracer:
                ph.stop()
                tracer.force_plan(op.layer, op.name, df)
                ph = tracer.phase(op.layer, op.name, "write" if op.layer == "sinks" else "exec")
            if op.write:
                op.write(self.inp, df)
            else:
                df.write.format("noop").mode("overwrite").save()
            if tracer:
                ph.stop()
                if "stream" in self.inp.results:
                    tracer.stream(op.name, *self.inp.results.pop("stream"))
            if collect:
                collect(op, df)
            now = (time.perf_counter(), _cpu_s(), _jit_s())
            ops[op.name] = (now[0] - last[0], now[1] - last[1] - (now[2] - last[2]))
            last = now
        if tracer:
            tracer.done()
        wall, cpu, jit = (b - a for a, b in zip(start, last))
        return wall, cpu - jit, jit, ops

    def verify(self, paths):
        """The cold pass, which is also the warm-up: the same pass as the
        timed one, with every op's output then collected and checked. An op
        that raises or fails its check counts as failed; a failure ends the
        pass, and the ops after it count as failed too."""
        from perfbench.verify import Checker

        checker = Checker(paths)
        failed = 0

        def check(op, df):
            nonlocal failed
            checked.append(op.name)
            t = time.perf_counter()
            try:
                got = None if df.isStreaming else df.toPandas()
                if op.oracle:
                    checker.oracle(op.oracle, got)
                else:
                    getattr(checker, op.check)(self.inp, got)
            except Exception as e:  # noqa: BLE001 - any failure fails the op
                failed += 1
                print(f"FAILED {op.name}:", file=sys.stderr)
                traceback.print_exception(e, file=sys.stderr)
            check_s[op.name] = time.perf_counter() - t

        checked, check_s = [], {}
        try:
            self.info["cold_op_s"] = self.one_pass(collect=check)[3]
            self.info["check_s"] = check_s
        except Exception as e:  # noqa: BLE001 - the op being built or sunk failed
            print("FAILED in the cold pass:", file=sys.stderr)
            traceback.print_exception(e, file=sys.stderr)
            failed += len(self.ops) - len(checked)
        self.info["checks"] = checker.notes
        return failed


def _unit(name):
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_s"):
        return "s"
    return "count"


def _steal_s():
    """Host steal time, all CPUs, from /proc/stat (0 where unavailable)."""
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


def _jit_s():
    """CPU seconds the JVM's JIT compiler threads have used so far."""
    ticks = 0
    for pid in _tree():
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                with open(f"/proc/{pid}/task/{tid}/stat") as f:
                    name, fields = f.read().split("(", 1)[1].rsplit(")", 1)
            except OSError:
                continue
            if name.startswith(JIT_THREADS):
                ticks += sum(int(x) for x in fields.split()[11:13])
    return ticks / os.sysconf("SC_CLK_TCK")


def _host_busy_s():
    """Busy CPU seconds of the whole host, all CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return (sum(fields[:8]) - fields[3] - fields[4]) / os.sysconf("SC_CLK_TCK")


def _tree():
    """Pids of this process and all its descendants: the JVM and the
    Python workers."""
    pids, seen = [os.getpid()], []
    while pids:
        pid = pids.pop()
        if pid in seen:
            continue
        seen.append(pid)
        try:
            with open(f"/proc/{pid}/task/{pid}/children") as f:
                pids.extend(int(c) for c in f.read().split())
        except OSError:
            continue
    return seen


def _cpu_s():
    """CPU seconds used so far by the process tree, reaped children
    included (utime + stime + cutime + cstime)."""
    ticks = 0
    for pid in _tree():
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(x) for x in fields[11:15])
    return ticks / os.sysconf("SC_CLK_TCK")


def _quiesce(limit_s=10.0, idle_share=0.25):
    """Wait until the process tree is nearly idle (the JIT compiler has
    drained the queue the cold pass left), at most ``limit_s``. Returns
    the seconds waited."""
    t0 = time.perf_counter()
    while time.perf_counter() - t0 < limit_s:
        c0 = _cpu_s()
        time.sleep(0.5)
        if _cpu_s() - c0 < 0.5 * idle_share:
            break
    return time.perf_counter() - t0


def _rss_mb():
    """Peak resident set of the process tree (VmHWM per process, summed)."""
    total = 0
    for pid in _tree():
        try:
            with open(f"/proc/{pid}/status") as f:
                total += sum(int(ln.split()[1]) for ln in f if ln.startswith("VmHWM:"))
        except OSError:
            continue
    return total / 1024


if __name__ == "__main__":
    main()
