"""Per-layer measurement for the traced run, taken from outside the
program: wall time around each call into csp_spark, Spark's status
tracker (job groups), its REST API (stage and SQL metrics), the query
planning tracker and StreamingQueryProgress.

Every op of a traced pass runs in three job groups (build, plan, then
exec or write); the counters below are summed per group, then per layer.
A streaming query's jobs carry its run id as their group.
"""

from __future__ import annotations

import json
import re
import time
import urllib.request
from collections import defaultdict

# The layers an op can call into (the csp_spark module of the public
# function), and every per-layer metric a traced run reports. A layer the
# workload does not call reports 0.
LAYERS = ("core.align", "stats.rolling", "stats.ema", "core.noderun", "plans.runtime",
          "text", "dedup", "pipeline", "similarity", "sinks")
PER_LAYER = (
    [f"{layer}.{m}" for layer in LAYERS
     for m in ("build_s", "build_jobs", "plan_s", "write_s" if layer == "sinks" else "exec_s")]
    + ["similarity.collect_mb", "sinks.write_mb"]
    + [f"streaming.{m}" for m in (
        "build_s", "exec_s", "batch_s", "add_batch_s", "overhead_s", "state_rows",
        "state_mem_mb")]
    + [f"spark.{m}" for m in (
        "catalyst_s", "eager_jobs", "jobs", "stages", "tasks", "failed_tasks",
        "executor_run_s", "executor_cpu_s", "python_s", "python_init_s",
        "shuffle_write_mb", "spill_mb", "gc_s", "collect_mb")]
    + ["peak_rss_mb", "wall_s", "tracing_overhead_s", "jvm.jit_s"]
)
_FROM_CALLER = ("peak_rss_mb", "wall_s", "tracing_overhead_s", "jvm.jit_s")
_UNITS = {"ms": 1e-3, "s": 1.0, "min": 60.0, "h": 3600.0}


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.groups = []  # (layer, op, phase, group id)
        self.times = defaultdict(float)  # (layer, phase) -> seconds
        self.catalyst_s = 0.0
        self.progress = []  # StreamingQueryProgress of every traced micro-batch
        self._n = 0

    def phase(self, layer, op, phase):
        """Open the job group for one phase of one op; returns a timer
        whose ``stop()`` records the phase's wall time."""
        self._n += 1
        gid = f"{op}|{phase}|{self._n}"
        self.sc.setJobGroup(gid, gid)
        self.groups.append((layer, op, phase, gid))
        return _Timer(self.times, (layer, phase))

    def force_plan(self, layer, op, df):
        """Time Catalyst's optimization and physical planning of ``df``
        (a streaming plan is planned per micro-batch instead)."""
        if df.isStreaming:
            return
        t = self.phase(layer, op, "plan")
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        t.stop()
        it = qe.tracker().phases().iterator()
        while it.hasNext():
            self.catalyst_s += it.next()._2().durationMs() / 1e3

    def stream(self, op, run_id, progress):
        """Count a finished streaming query: its jobs run in a job group
        named by the query's run id."""
        self.groups.append(("streaming", op, "exec", run_id))
        self.progress.extend(json.loads(p) for p in progress)

    def done(self):
        self.sc.setJobGroup("", "")

    # ---------------------------------------------------------- collection

    def _get(self, path):
        base = f"{self.sc.uiWebUrl}/api/v1/applications/{self.sc.applicationId}"
        with urllib.request.urlopen(base + path, timeout=30) as r:
            return json.load(r)

    def _settled_jobs(self):
        """Job ids per group, once the status store has every job ended
        (the listener bus delivers events asynchronously)."""
        tracker = self.sc.statusTracker()
        for _ in range(100):
            jobs = {g[3]: list(tracker.getJobIdsForGroup(g[3])) for g in self.groups}
            infos = [tracker.getJobInfo(j) for js in jobs.values() for j in js]
            if all(i is not None and i.status in ("SUCCEEDED", "FAILED") for i in infos):
                return jobs
            time.sleep(0.1)
        return jobs

    def metrics(self):
        """The PER_LAYER metrics read from Spark for the traced pass (the
        streaming batch times per micro-batch). The caller adds the
        _FROM_CALLER ones."""
        jobs = self._settled_jobs()
        time.sleep(0.5)  # stage completion events land after job end
        m = defaultdict(float)
        for (layer, phase), s in self.times.items():
            m[f"{layer}.{phase}_s"] += s
        job_layer = {}
        for layer, _op, phase, gid in self.groups:
            m[f"{layer}.{phase}_jobs"] += len(jobs[gid])
            m["spark.jobs"] += len(jobs[gid])
            if phase == "build":
                m["spark.eager_jobs"] += len(jobs[gid])
            for j in jobs[gid]:
                job_layer[j] = layer
        for j, layer in job_layer.items():
            for sid in self._get(f"/jobs/{j}")["stageIds"]:
                for st in self._get(f"/stages/{sid}"):
                    if st["status"] == "SKIPPED":
                        continue
                    m["spark.stages"] += 1
                    m["spark.tasks"] += st["numTasks"]
                    m["spark.failed_tasks"] += st["numFailedTasks"]
                    m["spark.executor_run_s"] += st["executorRunTime"] / 1e3
                    m["spark.executor_cpu_s"] += st["executorCpuTime"] / 1e9
                    m["spark.gc_s"] += st["jvmGcTime"] / 1e3
                    m["spark.shuffle_write_mb"] += st["shuffleWriteBytes"] / 1e6
                    m["spark.spill_mb"] += (st["memoryBytesSpilled"] + st["diskBytesSpilled"]) / 1e6
                    m["spark.collect_mb"] += st["resultSize"] / 1e6
                    m[f"{layer}.collect_mb"] += st["resultSize"] / 1e6
                    m[f"{layer}.write_mb"] += st["outputBytes"] / 1e6
        for ex in self._get("/sql?details=true&planDescription=false&length=1000000"):
            if not set(ex.get("successJobIds", []) + ex.get("failedJobIds", [])) & job_layer.keys():
                continue
            for node in ex["nodes"]:
                for metric in node["metrics"]:
                    if metric["name"] == "time to run Python workers":
                        m["spark.python_s"] += _seconds(metric["value"])
                    elif metric["name"] in ("time to start Python workers",
                                            "time to initialize Python workers"):
                        m["spark.python_init_s"] += _seconds(metric["value"])
        m["spark.catalyst_s"] = self.catalyst_s
        out = {k: m.get(k, 0.0) for k in PER_LAYER if k not in _FROM_CALLER}
        if self.progress:
            out.update(_stream_metrics(self.progress))
        return out

    def jobs_per_op(self):
        jobs = self._settled_jobs()
        out = defaultdict(lambda: defaultdict(float))
        for _layer, op, phase, gid in self.groups:
            out[op][phase] += len(jobs[gid])
        return {op: dict(d) for op, d in out.items()}


class _Timer:
    def __init__(self, sink, key):
        self.sink, self.key, self.t0 = sink, key, time.perf_counter()

    def stop(self):
        self.sink[self.key] += time.perf_counter() - self.t0


def _seconds(value: str) -> float:
    """A Spark UI timing string ('1.2 s', '482 ms', or a
    'total (min, med, max ...)' block whose second line starts with the
    total) in seconds."""
    line = value.split("\n")[-1] if "\n" in value else value
    hit = re.match(r"\s*([\d.,]+)\s*(ms|s|min|h)\b", line)
    return float(hit.group(1).replace(",", "")) * _UNITS[hit.group(2)] if hit else 0.0


def _stream_metrics(progress):
    """Median trigger, addBatch and non-addBatch time per micro-batch, and
    the state store's size after the last one."""
    import statistics

    add = [p["durationMs"].get("addBatch", 0) / 1e3 for p in progress]
    trig = [p["durationMs"].get("triggerExecution", 0) / 1e3 for p in progress]
    state = progress[-1]["stateOperators"]
    return {
        "streaming.batch_s": statistics.median(trig),
        "streaming.add_batch_s": statistics.median(add),
        "streaming.overhead_s": statistics.median(t - a for t, a in zip(trig, add)),
        "streaming.state_rows": float(sum(op["numRowsTotal"] for op in state)),
        "streaming.state_mem_mb": sum(op["memoryUsedBytes"] for op in state) / 1e6,
    }
