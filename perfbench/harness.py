"""Measurement plumbing shared by the workloads.

Nothing here changes how the engine runs.  It starts and stops the Spark
session through ``runtime.session.get_spark``, forces and hashes
DataFrames, records trace spans, reads SQL metrics from executed plans,
and accounts for the memory and lifetime of every process the benchmark
starts.
"""

from __future__ import annotations

import json
import os
import signal
import statistics
import subprocess
import time
from contextlib import contextmanager

CORES = 4  # local[4]: the benchmark host has 4 CPUs
SETUPS = 2  # set-ups per run: the first launches the JVM, the second reuses it


def median(values):
    return statistics.median(values) if values else 0.0


def host_ref_s() -> float:
    """Median of three timings of one fixed single-core job (sorting 2M
    seeded doubles ten times): how fast the host runs at the moment.  The
    report prints it as context; no metric uses it."""
    import numpy as np

    x = np.random.default_rng(0).random(2_000_000)
    times = []
    for _ in range(3):
        t0 = time.perf_counter()
        for _ in range(10):
            np.sort(x)
        times.append(time.perf_counter() - t0)
    return median(times)


# ------------------------------------------------------------- processes


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; the ppid follows its ")"
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def descendants(pid: int | None = None) -> list[int]:
    """Every live process below ``pid`` (default: this process)."""
    kids = _children_map()
    out, stack = [], [pid or os.getpid()]
    while stack:
        for c in kids.get(stack.pop(), []):
            out.append(c)
            stack.append(c)
    return out


def _status_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb() -> float:
    """Summed VmHWM of this process, the JVM and the live Python workers."""
    pids = [os.getpid(), *descendants()]
    return sum(_status_kb(p, "VmHWM") for p in pids) / 1024.0


def pin_tree(cpus: set[int], pid: int) -> None:
    """Pin every thread of ``pid`` and of its descendants to ``cpus``."""
    for _ in range(2):  # threads spawned during the first sweep
        for p in [pid, *descendants(pid)]:
            try:
                tids = os.listdir(f"/proc/{p}/task")
            except OSError:
                continue
            for tid in tids:
                try:
                    os.sched_setaffinity(int(tid), cpus)
                except OSError:
                    pass


def reap_descendants(timeout: float = 30.0) -> None:
    """Terminate and wait for every process this benchmark left behind."""
    deadline = time.monotonic() + timeout
    sig = signal.SIGTERM
    while True:
        left = descendants()
        if not left:
            return
        if time.monotonic() > deadline:
            sig = signal.SIGKILL
        for p in left:
            try:
                os.kill(p, sig)
            except ProcessLookupError:
                pass
            try:  # reap direct children so they do not linger as zombies
                os.waitpid(p, os.WNOHANG)
            except ChildProcessError:
                pass
        time.sleep(0.2)


# ---------------------------------------------------------------- spark


class Session:
    """One Spark session at a time, started through the engine's factory."""

    def __init__(self) -> None:
        self.spark = None

    def start(self, cores: int = CORES):
        from eristropy_spark.runtime.session import get_spark

        self.spark = get_spark(app_name="perfbench", cores=cores,
                               extra_conf={"spark.ui.showConsoleProgress": "false"})
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.catalog.clearCache()
            self.spark.stop()

    def shutdown(self) -> None:
        """Stop Spark, end the JVM and wait for every child to exit."""
        if self.spark is None:
            reap_descendants()
            return
        gateway = self.spark.sparkContext._gateway
        proc = getattr(gateway, "proc", None)
        self.stop()
        self.spark = None
        try:
            gateway.shutdown()
        finally:
            if proc is not None:
                proc.stdin.close()  # the gateway JVM exits on stdin EOF
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
            reap_descendants()


def hash_frame(df):
    """A one-row ``(n, h)`` aggregate: row count and XOR of row hashes.

    Doubles are rounded to 9 dp first, which keeps the hash stable when a
    float sum's merge order changes between runs; other columns are
    hashed exactly.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import DoubleType, FloatType

    cols = [
        F.round(F.col(f.name), 9) if isinstance(f.dataType, (DoubleType, FloatType))
        else F.col(f.name)
        for f in df.schema.fields
    ]
    return df.select(
        F.count(F.lit(1)).alias("n"), F.bit_xor(F.xxhash64(*cols)).alias("h")
    )


# ----------------------------------------------------------- plan metrics


class PlanMetrics:
    """SQL metrics flattened from executed plans, each plan node once.

    After an action, the hashing DataFrame's executed plan is walked
    through ``AdaptiveSparkPlanExec.finalPhysicalPlan()``, each query
    stage's ``plan()`` and each in-memory relation's cached plan.  Plan
    node ids, unique per node instance, de-duplicate a cached plan that
    several actions read.
    """

    def __init__(self) -> None:
        self.seen: set[int] = set()
        self.py = {"pythonTotalTime": 0, "pythonBootTime": 0, "pythonInitTime": 0,
                   "pythonDataSent": 0, "pythonDataReceived": 0}
        self.shuffle_bytes = 0
        self.agg_peak_bytes = 0
        self.spill_bytes = 0

    def absorb(self, hdf) -> None:
        jvm = hdf.sparkSession._jvm
        conv = jvm.scala.jdk.javaapi.CollectionConverters
        stack = [hdf._jdf.queryExecution().executedPlan()]
        while stack:
            node = stack.pop()
            cls = node.getClass().getSimpleName()
            if cls.endswith("QueryStageExec"):  # its id() is a per-query stage id
                stack.append(node.plan())
                continue
            if node.id() in self.seen:
                continue
            self.seen.add(node.id())
            metrics = conv.asJava(node.metrics())
            values = {k: metrics[k].value() for k in metrics.keySet()}
            if "pythonTotalTime" in values:
                for k in self.py:
                    self.py[k] += values.get(k, 0)
            if cls == "ShuffleExchangeExec":
                self.shuffle_bytes += values.get("dataSize", 0)
            if cls == "HashAggregateExec":
                self.agg_peak_bytes = max(self.agg_peak_bytes, values.get("peakMemory", 0))
            self.spill_bytes += values.get("spillSize", 0)
            if cls == "AdaptiveSparkPlanExec":
                stack.append(node.finalPhysicalPlan())
                continue
            if cls == "InMemoryTableScanExec":
                stack.append(node.relation().cachedPlan())
            stack.extend(conv.asJava(node.children()))

    def layer_metrics(self) -> dict[str, float]:
        return {
            "functions.py_total_ms": float(self.py["pythonTotalTime"]),
            "functions.py_boot_ms": float(self.py["pythonBootTime"]),
            "functions.py_init_ms": float(self.py["pythonInitTime"]),
            "functions.bytes_sent": float(self.py["pythonDataSent"]),
            "functions.bytes_received": float(self.py["pythonDataReceived"]),
            "operators.shuffle_bytes": float(self.shuffle_bytes),
            "operators.agg_peak_bytes": float(self.agg_peak_bytes),
            "operators.spill_bytes": float(self.spill_bytes),
        }


# ---------------------------------------------------------------- tracing


class Tracer:
    """Spans around layer calls, kept in memory until the run ends.

    Disabled, a span costs nothing and ``force`` only persists where the
    workload itself would.  Enabled, ``force`` materializes each layer's
    output with its own action (persist + hash), so Spark's laziness
    cannot move a layer's work into a later span, and absorbs the
    action's plan metrics.
    """

    def __init__(self, enabled: bool, run_id: str) -> None:
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._held: list = []
        self._executed: list = []
        self.plan = PlanMetrics()

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "parent": self._stack[-1] if self._stack else None,
               "run_id": self.run_id, "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def force(self, df, absorb: bool = True):
        """Persist and hash ``df`` when tracing; return it unchanged otherwise.

        ``absorb=False`` keeps a repeated call out of the plan metrics.
        """
        if not self.enabled:
            return df
        df = df.persist()
        self._held.append(df)
        hdf = hash_frame(df)
        hdf.collect()
        if absorb:
            self._executed.append(hdf)
        return df

    def absorb(self, hdf) -> None:
        """Note an executed action whose plan metrics ``walk_plans`` reads."""
        if self.enabled:
            self._executed.append(hdf)

    def walk_plans(self) -> None:
        """Read the SQL metrics of every noted action.

        A plan walk costs a few py4j calls per node, so it runs after the
        traced pass instead of inside the span of the layer it measures.
        """
        for hdf in self._executed:
            self.plan.absorb(hdf)
        self._executed.clear()

    def release(self) -> None:
        """Unpersist what ``force`` cached."""
        for df in self._held:
            df.unpersist()
        self._held.clear()

    def self_times(self, spans: list[dict]) -> dict[str, float]:
        """Seconds per span name in ``spans``: duration minus the time
        covered by child spans."""
        child: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in spans:
            own = s["end"] - s["start"] - child.get(s["id"], 0.0)
            out[s["name"]] = out.get(s["name"], 0.0) + own
        return out

    def subtree(self, root: dict) -> list[dict]:
        """``root`` and every span nested in it (spans nest on one thread)."""
        return [s for s in self.spans[root["id"]:] if s["end"] <= root["end"]]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": self.spans}, f)
