"""Run context shared by the workloads.

Everything here observes the engine from outside: a hermetic temp root,
the SparkSession built by the package's own ``get_spark``, process
accounting read from ``/proc``, and Spark's own accounting (job groups,
``statusTracker``, the application status store, physical plans).
"""

from __future__ import annotations

import os
import resource
import shlex
import shutil
import time
from contextlib import contextmanager

from pyspark.sql import functions as F
from pyspark.sql import types as T

CLK_TCK = os.sysconf("SC_CLK_TCK")
PYTHON_NODE_NAMES = (
    "ArrowEvalPython", "BatchEvalPython", "MapInArrow", "MapInPandas",
    "PythonMapInArrow", "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas",
    "AggregateInPandas", "WindowInPandas", "ArrowWindowPython",
    "FlatMapGroupsInPandasWithState", "FlatMapGroupsInArrow",
)


def spark_cores() -> int:
    """Task slots for ``local[n]``: half the CPUs this process may use.
    The other half absorbs the JIT, GC, Python driver and the host's
    other tenants; on a shared 4-vCPU host ``local[4]`` ran slower and
    with twice the run-to-run spread of ``local[2]``."""
    return max(1, len(os.sched_getaffinity(0)) // 2)


def cpu_steal_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies from the aggregate ``cpu`` line."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return (fields[7] if len(fields) > 7 else 0), sum(fields)


def proc_status_kb(pid: int, key: str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith(key + ":"):
                return int(line.split()[1])
    raise KeyError(key)


def proc_cpu_s(pid: int) -> float:
    with open(f"/proc/{pid}/stat") as f:
        rest = f.read().rsplit(")", 1)[1].split()
    return (int(rest[11]) + int(rest[12])) / CLK_TCK


class Run:
    """One benchmark process: temp root, Spark session and accounting."""

    def __init__(self, checkout: str, workload: str, seed: int, seconds: int,
                 trace: bool, t_process_start: float) -> None:
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.t0 = t_process_start
        self.cores = spark_cores()
        self.root = os.path.join(checkout, ".perfbench_tmp", f"{workload}-{os.getpid()}")
        self.inputs_s = 0.0  # benchmark-owned input generation, not set-up
        self.spark = None
        self.jvm_pid = None
        self.steal0 = cpu_steal_jiffies()
        self.load0 = os.getloadavg()

    # -- hermetic environment --------------------------------------------
    def start(self) -> None:
        """Create the temp root and point every scratch location of the
        Python process, the JVM and Spark into it, then build the
        session through the package's ``get_spark``."""
        for sub in ("tmp", "local", "ckpt", "warehouse", "inputs"):
            os.makedirs(os.path.join(self.root, sub), exist_ok=True)
        tmp = os.path.join(self.root, "tmp")
        os.environ["TMPDIR"] = tmp
        import tempfile

        tempfile.tempdir = tmp
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.root, "local")
        os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join([
            "--conf", f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp}",
            "--conf", f"spark.sql.warehouse.dir={os.path.join(self.root, 'warehouse')}",
            "--conf", "spark.ui.showConsoleProgress=false",
            "pyspark-shell",
        ])
        from ekuiper_spark import get_spark

        self.spark = get_spark(f"perfbench-{self.workload}", self.cores)
        self.spark.conf.set(
            "spark.sql.streaming.checkpointLocation", os.path.join(self.root, "ckpt")
        )
        self.sc = self.spark.sparkContext
        self.jvm = self.sc._jvm
        self.jvm_pid = int(self.jvm.java.lang.ProcessHandle.current().pid())
        self.store = self.sc._jsc.sc().statusStore()
        self.session_s = time.perf_counter() - self.t0

    def input_dir(self, name: str) -> str:
        return os.path.join(self.root, "inputs", name)

    @contextmanager
    def generating_inputs(self):
        """Time benchmark-owned input generation so set-up excludes it."""
        t = time.perf_counter()
        try:
            yield
        finally:
            self.inputs_s += time.perf_counter() - t

    def setup_done(self) -> float:
        return time.perf_counter() - self.t0 - self.inputs_s

    def close(self) -> None:
        try:
            if self.spark is not None:
                self._stop_spark()
        finally:
            shutil.rmtree(self.root, ignore_errors=True)
            try:
                os.rmdir(os.path.dirname(self.root))
            except OSError:
                pass  # another run still uses it

    def _stop_spark(self) -> None:
        for q in self.spark.streams.active:
            q.stop()
        gateway = self.sc._gateway
        try:
            self.spark.stop()
            gateway.shutdown()
        finally:
            proc = getattr(gateway, "proc", None)
            if proc is not None:  # the spark-submit JVM this process launched
                proc.terminate()
                proc.wait(timeout=30)
            _wait_gone(self.jvm_pid, 30)

    # -- process accounting ----------------------------------------------
    def live_mem_mb(self) -> float:
        """Memory the run holds at its end: the JVM heap still reachable
        after a full collection, the JVM's non-heap memory in use
        (metaspace, code cache) and the Python driver's peak RSS.

        The JVM's peak RSS is not used here: it follows when G1 chose to
        grow the heap, and varied by a quarter between runs of the same
        code (IQR/median 0.26 over five runs); the live heap did not."""
        mem = self.jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        mem.gc()
        jvm = mem.getHeapMemoryUsage().getUsed() + mem.getNonHeapMemoryUsage().getUsed()
        py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        return jvm / 2**20 + py_kb / 1024.0

    def cpu_s(self) -> float:
        ru = resource.getrusage(resource.RUSAGE_SELF)
        return ru.ru_utime + ru.ru_stime + proc_cpu_s(self.jvm_pid)

    def gc_ms(self) -> float:
        beans = self.jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return float(sum(b.getCollectionTime() for b in beans))

    def jvm_peak_rss_mb(self) -> float:
        return proc_status_kb(self.jvm_pid, "VmHWM") / 1024.0

    def python_rss_mb(self) -> float:
        return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0

    def diagnostics(self) -> dict:
        steal1 = cpu_steal_jiffies()
        dt = steal1[1] - self.steal0[1]
        return {
            "session_s": self.session_s,
            "host_loop_ms": host_loop_ms(),
            "loadavg_start": [round(x, 2) for x in self.load0],
            "loadavg_end": [round(x, 2) for x in os.getloadavg()],
            "cpu_steal_share": (steal1[0] - self.steal0[0]) / dt if dt else 0.0,
            "cores": self.cores,
        }

    # -- Spark accounting ------------------------------------------------
    @contextmanager
    def job_group(self, gid: str):
        self.sc.setJobGroup(gid, gid)
        try:
            yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    def group_stats(self, gid: str) -> dict:
        """Totals over every stage of every job launched in ``gid``, from
        the status tracker and the application status store."""
        tracker = self.sc.statusTracker()
        out = {"jobs": 0, "stages": 0, "tasks": 0, "failed_tasks": 0, "cpu_s": 0.0,
               "run_s": 0.0, "shuffle_read_mb": 0.0, "shuffle_write_mb": 0.0,
               "spill_mb": 0.0}
        for jid in tracker.getJobIdsForGroup(gid):
            info = tracker.getJobInfo(jid)
            out["jobs"] += 1
            for sid in info.stageIds if info else []:
                try:
                    st = self.store.lastStageAttempt(sid)
                except Exception:  # py4j error: stage skipped, never attempted
                    continue
                if st.numTasks() == 0 or str(st.status()) == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
                out["failed_tasks"] += st.numFailedTasks()
                out["cpu_s"] += st.executorCpuTime() / 1e9
                out["run_s"] += st.executorRunTime() / 1e3
                out["shuffle_read_mb"] += st.shuffleReadBytes() / 2**20
                out["shuffle_write_mb"] += st.shuffleWriteBytes() / 2**20
                out["spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / 2**20
        return out

    @staticmethod
    def plan_counts(df) -> dict:
        """Plan the DataFrame afresh and count its physical-plan nodes."""
        t = time.perf_counter()
        tree = df._jdf.queryExecution().executedPlan().treeString()
        plan_ms = (time.perf_counter() - t) * 1e3
        nodes = [ln.lstrip(" :+-").split("(")[0].split(" ")[0]
                 for ln in tree.splitlines() if ln.strip()]
        nodes = [n for n in nodes if n and not n.startswith("AdaptiveSparkPlan")]
        return {
            "plan_ms": plan_ms,
            "nodes": len(nodes),
            "exchanges": sum(1 for n in nodes if n.endswith("Exchange")),
            "broadcast_joins": sum(1 for n in nodes if n.startswith("BroadcastHashJoin")
                                   or n.startswith("BroadcastNestedLoopJoin")),
            "sort_merge_joins": sum(1 for n in nodes if n.startswith("SortMergeJoin")),
            "python_nodes": sum(1 for n in nodes if n.startswith(PYTHON_NODE_NAMES)),
        }


_HASH_MOD = 1_000_000_007


def fingerprint(df) -> tuple[int, int]:
    """(row count, order-independent checksum) of a result.  Doubles are
    rounded to 4 decimals first, so summation order inside the engine
    cannot change the checksum."""
    cols = []
    for f in df.schema.fields:
        c = F.col(f"`{f.name}`")
        if isinstance(f.dataType, (T.DoubleType, T.FloatType)):
            c = F.round(c.cast("double"), 4)
        elif isinstance(f.dataType, (T.ArrayType, T.MapType, T.StructType)):
            c = F.to_json(c)
        cols.append(c)
    row = df.select(F.pmod(F.xxhash64(*cols), F.lit(_HASH_MOD)).alias("h")).agg(
        F.count(F.lit(1)).alias("n"), F.sum("h").alias("s")
    ).first()
    return int(row["n"]), int(row["s"] or 0)


def host_loop_ms() -> float:
    """Time of a fixed pure-Python loop: how fast this host runs one core
    right now, for reading a run's figures against host noise."""
    t = time.perf_counter()
    s = 0
    for i in range(300_000):
        s += i * i
    return (time.perf_counter() - t) * 1e3


def _wait_gone(pid: int, timeout: float) -> None:
    end = time.time() + timeout
    while time.time() < end:
        try:
            os.kill(pid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.05)
