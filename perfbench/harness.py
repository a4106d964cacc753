"""Run environment, Spark session set-up, Spark status-store counters and
small statistics shared by the workloads.

Nothing here runs at import time: the run creates a :class:`Harness`
after :func:`hermetic_env` has pointed every writable location at the
run's work directory.
"""

from __future__ import annotations

import os
import shlex
import shutil
import time

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(REPO_ROOT, ".perfbench_work")
JVM_HEAP = "2g"  # the library defaults to 8g; the data here is a few MB


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def hermetic_env(work: str) -> dict:
    """Point Python workers at the repo, and Spark's warehouse, metastore,
    local and temp dirs at ``work``, so a run leaves the tree untouched.
    Must run before pyspark starts its JVM.  Returns the host facts the
    run records: cpus, shuffle partitions and load1 at start."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(nproc())
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    java_opts = (f"-Djava.io.tmpdir={tmp} -Dderby.system.home={work} "
                 "-XX:-UsePerfData")
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        "spark.driver.extraJavaOptions": java_opts,
        "spark.executor.extraJavaOptions": java_opts,
        # the status store is the only source of per-job counters; keep
        # every job and stage of a run in it
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }
    submit = " ".join(f"--conf {shlex.quote(f'{k}={v}')}"
                      for k, v in confs.items())
    pythonpath = os.environ.get("PYTHONPATH", "")
    os.environ.update({
        "SPARK_GRAFT_CPUS": cpus,
        "SPARK_GRAFT_DRIVER_MEM": JVM_HEAP,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "PYTHONPATH": REPO_ROOT + (os.pathsep + pythonpath
                                   if pythonpath else ""),
        "PYSPARK_SUBMIT_ARGS": f"{submit} pyspark-shell",
    })
    with open("/proc/loadavg") as fh:
        load1 = float(fh.read().split()[0])
    return {"nproc": nproc(), "spark_graft_cpus": int(cpus),
            "shuffle_partitions": int(cpus), "load1_at_start": load1}


def remove_tree(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
    parent = os.path.dirname(path)
    if os.path.isdir(parent) and not os.listdir(parent):
        os.rmdir(parent)


# --- statistics ------------------------------------------------------------------

def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile (numpy's default rule)."""
    v = sorted(values)
    if len(v) == 1:
        return v[0]
    pos = (len(v) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of ``VmHWM`` over ``pids``, in MiB."""
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024.0


def dir_bytes(path: str) -> int:
    """Bytes of every regular file under ``path``."""
    return sum(os.path.getsize(os.path.join(root, n))
               for root, _, names in os.walk(path) for n in names)


# --- session ----------------------------------------------------------------------

class Harness:
    """Owns the Spark session of one run.

    ``setup(prime)`` starts the session (launching the JVM), then warms it
    with ``prime()``: one untimed round of the workload's own operations,
    so first-use costs of its plans (JVM code paths, codegen, the Python
    worker pool and its imports) land in set-up rather than in the timed
    window.  ``setup_s`` is the sum of the two.

    Set-up happens once per run: stopping and restarting a SparkContext
    in one JVM breaks the library's module-level pandas UDFs (their cached
    Java UDFs keep the first context's accumulator), and a fresh JVM per
    sample costs as much as the timed window."""

    def __init__(self):
        self.spark = None
        self.start_s = self.warm_s = 0.0

    def setup(self, prime) -> None:
        from geoparquet_io_spark import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark("perfbench")
        t1 = time.perf_counter()
        prime()
        self.start_s = t1 - t0
        self.warm_s = time.perf_counter() - t1

    @property
    def setup_s(self) -> float:
        return self.start_s + self.warm_s

    @property
    def sc(self):
        return self.spark.sparkContext

    def jvm_pid(self) -> int:
        return self.sc._gateway.proc.pid

    def set_group(self, group: str, description: str) -> None:
        self.sc.setJobGroup(group, description)

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        from pyspark import SparkContext

        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
            proc = getattr(gw, "proc", None)
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None


# --- status store ------------------------------------------------------------------

COUNTERS = ("jobs", "stages", "tasks", "input_bytes", "scan_tasks",
            "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
            "executor_run_ms", "executor_cpu_ms")


def _opt(o):
    return o.get() if o.isDefined() else None


class StatusStore:
    """Reads finished jobs and their stages from Spark's status store
    (``sc._jsc.sc().statusStore()``, available with the UI off) and sums
    them by job group.  Read only outside timed windows."""

    def __init__(self, sc):
        self._jsc = sc._jsc.sc()

    def by_group(self) -> dict[str, dict]:
        self._jsc.listenerBus().waitUntilEmpty()
        store = self._jsc.statusStore()
        seq = store.jobsList(None)
        jobs = sorted((seq.apply(i) for i in range(seq.size())),
                      key=lambda j: j.jobId())
        out: dict[str, dict] = {}
        counted: set[int] = set()
        for job in jobs:
            group = _opt(job.jobGroup()) or "-"
            c = out.setdefault(group, dict.fromkeys(COUNTERS, 0))
            c["jobs"] += 1
            sids = job.stageIds()
            for k in range(sids.size()):
                sid = int(sids.apply(k))
                if sid in counted:
                    continue  # a stage reused by a later job ran once
                counted.add(sid)
                sd = store.lastStageAttempt(sid)
                if sd.status().toString() != "COMPLETE":
                    continue  # skipped: its output was reused
                tasks, inp = sd.numTasks(), sd.inputBytes()
                srd, swr = sd.shuffleReadBytes(), sd.shuffleWriteBytes()
                spill = sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                run_ms, cpu_ns = sd.executorRunTime(), sd.executorCpuTime()
                c["stages"] += 1
                c["tasks"] += tasks
                c["input_bytes"] += inp
                c["scan_tasks"] += tasks if inp > 0 else 0
                c["shuffle_read_bytes"] += srd
                c["shuffle_write_bytes"] += swr
                c["spill_bytes"] += spill
                c["executor_run_ms"] += run_ms
                c["executor_cpu_ms"] += cpu_ns / 1e6
        return out


def sum_counters(groups: dict[str, dict], names) -> dict:
    total = dict.fromkeys(COUNTERS, 0)
    for n in names:
        for k, v in groups.get(n, {}).items():
            total[k] += v
    return total
