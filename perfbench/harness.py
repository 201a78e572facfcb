"""Run environment, Spark lifecycle, repeated set-up and the timed window
shared by the workloads.

``pin_env`` sets, before the JVM starts, every setting the program reads
from the environment, so a run does not depend on the caller's shell:

* ``PYTHONPATH`` = the checkout root: Spark's Python workers (``mapInPandas``,
  ``foreachPartition``) import the program by module name.
* ``SPARK_GRAFT_CPUS`` = the CPUs this process may use: ``local[nproc]``.
* ``SPARK_GRAFT_DRIVER_MEM`` = ``DRIVER_MEM``, well below physical memory.
* ``SPARK_LOCAL_DIRS`` and ``TMPDIR`` under the checkout's work directory,
  so shuffle and temporary files stay inside the checkout.

The console progress bar, the JVM's temporary directory (and no
``hsperfdata`` file) and the SQL warehouse go through ``get_spark``'s
``extra_conf``.
"""

from __future__ import annotations

import os
import shutil
import sys
import time

DRIVER_MEM = "1g"
WORK_DIR = ".perfbench_work"
#: Set-ups per run; ``setup_s`` adds their median to the cold start.
SETUPS = 3


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def pin_env(root: str) -> dict:
    work = os.path.join(root, WORK_DIR)
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("spark-local", "tmp", "jvm-tmp", "warehouse", "data"):
        os.makedirs(os.path.join(work, sub))
    pins = {
        "PYTHONPATH": root,
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_GRAFT_CPUS": str(nproc()),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": os.path.join(work, "tmp"),
    }
    os.environ.update(pins)
    conf = {
        "spark.ui.showConsoleProgress": "false",
        # no hsperfdata file: the JVM would write it under /tmp
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'jvm-tmp')} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    return {"env": pins, "conf": conf, "work": work,
            "nproc": nproc(), "mem_total_mb": _mem_total_mb()}


def _mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    return 0


def _vm_hwm_mb(pid: int | str) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except FileNotFoundError:
        pass
    return 0.0


class Harness:
    """Owns the SparkSession, the tracer and the run's work directory."""

    def __init__(self, pins: dict, tracer):
        self.pins = pins
        self.tracer = tracer
        self.work = os.path.join(pins["work"], "data")
        self.spark = None
        #: JVM launch and first ``get_spark``; each set-up of the workload in
        #: the started session; the cold start plus their median.
        self.cold_start_s = 0.0
        self.setup_runs: list[float] = []
        self.setup_s = 0.0
        self.window_s = 0.0

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    # Spark lifecycle ----------------------------------------------------

    def setup(self, fn):
        """Start the session (launching the JVM; ``cold_start_s``), then set
        the workload up ``SETUPS`` times with ``fn(i)``, each into fresh
        state. ``setup_s`` is the cold start plus the median set-up time:
        what a user waits for before the first op. Returns the last
        ``fn(i)``; the earlier ones only repeat the set-up."""
        from perfbench import adapter
        from perfbench.stats import median

        t0 = time.perf_counter()
        with self.tracer.span("session.get_spark", "setup"):
            self.spark = adapter.call("session.get_spark", **self.pins["conf"])
        self.cold_start_s = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        self.tracer.bind(self.spark)
        for i in range(SETUPS):
            t = time.perf_counter()
            out = fn(i)
            self.setup_runs.append(time.perf_counter() - t)
        self.setup_s = self.cold_start_s + median(self.setup_runs)
        return out

    def peak_rss_mb(self) -> float:
        from pyspark import SparkContext

        proc = getattr(SparkContext._gateway, "proc", None)
        jvm = _vm_hwm_mb(proc.pid) if proc is not None else 0.0
        return jvm + _vm_hwm_mb("self")

    def shutdown(self) -> None:
        """Stop Spark and wait for the JVM (and with it the Python worker
        daemon) to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.tracer.resolve_jobs()
            self.tracer.bind(None)
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)

    # timed window -------------------------------------------------------

    def window(self, seconds: float, rounds):
        """Run ``rounds`` (an iterable of thunks, one per round of ops) in a
        closed loop until ``seconds`` have passed, at least one round and
        at most all of them. Returns the rounds' results."""
        out = []
        t0 = time.perf_counter()
        for round_ in rounds:
            out.append(round_())
            if time.perf_counter() - t0 >= seconds:
                break
        self.window_s = time.perf_counter() - t0
        return out
