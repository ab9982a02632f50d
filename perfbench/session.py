"""Run isolation and the Spark session the benchmark drives.

Every run gets its own work directory under ``.perfbench_work/`` in the
current directory: generated inputs, the ANN store root, the warehouse,
Spark's local dirs and the JVM temp dir all live there, and the whole
directory is removed when the run ends.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import time

WORK_ROOT = ".perfbench_work"
DRIVER_MEM = "2g"  # JVM heap of the benchmark's session


def cpu_count() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # pragma: no cover - non-Linux
        return os.cpu_count() or 1


class RunDir:
    """A private work directory; ``close()`` deletes it."""

    def __init__(self, label: str):
        base = os.path.abspath(WORK_ROOT)
        self.path = os.path.join(base, f"{label}-{os.getpid()}")
        shutil.rmtree(self.path, ignore_errors=True)
        for sub in ("data", "ann", "warehouse", "local", "tmp", "target"):
            os.makedirs(self.sub(sub), exist_ok=True)

    def sub(self, name: str) -> str:
        return os.path.join(self.path, name)

    def close(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(self.path))  # only when empty
        except OSError:
            pass


def isolate_env(run: RunDir, cores: int) -> None:
    """Point every store the library or Spark writes at the run dir.
    Must run before the session starts: the JVM and the Python worker
    daemon read these at launch."""
    os.environ["SPARK_GRAFT_ANN_ROOT"] = run.sub("ann")
    os.environ["SPARK_LOCAL_DIRS"] = run.sub("local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["TMPDIR"] = run.sub("tmp")
    os.environ["PYTHONDONTWRITEBYTECODE"] = "1"
    # every JVM, the spark-submit launcher included: temp files in the
    # run dir and no hsperfdata file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={run.sub('tmp')}"
    )


def start_session(run: RunDir):
    """Start the library's session (``session.get_spark``) with the
    run's warehouse and temp dirs; returns ``(spark, seconds)``."""
    from dask_felleskomponenter_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.sql.warehouse.dir": run.sub("warehouse"),
            # -Xms = -Xmx: the heap is committed up front, so the resident
            # set does not depend on when G1 chooses to grow the heap
            "spark.driver.extraJavaOptions": (
                f"-Xms{DRIVER_MEM} "
                f"-Dderby.system.home={run.sub('tmp')}"
            ),
            "spark.ui.showConsoleProgress": "false",
            # spans read their stages back from the status store after
            # each pass; keep enough history that none is evicted first
            "spark.ui.retainedJobs": "20000",
            "spark.ui.retainedStages": "20000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def stop(spark) -> None:
    """Stop the session and the JVM it launched, then wait until every
    child process of this run has ended."""
    import procstat
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        # the gateway JVM exits when its stdin closes
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    me = os.getpid()
    deadline = time.monotonic() + 30
    while len(procstat.tree(me)) > 1 and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in procstat.tree(me)[1:]:
        try:
            os.kill(pid, 9)
        except OSError:
            pass
