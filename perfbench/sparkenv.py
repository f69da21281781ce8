"""Process set-up shared by the benchmark and its input generator: the
paths it may write, the Spark session it starts through the program's
own ``get_spark``, and a shutdown that waits for every process the
session started."""

from __future__ import annotations

import os
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CACHE = os.path.join(ROOT, ".bench_cache")
# Driver heap for a 15 GB host that other tenants share. With it the
# whole process tree (driver, JVM, Python workers) peaks at 2.5-3.8 GB
# resident on both workloads, leaving room for the page cache.
DRIVER_MEMORY = "4g"


def cores() -> int:
    return len(os.sched_getaffinity(0))


def program_present() -> bool:
    return os.path.isfile(os.path.join(ROOT, "pseudopeople_spark", "__init__.py"))


def prepare(tmp: str) -> None:
    """Point every scratch location at ``tmp`` (inside the checkout)
    and make the program importable by the driver and the workers.
    Must run before the JVM starts."""
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEMORY
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    import tempfile

    tempfile.tempdir = None
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def start(app: str, tmp: str, extra_conf: "dict[str, str] | None" = None):
    from pseudopeople_spark.session import get_spark

    spark = get_spark(
        app,
        master=f"local[{cores()}]",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
            **(extra_conf or {}),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop(spark, timeout_s: float = 30.0) -> None:
    """Stop the session, end the JVM it launched, and wait for the JVM
    and its Python workers to exit (killing what outlives the wait)."""
    from pyspark import SparkContext

    from probes import descendants

    started = descendants(os.getpid())
    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        # the gateway JVM exits when its stdin closes
        proc.stdin.close()
        try:
            proc.wait(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + timeout_s
    alive = [p for p in started if _running(p)]
    while alive and time.time() < deadline:
        time.sleep(0.2)
        alive = [p for p in alive if _running(p)]
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while any(_running(p) for p in alive) and time.time() < deadline + 10:
        time.sleep(0.2)


def _running(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie awaiting reaping."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return False
    return s[s.rindex(")") + 2] != "Z"


def remove(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
