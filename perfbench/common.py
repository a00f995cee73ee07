"""Session, scratch-directory and statistics helpers shared by the
benchmark's workloads."""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import tempfile
import time

#: the checkout root: the directory holding ``perfbench/``
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def cpus() -> int:
    """Cores this process may use (the box's ``nproc``)."""
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


class Scratch:
    """A run's private directory under the checkout, removed on close.

    Spark local dirs, the JVM's ``java.io.tmpdir``, Python's tempfile
    directory (the registry's snapshot and store queries write there),
    the warehouse roots, ``derby.log`` and ``metastore_db`` all land
    here, so a run leaves nothing behind.
    """

    def __init__(self, tag: str):
        base = os.path.join(ROOT, ".perfbench_tmp")
        os.makedirs(base, exist_ok=True)
        self.path = tempfile.mkdtemp(prefix=f"{tag}_", dir=base)
        self.tmp = self.sub("tmp")
        os.environ["TMPDIR"] = self.tmp
        tempfile.tempdir = self.tmp

    def sub(self, name: str) -> str:
        path = os.path.join(self.path, name)
        os.makedirs(path, exist_ok=True)
        return path

    def close(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)
        base = os.path.dirname(self.path)
        try:
            os.rmdir(base)
        except OSError:
            pass  # another run still owns a directory there


def import_engine():
    """Import the engine from the checkout; exit 2 if it is absent."""
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    try:
        import health_data_transformation_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: engine package not importable: {e}", file=sys.stderr)
        sys.exit(2)


def start_spark(scratch: Scratch, n_cpus: int):
    """A session on ``local[n_cpus]`` built by the engine's own factory,
    with every file it writes kept inside ``scratch``."""
    from health_data_transformation_spark.session import get_spark

    tmp = scratch.tmp
    spark = get_spark(
        app_name="perfbench",
        cpus=n_cpus,
        extra_confs={
            "spark.local.dir": tmp,
            "spark.sql.warehouse.dir": os.path.join(tmp, "spark-warehouse"),
            # -XX:-UsePerfData: no hsperfdata file in the system temp dir
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData"
            ),
            "spark.driver.memory": "3g",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and shut its JVM down, waiting for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


def restart_spark(spark, scratch: Scratch, n_cpus: int):
    """A fresh SparkContext in the already running JVM."""
    spark.stop()
    return start_spark(scratch, n_cpus)


def median(values: list[float]) -> float:
    return statistics.median(values)


def phase(label: str) -> None:
    """Progress line on stderr: seconds since the process started."""
    print(f"perfbench: {label} at {time.perf_counter() - _T0:.1f} s", file=sys.stderr)


_T0 = time.perf_counter()


class Clock:
    """Deadline for the measured window."""

    def __init__(self, seconds: float):
        self.t0 = time.perf_counter()
        self.deadline = self.t0 + seconds

    def left(self) -> float:
        return self.deadline - time.perf_counter()
