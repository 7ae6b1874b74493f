"""Pin a run to this machine and keep everything it writes in one place.

``pin`` must run before anything imports ``takuan_spark``:
``takuan_spark.session`` reads ``SPARK_GRAFT_CPUS`` at import time and
otherwise sizes shuffles and scan splits for 32 cores.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import subprocess
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
#: driver heap, fixed (initial = maximum) so the JVM's resident size does
#: not depend on when the collector decides to grow the heap
DRIVER_MEM = "1g"


class Box:
    """A run's temp root under the checkout, plus its Spark session.

    Checkpoints, warehouse, Derby home, Spark local dirs, temp files and
    DuckDB files all live under ``tmp``; ``close`` stops the session,
    waits for the JVM to exit and removes ``tmp``.
    """

    def __init__(self, tmp: Path) -> None:
        self.tmp = tmp
        self.nproc = len(os.sched_getaffinity(0))
        self.spark = None
        self._jvm = None

    def pin(self) -> None:
        shutil.rmtree(self.tmp, ignore_errors=True)
        for d in ("local", "tmp", "derby", "warehouse"):
            (self.tmp / d).mkdir(parents=True)
        os.environ["SPARK_GRAFT_CPUS"] = str(self.nproc)
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
        os.environ["SPARK_LOCAL_DIRS"] = str(self.tmp / "local")
        # no hsperfdata files in the system temp dir from either JVM
        os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
        os.environ["TMPDIR"] = str(self.tmp / "tmp")
        import tempfile

        tempfile.tempdir = None  # re-read TMPDIR

    def path(self, *parts: str) -> str:
        return str(self.tmp.joinpath(*parts))

    def start_spark(self):
        """``get_spark`` on ``local[nproc]``; returns the session."""
        from takuan_spark.session import get_spark

        java_opts = (f"-Xms{DRIVER_MEM} -XX:-UsePerfData "
                     f"-Djava.io.tmpdir={self.tmp / 'tmp'} "
                     f"-Dderby.system.home={self.tmp / 'derby'}")
        self.spark = get_spark(
            app_name="perfbench",
            master=f"local[{self.nproc}]",
            shuffle_partitions=self.nproc,
            extra_conf={
                "spark.sql.warehouse.dir": str(self.tmp / "warehouse"),
                "spark.hadoop.hadoop.tmp.dir": str(self.tmp / "tmp"),
                "spark.driver.extraJavaOptions": java_opts,
                "spark.sql.streaming.numRecentProgressUpdates": "1000",
                "spark.ui.showConsoleProgress": "false",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        if self._jvm is None:
            from pyspark import SparkContext

            self._jvm = getattr(SparkContext._gateway, "proc", None)
        return self.spark

    def peak_rss_mb(self) -> float:
        """Peak resident memory (VmHWM) of this process plus the JVM."""
        total = _vm_hwm_kb("self")
        if self._jvm is not None:
            total += _vm_hwm_kb(str(self._jvm.pid))
        return total / 1024.0

    def stop_spark(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def close(self) -> None:
        """Stop Spark, shut the JVM down and wait for it, drop ``tmp``."""
        self.stop_spark()
        from pyspark import SparkContext

        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
        if self._jvm is not None:
            if self._jvm.stdin:
                self._jvm.stdin.close()  # the JVM exits on EOF
            try:
                self._jvm.wait(timeout=30)
            except subprocess.TimeoutExpired:
                self._jvm.kill()
                self._jvm.wait(timeout=30)
        shutil.rmtree(self.tmp, ignore_errors=True)
        try:
            self.tmp.parent.rmdir()  # the shared run root, once empty
        except OSError:
            pass


def _vm_hwm_kb(pid: str) -> float:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return float(line.split()[1])
    except OSError:
        pass
    return 0.0


def timed(fn, *args, **kwargs):
    """``(result, seconds)`` of one call."""
    t0 = time.perf_counter()
    out = fn(*args, **kwargs)
    return out, time.perf_counter() - t0


def provenance(nproc: int, seed: int, sizes: dict) -> dict:
    """What a result needs to be compared with another one."""
    import duckdb
    import pyspark

    commit, dirty = _git_state()
    return {
        "nproc": nproc,
        "commit": commit,
        "dirty": dirty,
        "source_digest": source_digest(),
        "seed": seed,
        "sizes": sizes,
        "pyspark": pyspark.__version__,
        "duckdb": duckdb.__version__,
    }


#: the sources that decide what a run measures
SOURCES = ("takuan_spark/**/*.py", "perfbench/*.py", "perfbench/*.yml")


def source_digest() -> str:
    """A digest of the engine's and the benchmark's sources: two results
    with the same digest ran the same code, committed or not."""
    h = hashlib.sha1()
    for p in sorted({p for pattern in SOURCES for p in ROOT.glob(pattern)}):
        h.update(p.relative_to(ROOT).as_posix().encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:12]


def _git_state() -> tuple[str | None, bool | None]:
    """(HEAD, whether those sources differ from it), or (None, None)
    outside a git checkout."""
    try:
        head = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                              capture_output=True, text=True, timeout=10)
        status = subprocess.run(["git", "status", "--porcelain", "--", "takuan_spark",
                                 "perfbench"], cwd=ROOT, capture_output=True,
                                text=True, timeout=10)
    except OSError:
        return None, None
    if head.returncode != 0 or status.returncode != 0:
        return None, None
    return head.stdout.strip(), bool(status.stdout.strip())
