"""Process set-up shared by the benchmark's entry points.

Everything the run writes (generated tables, Spark local dirs, JVM and
Python temp files, ``spark-warehouse/``, ``derby.log``) lands under one
scratch directory inside the working tree, which is removed at exit.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import tempfile
import time

#: Scratch root, relative to the directory the benchmark is started from.
SCRATCH_ROOT = ".perfbench_tmp"


def make_scratch() -> str:
    """Create a fresh scratch dir, point every temp-file knob at it, chdir in.

    Must run before the JVM starts: ``SPARK_LOCAL_DIRS`` and the JVM temp
    dir are read at launch. ``SPARK_GRAFT_CPUS`` pins ``local[N]`` to the
    cores this host has; without it a session falls back to local[32].
    """
    root = os.path.abspath(SCRATCH_ROOT)
    os.makedirs(root, exist_ok=True)
    scratch = tempfile.mkdtemp(prefix="run-", dir=root)
    for sub in ("tmp", "spark-local", "cwd"):
        os.makedirs(os.path.join(scratch, sub))
    os.environ["TMPDIR"] = os.path.join(scratch, "tmp")
    tempfile.tempdir = None  # re-read TMPDIR
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(scratch, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.chdir(os.path.join(scratch, "cwd"))
    return scratch


def remove_scratch(scratch: str) -> None:
    os.chdir(os.path.dirname(os.path.dirname(scratch)))
    shutil.rmtree(scratch, ignore_errors=True)
    try:
        os.rmdir(os.path.dirname(scratch))  # only when no other run is using it
    except OSError:
        pass


def spark_conf(scratch: str) -> dict[str, str]:
    """Extra Spark conf for ``session.build_spark``: JVM temp files in scratch,
    and no hsperfdata file, which the JVM would write under /tmp."""
    tmp = os.path.join(scratch, "tmp")
    return {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(scratch, "cwd", "spark-warehouse"),
    }


def _stat_ticks() -> tuple[int, int]:
    with open("/proc/stat") as f:
        parts = f.readline().split()
    return int(parts[1]), int(parts[8])


def sysinfo() -> dict:
    """Host stamp: cores, load, cumulative user/steal ticks, md5 calibration."""
    user, steal = _stat_ticks()
    t0 = time.perf_counter()
    h = b"calib"
    for _ in range(200_000):
        h = hashlib.md5(h).digest()
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "loadavg": [round(x, 2) for x in os.getloadavg()],
        "cpu_ticks_user": user,
        "cpu_ticks_steal": steal,
        "calib_md5_200k_ms": round((time.perf_counter() - t0) * 1000, 1),
    }


def _hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def peak_rss_mb(spark) -> float:
    """Peak resident memory of this Python process plus the driver JVM."""
    jvm_pid = spark.sparkContext._jvm.ProcessHandle.current().pid()
    return (_hwm_kb("self") + _hwm_kb(jvm_pid)) / 1024.0
