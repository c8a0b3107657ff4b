"""Host-derived Spark session for the benchmark.

The session runs ``local[N]`` with N = nproc / 2 task threads (see
``spark_threads``) and the driver memory derived from the host's
``MemTotal`` (a quarter of it, between 1 and 4 GiB), passed through the
package's ``SPARK_DRIVER_MEMORY`` override; an explicit
``SPARK_DRIVER_MEMORY`` in the environment wins. The repo root goes on
``PYTHONPATH`` so the Arrow/pandas UDF workers can import the package, and
every scratch path (Spark local dirs, JVM and Python temp dirs, the event
log) points into the run's own directory.
"""

from __future__ import annotations

import os
import platform
import sys

GIB = 1 << 30


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def spark_threads() -> int:
    """Spark task threads: half the CPUs. Measured on a 4-vCPU host, four
    pinned busy loops each ran 1.7x slower than one alone, so the vCPUs give
    about two cores of throughput; the driver JVM also spends one to two
    CPUs per pass compiling generated code, beside the Python driver and
    the Arrow workers. With ``local[nproc]`` the passes contend for CPU and
    their times spread with the host's load."""
    return max(1, nproc() // 2)


def mem_total_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_memory() -> str:
    if os.environ.get("SPARK_DRIVER_MEMORY"):
        return os.environ["SPARK_DRIVER_MEMORY"]
    mb = min(max(mem_total_bytes() // 4, GIB), 4 * GIB) >> 20
    return f"{mb}m"


def configure_env(root: str, run_dir: str) -> None:
    """Environment the JVM and its Python workers inherit; call before the
    session starts."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    paths = [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["SPARK_DRIVER_MEMORY"] = driver_memory()
    os.environ["SPARK_GRAFT_CPUS"] = str(spark_threads())
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_SUBMIT_OPTS"] = " ".join(
        [os.environ.get("SPARK_SUBMIT_OPTS", ""), f"-Xms{os.environ['SPARK_DRIVER_MEMORY']}"]
    ).strip()


def start_session(run_dir: str, event_log: bool):
    from pysemantic_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
    }
    if event_log:
        log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
        })
    return get_spark(
        app_name="perfbench", master=f"local[{spark_threads()}]", extra_conf=conf
    )


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def peak_rss_gb(pid: int) -> float:
    """VmHWM (peak resident set) of a live process, in GB (10^9 bytes)."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) * 1024 / 1e9
    raise RuntimeError(f"VmHWM missing for pid {pid}")


def record(spark) -> dict:
    """Host facts stored with every result."""
    return {
        "nproc": nproc(),
        "mem_total_gb": round(mem_total_bytes() / 1e9, 2),
        "driver_memory": os.environ.get("SPARK_DRIVER_MEMORY"),
        "master": spark.sparkContext.master,
        "spark": spark.version,
        "python": sys.version.split()[0],
        "platform": platform.platform(),
    }
