"""The benchmark's Spark session, sized to the host, and the process-tree
memory sampler behind ``peak_rss_mb``.

Every file the benchmark or Spark writes goes under ``WORK`` inside the
checkout: Spark's local dir, the JVM and Python temp dirs, event logs and
the durable crawl's table roots.
"""

from __future__ import annotations

import functools
import importlib
import os
import sys
import threading

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".bench_work")


def host_info() -> dict:
    """Cores, physical RAM and the driver heap this host gets. The heap is a
    eighth of RAM, capped at 2 GiB: well under physical memory, so a
    runaway crawl fails as a Java OutOfMemoryError instead of being killed
    by the kernel."""
    cores = len(os.sched_getaffinity(0))
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // (1 << 20)
    heap_mb = min(ram_mb // 8, 2048)
    return {"cores": cores, "ram_mb": ram_mb, "driver_heap_mb": heap_mb}


def prepare_env() -> None:
    """Point every temp and worker path at the checkout before the JVM
    starts; Python workers inherit PYTHONPATH so they can import the
    package and this directory from the checkout."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    here = os.path.dirname(os.path.abspath(__file__))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, here, os.environ.get("PYTHONPATH")) if p
    )
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)


def start_session(info: dict, event_log_dir: str | None = None):
    from pyspark.sql import SparkSession

    tmp = os.path.join(WORK, "tmp")
    b = (
        SparkSession.builder.master(f"local[{info['cores']}]")
        .appName("perfbench")
        .config("spark.driver.memory", f"{info['driver_heap_mb']}m")
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={tmp}")
        .config("spark.sql.warehouse.dir", os.path.join(WORK, "warehouse"))
        .config("spark.sql.shuffle.partitions", str(info["cores"]))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    if event_log_dir is not None:
        os.makedirs(event_log_dir, exist_ok=True)
        b = (
            b.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", event_log_dir)
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
        )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark, timeout: float = 60.0) -> None:
    """Stop Spark and wait for the driver JVM (and with it the Python
    worker daemon) to exit, instead of leaving it to interpreter exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    gateway.shutdown()
    proc.stdin.close()  # the gateway server exits on EOF
    proc.wait(timeout)


def _import_in_worker(modules, batches):
    for m in modules:
        importlib.import_module(m)
    yield from batches


def start_python_workers(spark, modules: list[str]) -> None:
    """Fill the Python worker pool: one Arrow task per core, each importing
    pandas, pyarrow and the given UDF modules, as the workload's first Arrow
    stage would. Part of set-up, so a cold timed region does not also time
    how many workers happened to start inside it."""
    n = spark.sparkContext.defaultParallelism
    fn = functools.partial(_import_in_worker, modules)
    spark.range(0, n, 1, n).mapInPandas(fn, "id long").write.format("noop").mode(
        "overwrite"
    ).save()


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_rss_mb() -> float:
    """RSS of every descendant of this process: the driver JVM and the
    Python workers it forks (this Python process itself is left out)."""
    kids = _children()
    total, stack = 0, list(kids.get(os.getpid(), []))
    while stack:
        pid = stack.pop()
        total += _rss_kb(pid)
        stack.extend(kids.get(pid, []))
    return total / 1024


class PeakRss:
    """Samples ``tree_rss_mb`` on a background thread while in a ``with``
    block; ``peak`` is the largest sample."""

    def __init__(self, interval: float = 0.2) -> None:
        self.interval = interval
        self.peak = 0.0
        self._stop = threading.Event()

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_mb())
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, tree_rss_mb())

