"""Spark session settings, warm-up, input staging and memory sampling.

Every setting the benchmark imposes on the engine's session is made here,
from the host, so both sides of a comparison run under the same settings:

* master `local[<nproc>]`;
* a fixed driver heap (initial = max) of an eighth of the memory limit
  (cgroup `memory.max`, else MemTotal), clamped to [1 GiB, 2 GiB]. The
  workloads need far less; a fixed heap that every run fills keeps the
  JVM's resident size from following G1's run-to-run expansion choices,
  which made peak RSS swing by 13% between runs of a growable heap;
* scratch space (Spark local dirs, the JVM and Python temp dirs, the
  event log) inside the benchmark's work directory;
* the repository root on the Python workers' PYTHONPATH, so they import
  the engine package without relying on the current directory.
"""

from __future__ import annotations

import contextlib
import os
import subprocess
import sys
import tempfile
import threading
import time

GIB = 2**30


def memory_limit_bytes() -> int:
    """The tighter of the cgroup memory limit and MemTotal."""
    with open("/proc/meminfo") as f:
        total = next(int(l.split()[1]) * 1024 for l in f if l.startswith("MemTotal:"))
    for path in (
        "/sys/fs/cgroup/memory.max",
        "/sys/fs/cgroup/memory/memory.limit_in_bytes",
    ):
        try:
            with open(path) as f:
                raw = f.read().strip()
        except OSError:
            continue
        if raw.isdigit():
            return min(total, int(raw))
    return total


def heap_mib() -> int:
    return min(max(memory_limit_bytes() // 8, GIB), 2 * GIB) // 2**20


def prepare_env(root: str, work: str) -> str:
    """Point every scratch path into `work` before pyspark starts; returns
    the scratch dir. Must run before the first `get_spark`."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # engine knobs read from the environment would make the two sides of a
    # comparison differ; the benchmark runs the engine's defaults
    for k in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[k]
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    pp = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = root + (os.pathsep + pp if pp else "")
    tempfile.tempdir = tmp
    return tmp


def spark_conf(tmp: str, eventlog_dir: str | None) -> dict[str, str]:
    heap = heap_mib()
    conf = {
        "spark.driver.memory": f"{heap}m",
        "spark.driver.extraJavaOptions": (
            f"-Xms{heap}m -XX:+UseG1GC -XX:-UsePerfData "
            f"-Djava.io.tmpdir={tmp}"
        ),
        "spark.local.dir": tmp,
    }
    if eventlog_dir:
        os.makedirs(eventlog_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + eventlog_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return conf


def warm_up(spark) -> None:
    """One trivial JVM job, then one Arrow batch per core through the
    engine's scorer so every Python worker has imported it."""
    from pyspark.sql import functions as F

    from nlp_entity_linking_spark.functions import similarity as S
    from nlp_entity_linking_spark.plans.pipeline import PipelineConfig

    n = os.cpu_count() or 1
    spark.range(0, 1000, 1, n).selectExpr("sum(id)").collect()
    batch = spark.range(0, n, 1, n).select(
        F.lit("warm the workers").alias("norm_a"),
        F.lit("warm the worker pool").alias("norm_b"),
        F.lit(0.5).alias("tsl"),
        F.lit(0.5).alias("cos"),
    )
    S.score_pairs(batch, PipelineConfig().model).count()


def stage_inputs(spark, inputs: str, with_gold: bool):
    """Cache the pages (and, when asked, the gold table) in Spark memory."""
    frames = []
    for name in ("pages", "gold") if with_gold else ("pages",):
        df = spark.read.parquet(os.path.join(inputs, name)).cache()
        df.count()
        frames.append(df)
    return frames[0], (frames[1] if with_gold else None)


def shutdown_jvm() -> None:
    """Stop the py4j gateway JVM and wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    finally:
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def set_up(conf, inputs, with_gold):
    """Start the session (this launches the JVM), warm it up and stage the
    inputs: everything `setup_s` times, once per run. A session restart
    inside the JVM costs 4-5 s here, so a median over several set-ups
    would push a run past its share of the benchmark's time budget.

    Returns (spark, pages, gold_df, set-up seconds)."""
    from nlp_entity_linking_spark.conf import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app_name="erbench", master=f"local[{os.cpu_count() or 1}]",
                      extra_conf=conf)
    warm_up(spark)
    pages, gold_df = stage_inputs(spark, inputs, with_gold)
    return spark, pages, gold_df, time.perf_counter() - t0


class RssSampler:
    """Peak resident memory of this process and all its descendants (the
    gateway JVM, the Python daemon and its workers), sampled from /proc
    every INTERVAL seconds except while `paused()` (the benchmark's own
    checks hold the collected outputs in this process).

    Sums RSS, so pages shared between forked workers count once per
    process; that over-counts against PSS but costs no mmap lock."""

    INTERVAL = 0.2

    def __init__(self):
        self.peak = 0
        self._active = threading.Event()
        self._active.set()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _tree_rss(self) -> int:
        children: dict[int, list[int]] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            ppid = int(stat.rsplit(")", 1)[1].split()[1])
            children.setdefault(ppid, []).append(int(name))
        total, todo = 0, [os.getpid()]
        while todo:
            pid = todo.pop()
            todo.extend(children.get(pid, ()))
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except OSError:
                pass
        return total

    def _run(self) -> None:
        while not self._stop.is_set():
            if self._active.is_set():
                self.peak = max(self.peak, self._tree_rss())
            self._stop.wait(self.INTERVAL)

    @contextlib.contextmanager
    def paused(self):
        self._active.clear()
        try:
            yield
        finally:
            self._active.set()

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
