"""Session lifecycle, tracing spans, the Spark status-store reader and
the process-tree memory sampler shared by every workload."""

from __future__ import annotations

import itertools
import json
import os
import platform
import subprocess
import threading
import time
from collections import defaultdict
from dataclasses import dataclass, field


def cpu_count() -> int:
    """Cores given to ``local[n]``: SPARK_GRAFT_CPUS when set, else the
    cores this process may run on."""
    env = os.environ.get("SPARK_GRAFT_CPUS", "")
    if env.isdigit() and int(env) > 0:
        return int(env)
    return len(os.sched_getaffinity(0))


def start_session(root: str, work: str, cpus: int):
    """A local[cpus] session whose every scratch path lives under
    ``work``: Spark's block manager, the warehouse, the JVM's and the
    Python workers' temp dirs."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    pypath = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = root + (os.pathsep + pypath if pypath else "")
    import tempfile

    tempfile.tempdir = tmp

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("perfbench")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.retainedJobs", "100000")
        .config("spark.ui.retainedStages", "100000")
        .config("spark.local.dir", os.path.join(work, "local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={tmp}")
        .config("spark.driver.memory", "1g")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers)
    to exit: the gateway JVM ends when its stdin closes."""
    from pyspark import SparkContext

    spark.stop()
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
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


# ---------------------------------------------------------------------------
# process-tree memory


class RssSampler:
    """Samples the summed resident set of this process and all of its
    descendants (the JVM and the Python workers) from /proc."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _tree_rss(self) -> int:
        children = defaultdict(list)
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
            children[ppid].append(int(name))
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

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, self._tree_rss())
            self._stop.wait(self.interval_s)


# ---------------------------------------------------------------------------
# spans


@dataclass
class Span:
    layer: str  # "<module>.<call>", e.g. "indexes.ivf.search"
    group: str  # Spark job group the call's jobs carry (traced runs)
    wall_s: float
    attrs: dict = field(default_factory=dict)


class Tracer:
    """Times each call into a layer's public function.  When enabled,
    the call's Spark jobs are tagged with a job group unique to the call,
    so the status store can attribute stages and tasks to it later.
    Spans stay in memory until the run ends."""

    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[Span] = []
        self.phase = "setup"  # recorded on each span: "setup" | "window"
        self._ids = itertools.count()

    def call(self, layer: str, fn, **attrs):
        group = f"{layer}#{next(self._ids)}"
        attrs["phase"] = self.phase
        if self.enabled:
            self.sc.setJobGroup(group, layer)
        t0 = time.perf_counter()
        try:
            out = fn()
        finally:
            wall = time.perf_counter() - t0
            if self.enabled:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
        self.spans.append(Span(layer, group, wall, attrs))
        return out


@dataclass
class GroupProfile:
    """Status-store totals for the jobs of one job group."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    exec_run_s: float = 0.0
    jvm_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_bytes: int = 0
    spill_bytes: int = 0
    output_bytes: int = 0
    fetch_wait_s: float = 0.0
    straggler_ratio: float = 0.0  # max / median task run time, heaviest stage


def read_profiles(spark) -> dict[str, GroupProfile]:
    """Per job group, from Spark's status store (works with the UI off).
    A stage listed by several jobs (a reused shuffle shows as skipped in
    the later ones) is counted once, for the first job that lists it."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    jobs = store.jobsList(None)
    profiles: dict[str, GroupProfile] = defaultdict(GroupProfile)
    owner: dict[int, tuple[int, str]] = {}
    for i in range(jobs.size()):
        job = jobs.apply(i)
        g = job.jobGroup()
        if not g.isDefined():
            continue
        group, jid = g.get(), job.jobId()
        profiles[group].jobs += 1
        sids = job.stageIds()
        for k in range(sids.size()):
            sid = sids.apply(k)
            if sid not in owner or jid < owner[sid][0]:
                owner[sid] = (jid, group)
    quantiles = sc._gateway.new_array(sc._gateway.jvm.double, 2)
    quantiles[0], quantiles[1] = 0.5, 1.0
    heaviest: dict[str, tuple[int, int, int]] = {}
    for sid, (_, group) in owner.items():
        try:
            st = store.lastStageAttempt(sid)
        except Exception:  # py4j error: stage never submitted
            continue
        if str(st.status()) == "SKIPPED":
            continue
        p = profiles[group]
        p.stages += 1
        p.tasks += st.numCompleteTasks()
        run_ms = st.executorRunTime()
        p.exec_run_s += run_ms / 1e3
        p.jvm_cpu_s += st.executorCpuTime() / 1e9
        p.gc_s += st.jvmGcTime() / 1e3
        p.shuffle_bytes += st.shuffleWriteBytes()
        p.spill_bytes += st.memoryBytesSpilled() + st.diskBytesSpilled()
        p.output_bytes += st.outputBytes()
        p.fetch_wait_s += st.shuffleFetchWaitTime() / 1e3
        if group not in heaviest or run_ms > heaviest[group][0]:
            heaviest[group] = (run_ms, sid, st.attemptId())
    for group, (_, sid, attempt) in heaviest.items():
        summary = store.taskSummary(sid, attempt, quantiles)
        if summary.isDefined():
            run = summary.get().executorRunTime()
            median, top = run.apply(0), run.apply(1)
            profiles[group].straggler_ratio = top / median if median > 0 else 1.0
    return dict(profiles)


# ---------------------------------------------------------------------------
# run metadata and statistics


def git_revision(root: str) -> dict:
    env = dict(os.environ, GIT_CEILING_DIRECTORIES=os.path.dirname(root))

    def git(*args: str) -> str | None:
        try:
            r = subprocess.run(
                ["git", "-C", root, *args], capture_output=True, text=True, env=env, timeout=30
            )
        except (OSError, subprocess.TimeoutExpired):
            return None
        return r.stdout.strip() if r.returncode == 0 else None

    rev = git("rev-parse", "HEAD")
    if rev is None:
        return {"revision": None, "dirty": None}
    status = git("status", "--porcelain", "--untracked-files=no")
    return {"revision": rev, "dirty": bool(status)}


def metadata(root: str, seed: int, cpus: int) -> dict:
    import numpy
    import pyspark

    return {
        "seed": seed,
        "nproc": len(os.sched_getaffinity(0)),
        "cpus": cpus,
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "numpy": numpy.__version__,
        "loadavg_start": os.getloadavg(),
        **git_revision(root),
    }


def dumps(obj) -> str:
    return json.dumps(obj, sort_keys=False, separators=(", ", ": "))
