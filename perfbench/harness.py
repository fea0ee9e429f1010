"""Shared machinery of the benchmark: the pinned runtime, timing and
statistics, memory sampling from /proc, forcing a DataFrame, and
reading Spark's own counters (executed-plan SQL metrics and the
status store).

Nothing here imports the package under test at module level: the
environment it reads at import time (fixture root, CPU count, local
dir) must be set first, by ``pin_environment``.
"""

from __future__ import annotations

import ctypes
import os
import platform
import signal
import subprocess
import threading
import time
from dataclasses import dataclass, field
from pathlib import Path


@dataclass
class Result:
    """One part's share of one operation: its wall, the input rows it
    completed, whether its output checked out, its per-layer figures
    (traced operations only) and the sink bytes it committed."""

    wall: float
    rows: int
    ok: bool
    layers: dict = field(default_factory=dict)
    out_bytes: int = 0


def cpu_count() -> int:
    """Cores this process may run on (``nproc``; ignores OMP_NUM_THREADS)."""
    return len(os.sched_getaffinity(0))


def loadavg() -> list[float]:
    return [float(x) for x in Path("/proc/loadavg").read_text().split()[:3]]


def cpu_times() -> list[int]:
    """The machine's CPU time so far, per state, from /proc/stat: user,
    nice, system, idle, iowait, irq, softirq, steal."""
    return [int(x) for x in Path("/proc/stat").read_text().split("\n", 1)[0].split()[1:9]]


def cpu_shares(before: list[int], after: list[int]) -> dict[str, float]:
    """Shares of the machine's CPU time between two ``cpu_times``:
    busy, idle and stolen by the hypervisor."""
    d = [b - a for a, b in zip(before, after)]
    total = sum(d) or 1
    return {"busy": sum(d[:3] + d[5:7]) / total, "idle": (d[3] + d[4]) / total, "steal": d[7] / total}


def pin_environment(root: Path, work: Path, cpus: int) -> None:
    """Environment the package and the Spark JVM read at start-up.

    ``SPARK_GRAFT_CPUS`` pins ``local[N]`` and the scan-split floor to
    this machine; without it ``session.get_spark`` assumes 32 cores.
    The package goes on the Python workers' path, or every
    ``mapInPandas`` fails to import it when the current directory is
    not the checkout root. The heap stays at the package default.

    Every path is inside ``work``, so a run reads and writes nothing
    outside the checkout: fixtures, the temp files of the JVM and the
    Python workers, and Spark's shuffle files. The last is the one
    departure from the package defaults: ``session.get_spark`` puts
    ``spark.local.dir`` on ``/dev/shm`` when no local dir is given,
    which is outside the checkout. ``runtime_facts`` records the local
    dir and its file system with every result.
    """
    for sub in ("fixtures", "spark-local", "tmp"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    os.environ["OTELCOL_SPARK_FIXTURES"] = str(work / "fixtures")
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = str(work / "spark-local")
    # the oracles in __spark_entry__ read their inputs from here
    os.environ["CHECK_SF_DIR"] = str(input_dir(work))
    os.environ["TMPDIR"] = str(work / "tmp")
    # every JVM, the spark-submit launcher's too; hsperfdata would go to
    # /tmp whatever java.io.tmpdir says
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}"
    paths = [str(root)] + [p for p in os.environ.get("PYTHONPATH", "").split(":") if p]
    os.environ["PYTHONPATH"] = ":".join(dict.fromkeys(paths))


def input_dir(work: Path) -> Path:
    """The one input directory of a run: transcripts, documents and
    embeddings side by side, the layout the package's readers and the
    oracles in ``__spark_entry__`` expect of a scale-factor dir."""
    return work / "fixtures" / "bench"


def make_inputs(work: Path, seed: int, turns: int, docs: int, cpus: int) -> Path:
    """Seeded inputs. Transcripts are written in at least ``cpus`` row
    groups of at most the package's row-group size: a scan task reads
    whole row groups, so fewer groups than cores would cap the scan's
    parallelism whatever the split size, and ``fixtures.ensure_transcripts``
    accepts the file instead of regenerating it with the package's own
    seed. Every workload gets a corpus too: building the oracle table
    reads it."""
    import pyarrow.parquet as pq

    from opentelemetry_collector_spark import fixtures

    sf = input_dir(work)
    sf.mkdir(parents=True)
    path = fixtures.transcripts_path(str(sf))
    pq.write_table(
        fixtures.generate_transcripts(turns, seed),
        path,
        row_group_size=min(fixtures.TRANSCRIPT_ROW_GROUP_ROWS, -(-turns // cpus)),
    )
    mtime = path.stat().st_mtime_ns
    if fixtures.ensure_transcripts(str(sf)) != str(path) or path.stat().st_mtime_ns != mtime:
        raise RuntimeError("the package regenerated the seeded transcripts")
    corpus = Path(fixtures.ensure_scalegrowth(1, base_docs=docs, base_vecs=64, seed=seed))
    for name in ("documents.parquet", "embeddings.parquet"):
        os.replace(corpus / name, sf / name)
    return sf


class Oracles:
    """The DuckDB oracles of registered queries over this run's inputs,
    computed on one thread, DuckDB itself on one thread too, so they
    overlap the JVM start and warm-up and take little CPU from them.
    ``get(key)`` waits for one and returns it as a pandas frame."""

    def __init__(self, sf: Path, keys):
        from concurrent.futures import ThreadPoolExecutor

        import __spark_entry__ as entry

        sql = entry.oracle_sql()
        self._pool = ThreadPoolExecutor(max_workers=1)
        self._futures = {k: self._pool.submit(self._run, sf, sql[k]) for k in keys}

    @staticmethod
    def _run(sf: Path, sql: str):
        import duckdb

        con = duckdb.connect(config={"threads": 1})
        try:
            con.sql(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf}/documents.parquet')")
            return con.sql(sql).df()
        finally:
            con.close()

    def get(self, key: str):
        return self._futures[key].result()

    def close(self) -> None:
        self._pool.shutdown(wait=True, cancel_futures=True)


def same_rows(got, want) -> bool:
    """Order-insensitive equality of two pandas frames (same columns,
    floats to 6 places, NULLs equal)."""
    import pandas as pd

    if sorted(got.columns) != sorted(want.columns) or len(got) != len(want):
        return False

    def norm(df):
        df = df[sorted(df.columns)].copy()
        for c in df.columns:
            if pd.api.types.is_datetime64_any_dtype(df[c]):
                df[c] = df[c].astype("datetime64[us]").astype(str)
            elif pd.api.types.is_float_dtype(df[c]):
                df[c] = df[c].round(6)
            elif pd.api.types.is_integer_dtype(df[c]) or pd.api.types.is_bool_dtype(df[c]):
                df[c] = df[c].astype("Int64")
            df[c] = df[c].astype(object).where(df[c].notna(), None).astype(str)
        return df.sort_values(list(df.columns), ignore_index=True)

    return bool((norm(got).values == norm(want).values).all())


def start_spark(work: Path):
    from opentelemetry_collector_spark.session import get_spark

    spark = get_spark(
        "perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": str(work / "warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark, timeout: float = 60.0) -> None:
    """Stop Spark and wait until its JVM has exited.

    ``spark.stop()`` ends the context but not the JVM, which exits on its
    own only when it sees this process's end of its stdin close — after
    this process has gone, so it would outlive the run by seconds. Shut
    the gateway, close that stdin and wait for the JVM here instead."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    try:
        spark.stop()
    finally:
        if gateway is not None:
            SparkContext._gateway = SparkContext._jvm = None
            try:
                gateway.shutdown()
            except Exception:  # noqa: BLE001 — the JVM is ended below anyway
                pass
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                if proc.stdin is not None:
                    proc.stdin.close()
                try:
                    proc.wait(timeout)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()


def runtime_facts(spark, cpus: int) -> dict:
    import pyspark

    jvm = spark.sparkContext._jvm
    local_dir = spark.conf.get("spark.local.dir", None)
    return {
        "nproc": cpus,
        "master": spark.sparkContext.master,
        "spark_local_dir": local_dir,
        "spark_local_dir_fs": _fs_type(local_dir) if local_dir else None,
        "driver_memory": spark.conf.get("spark.driver.memory", None),
        "pyspark": pyspark.__version__,
        "java": jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
    }


def _fs_type(path: str) -> str:
    """File system type of the mount holding ``path``, from /proc/mounts."""
    best, fs = "", "?"
    for line in Path("/proc/mounts").read_text().splitlines():
        parts = line.split()
        mount = parts[1]
        if (path == mount or path.startswith(mount.rstrip("/") + "/")) and len(mount) > len(best):
            best, fs = mount, parts[2]
    return fs


# ------------------------------------------------------------ statistics


def tail(xs: list[float]) -> tuple[float, float, int]:
    """(value, percentile, samples beyond it): the highest percentile
    with at least ten samples beyond it — the (n-10)-th order
    statistic. Below eleven samples no percentile qualifies; the
    maximum is reported then, with zero samples beyond."""
    s = sorted(xs)
    n = len(s)
    if n <= 10:
        return s[-1], 100.0, 0
    k = n - 11  # index of the (n-10)-th smallest value
    return s[k], round(100.0 * (k + 1) / n, 2), n - 1 - k


# ------------------------------------------------------- resident memory

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            stat = Path(f"/proc/{d}/stat").read_text()
        except OSError:
            continue
        # the command name may hold spaces: fields resume after ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def _descendants(pid: int) -> list[int]:
    """Live (not zombie) processes below ``pid``."""
    kids, todo, out = _children_map(), [pid], []
    while todo:
        for c in kids.get(todo.pop(), []):
            todo.append(c)
            try:
                state = Path(f"/proc/{c}/stat").read_text().rsplit(")", 1)[1].split()[0]
            except OSError:
                continue
            if state != "Z":
                out.append(c)
    return out


def adopt_orphans() -> None:
    """Make this process the child subreaper of everything it starts, so
    a process orphaned below it (a PySpark worker whose daemon or JVM
    exited first) is re-parented here, not to init, and
    ``stop_descendants`` still finds it."""
    PR_SET_CHILD_SUBREAPER = 36
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def _reap() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stop_descendants(grace: float = 10.0) -> None:
    """End every process still below this one and reap it: SIGTERM,
    then SIGKILL whatever is left after ``grace`` seconds. Returns when
    none is left."""
    me = os.getpid()
    deadline = time.monotonic() + grace
    sent: dict[int, int] = {}
    while True:
        _reap()
        left = _descendants(me)
        if not left:
            return
        sig = signal.SIGKILL if time.monotonic() > deadline else signal.SIGTERM
        for pid in left:
            if sent.get(pid) != sig:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
                sent[pid] = sig
        time.sleep(0.05)


def descendants_rss_bytes(pid: int) -> int:
    """Resident bytes of every descendant of ``pid``: the Spark JVM,
    the PySpark daemon and its Python workers."""
    kids = _children_map()
    todo, total = list(kids.get(pid, [])), 0
    while todo:
        p = todo.pop()
        todo.extend(kids.get(p, []))
        try:
            total += int(Path(f"/proc/{p}/statm").read_text().split()[1]) * _PAGE
        except OSError:
            pass
    return total


class RssSampler:
    """Samples descendant RSS on a thread while ``active`` is set; the
    peak covers timed operations only."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = 0
        self.active = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.wait(self.interval):
            if self.active.is_set():
                self.peak = max(self.peak, descendants_rss_bytes(me))

    def close(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


# --------------------------------------------------------------- forcing


def force(df):
    """Execute the whole physical plan, every output column, and return
    (rows, executed plan).

    ``queryExecution.toRdd.count()`` runs the plan Catalyst chose for
    the full output — like a ``noop`` write of all columns, and unlike
    ``DataFrame.count()``, which re-plans for a count and prunes every
    column it does not need. The returned plan carries the SQL metrics
    of this very execution.
    """
    qe = df._jdf.queryExecution()
    n = qe.toRdd().count()
    return int(n), qe.executedPlan()


def best_of(n: int, tracer, name: str, df):
    """(least wall, rows, executed plan) of forcing ``df`` ``n`` times,
    each in a span ``prefix:<name>``. A prefix costs tenths of a second
    to a second here, so one sample's noise would swamp the difference
    between two prefixes. Each time is a new Dataset, planned afresh:
    forcing the same one again would reuse its broadcasts."""
    best = None
    for _ in range(n):
        with tracer.span(f"prefix:{name}") as s:
            rows, plan = force(df.select("*"))
        if best is None or s.dur < best[0]:
            best = (s.dur, rows, plan)
    return best


def _scala_items(m):
    it = m.iterator()
    while it.hasNext():
        kv = it.next()
        yield kv._1(), kv._2()


def plan_nodes(plan) -> list[tuple[str, dict[str, int]]]:
    """(node class, {metric: value}) for every node of an executed
    plan, descending AQE's AdaptiveSparkPlanExec and query stages."""
    out = []
    todo = [plan]
    while todo:
        p = todo.pop()
        cls = p.getClass().getSimpleName()
        out.append((cls, {k: int(v.value()) for k, v in _scala_items(p.metrics())}))
        if cls == "AdaptiveSparkPlanExec":
            todo.append(p.executedPlan())
        elif cls.endswith("QueryStageExec"):
            todo.append(p.plan())
        else:
            it = p.children().iterator()
            while it.hasNext():
                todo.append(it.next())
    return out


def plan_sum(nodes, cls_suffix: str, metric: str) -> int:
    return sum(m.get(metric, 0) for c, m in nodes if c.endswith(cls_suffix))


def job_counters(spark, job_ids) -> dict[str, int]:
    """Jobs, stages, tasks (and those of stages reading input files),
    shuffle-write and spill bytes of finished jobs, from the status
    tracker and the JVM status store."""
    from py4j.protocol import Py4JJavaError

    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    out = {"jobs": 0, "stages": 0, "tasks": 0, "scan_tasks": 0, "shuffle_write_bytes": 0, "spill_bytes": 0}
    seen: set[int] = set()
    for j in job_ids:
        info = sc.statusTracker().getJobInfo(j)
        if info is None:
            continue
        out["jobs"] += 1
        for s in info.stageIds:
            if s in seen:
                continue
            seen.add(s)
            try:
                d = store.lastStageAttempt(s)
            except Py4JJavaError:  # a skipped stage never ran an attempt
                continue
            out["stages"] += 1
            out["tasks"] += d.numTasks()
            if d.inputBytes() > 0:  # a stage that reads the input files
                out["scan_tasks"] += d.numTasks()
            out["shuffle_write_bytes"] += d.shuffleWriteBytes()
            out["spill_bytes"] += d.memoryBytesSpilled() + d.diskBytesSpilled()
    return out


def tree_bytes(path: Path) -> tuple[int, int]:
    """(files, bytes) of the parquet files under ``path``."""
    files = [p for p in path.rglob("*.parquet") if p.is_file()]
    return len(files), sum(p.stat().st_size for p in files)
