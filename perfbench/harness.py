"""Shared machinery of the benchmark: process environment, session start,
timing spans, Spark event-log accounting, memory high-water marks and the
machine-speed reference job.

Nothing here reaches inside the engine. Layers are measured by timing calls
into their public functions and by reading Spark's own event log, which the
traced run switches on through a configuration directory owned by the
benchmark (``SPARK_CONF_DIR``), never through ``session.py``.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import time
from contextlib import contextmanager
from pathlib import Path

#: root of the checkout the benchmark runs from (the directory holding
#: ``mapreduceindex_demo_spark``)
ROOT = Path(__file__).resolve().parent.parent


def cpu_count() -> int:
    """Cores this process may run on: ``local[$(nproc)]``."""
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # pragma: no cover - non-Linux
        return os.cpu_count() or 1


def prepare_process(workload: str, seed: int, trace: bool) -> Path:
    """Create the run's private work directory inside the checkout and point
    every scratch location of Spark, the JVM and Python workers at it.

    Must run before pyspark starts its JVM. Python workers import the
    engine by module path, so the checkout root goes on ``PYTHONPATH``
    (without it ``mapInPandas`` stages fail with ``ModuleNotFoundError``).
    """
    work = ROOT / ".bench_work" / f"{workload}-s{seed}-p{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("local", "tmp", "conf", "eventlog", "warehouse"):
        (work / sub).mkdir(parents=True)
    conf = [f"spark.sql.warehouse.dir {work / 'warehouse'}"]
    if trace:
        conf += [
            "spark.eventLog.enabled true",
            "spark.eventLog.compress false",
            "spark.eventLog.rolling.enabled false",
            f"spark.eventLog.dir file://{work / 'eventlog'}",
        ]
    (work / "conf" / "spark-defaults.conf").write_text("\n".join(conf) + "\n")
    path = os.environ.get("PYTHONPATH")
    os.environ.update(
        {
            "PYTHONPATH": str(ROOT) + (os.pathsep + path if path else ""),
            "SPARK_GRAFT_CPUS": str(cpu_count()),
            "SPARK_LOCAL_DIRS": str(work / "local"),
            "SPARK_CONF_DIR": str(work / "conf"),
            "TMPDIR": str(work / "tmp"),
            # every JVM started (launcher and driver): temp files inside the
            # work directory, no hsperfdata files in the system temp dir
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
            "PYSPARK_PYTHON": sys.executable,
            "PYSPARK_DRIVER_PYTHON": sys.executable,
        }
    )
    if str(ROOT) not in sys.path:
        sys.path.insert(0, str(ROOT))
    return work


def log(msg: str) -> None:
    print(f"# {msg}", file=sys.stderr, flush=True)


# -- statistics ----------------------------------------------------------------


def median(xs: list[float]) -> float:
    return statistics.median(xs)


def percentile(xs: list[float], q: float) -> float:
    """Nearest-rank percentile (q in 0..100)."""
    s = sorted(xs)
    k = max(0, min(len(s) - 1, int(-(-q * len(s) // 100)) - 1))
    return s[k]


# -- spans ----------------------------------------------------------------------


class Recorder:
    """Spans and counters kept in memory for the whole run.

    A span is (name, kind, start, end, parent). ``kind`` groups spans for
    the per-layer summaries (``op`` spans are the timed operations the
    end-to-end metrics are computed from). Wall-clock epoch milliseconds are
    kept beside the monotonic times so spans can be matched against the
    Spark event log.
    """

    def __init__(self, spark=None, workload: str = "", trace: bool = False):
        self.spark = spark
        self.workload = workload
        self.trace = trace
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, kind: str = "call", group: str | None = None):
        """Time one call. With tracing on and ``group`` given, every Spark job
        the call launches from this thread carries the job group
        ``<workload>:<group>``."""
        if self.trace and group and self.spark is not None:
            self.spark.sparkContext.setJobGroup(f"{self.workload}:{group}", name)
        parent = self._stack[-1] if self._stack else None
        rec = {"name": name, "kind": kind, "parent": parent, "ok": True}
        self._stack.append(len(self.spans))
        self.spans.append(rec)
        rec["wall0_ms"] = time.time() * 1000.0
        t0 = time.perf_counter()
        try:
            yield rec
        except BaseException:
            rec["ok"] = False
            raise
        finally:
            rec["s"] = time.perf_counter() - t0
            rec["wall1_ms"] = time.time() * 1000.0
            self._stack.pop()

    def of(self, kind: str, name: str | None = None) -> list[dict]:
        """Completed spans of ``kind`` (and ``name``); failed calls excluded."""
        return [
            s
            for s in self.spans
            if s["kind"] == kind and (name is None or s["name"] == name) and s["ok"]
        ]

    def times(self, kind: str, name: str | None = None) -> list[float]:
        return [s["s"] for s in self.of(kind, name)]


# -- memory --------------------------------------------------------------------


def _proc_status(pid: int) -> dict[str, str]:
    out = {}
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                k, _, v = line.partition(":")
                out[k] = v.strip()
    except OSError:
        pass
    return out


def descendants(pid: int) -> list[int]:
    """All live descendant pids of ``pid`` (the JVM, Python daemon, workers)."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rfind(")") + 2 :].split()[1])
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for c in children.get(p, []):
            out.append(c)
            todo.append(c)
    return out


def peak_rss_mb() -> float:
    """Sum of the resident high-water marks (VmHWM) of this process and every
    live descendant: the JVM, the PySpark daemon and its pooled workers."""
    total_kb = 0
    for pid in [os.getpid(), *descendants(os.getpid())]:
        hwm = _proc_status(pid).get("VmHWM", "0 kB").split()[0]
        total_kb += int(hwm)
    return total_kb / 1024.0


def heap_retained_mb(spark) -> float:
    """JVM heap still in use after full collections: what the engine keeps
    alive (cached and checkpointed blocks, plan caches, leaks) once the
    timed work is done. Unlike the resident high-water mark it does not
    depend on when the collector happened to run."""
    import gc

    gc.collect()  # drop Python handles first, so the JVM objects they pin can go
    jvm = spark.sparkContext._jvm
    rt = jvm.java.lang.Runtime.getRuntime()
    used = []
    for _ in range(4):
        jvm.java.lang.System.gc()
        time.sleep(0.5)  # let the context cleaner drop unreferenced blocks
        used.append(rt.totalMemory() - rt.freeMemory())
    return min(used) / (1024.0 * 1024.0)


# -- session lifecycle -----------------------------------------------------------


def start_session(rec: Recorder):
    """Start the engine's session through its own factory, timed."""
    from mapreduceindex_demo_spark.session import get_spark

    with rec.span("get_spark", kind="session"):
        spark = get_spark(app_name=f"perfbench-{rec.workload}")
    spark.sparkContext.setLogLevel("ERROR")
    rec.spark = spark
    return spark


def stop_session(spark, wait_s: float = 30.0) -> None:
    """Stop Spark, shut the JVM down and wait until every process this run
    started has ended."""
    from pyspark import SparkContext

    kids = descendants(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        try:
            gateway.shutdown()
        except Exception:  # noqa: BLE001 - best effort; the wait below decides
            pass
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            try:
                proc.stdin.close()
            except (OSError, AttributeError, ValueError):
                pass
            try:
                proc.wait(timeout=wait_s)
            except Exception:  # noqa: BLE001 - fall through to the kill below
                proc.kill()
                proc.wait(timeout=wait_s)
    deadline = time.time() + wait_s
    while time.time() < deadline:
        alive = [p for p in kids if os.path.exists(f"/proc/{p}")
                 and _proc_status(p).get("State", "Z").split()[0] != "Z"]
        if not alive:
            return
        time.sleep(0.1)
    for p in kids:
        try:
            os.kill(p, 9)
        except OSError:
            pass


# -- machine speed -----------------------------------------------------------------

#: nominal seconds of one reference job; normalised metrics read as if the
#: reference job had taken exactly this long
REFERENCE_NOMINAL_S = 0.08


#: parts of the reference job that normalise the gated figures: no engine
#: code, session setting or Spark scheduler takes part in them
NORMALISING_PARTS = ("python_s", "py4j_s", "jvm_s")


def reference_job(spark, with_spark: bool) -> dict[str, float]:
    """A fixed piece of work timed between the workload's operations, to
    track how fast this box is running at that moment (shared hosts drift by
    20 % and more over minutes): a Python loop, py4j round trips to the JVM,
    a parallel sort on the JVM's own fork-join pool (one thread per core)
    and, ``with_spark``, a ``spark.range`` sum with one partition per core.
    Returns the seconds of each part. The last part goes through the
    session, so it only serves to recognise a contended run (see
    ``NORMALISING_PARTS``)."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(100_000):
        acc += i * i
    t1 = time.perf_counter()
    jvm = spark.sparkContext._jvm
    for i in range(20):
        jvm.java.lang.Math.abs(-i)
    t2 = time.perf_counter()
    arr = jvm.java.util.Random(7).ints(300_000).toArray()
    jvm.java.util.Arrays.parallelSort(arr)
    t3 = time.perf_counter()
    parts = {"python_s": t1 - t0, "py4j_s": t2 - t1, "jvm_s": t3 - t2}
    if with_spark:
        spark.range(0, 1_000_000, 1, cpu_count()).selectExpr("sum(id)").collect()
        parts["spark_range_s"] = time.perf_counter() - t3
    return parts


# -- Spark event log ---------------------------------------------------------------


def read_event_log(work: Path) -> list[dict]:
    """Parse the run's JSON event log (complete once the session stopped)."""
    logdir = work / "eventlog"
    events = []
    for f in sorted(p for p in logdir.rglob("*") if p.is_file()):
        with open(f) as fh:
            for line in fh:
                line = line.strip()
                if line:
                    events.append(json.loads(line))
    return events


class EventLog:
    """Jobs, stages and task metrics from the event log, attributable to the
    benchmark's spans by job group or, for jobs started on Spark's own
    threads (streaming micro-batches), by submission time."""

    def __init__(self, events: list[dict]):
        self.jobs: dict[int, dict] = {}
        stage_job: dict[int, int] = {}
        self.stages: dict[int, dict] = {}
        for e in events:
            ev = e.get("Event")
            if ev == "SparkListenerJobStart":
                jid = e["Job ID"]
                props = e.get("Properties") or {}
                self.jobs[jid] = {
                    "submit": e.get("Submission Time", 0),
                    "end": None,
                    "group": props.get("spark.jobGroup.id"),
                    "stages": set(),
                    "tasks": 0,
                    "run_ms": 0,
                    "cpu_ns": 0,
                    "shuffle_b": 0,
                    "output_b": 0,
                    "input_b": 0,
                    "spill_b": 0,
                }
                for sid in e.get("Stage IDs", []):
                    stage_job[sid] = jid
            elif ev == "SparkListenerJobEnd":
                j = self.jobs.get(e["Job ID"])
                if j is not None:
                    j["end"] = e.get("Completion Time")
            elif ev == "SparkListenerStageCompleted":
                info = e["Stage Info"]
                jid = stage_job.get(info["Stage ID"])
                if jid is not None:
                    self.jobs[jid]["stages"].add(info["Stage ID"])
            elif ev == "SparkListenerTaskEnd":
                jid = stage_job.get(e.get("Stage ID"))
                m = e.get("Task Metrics") or {}
                if jid is None or not m:
                    continue
                j = self.jobs[jid]
                sr = m.get("Shuffle Read Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                j["tasks"] += 1
                j["run_ms"] += m.get("Executor Run Time", 0)
                j["cpu_ns"] += m.get("Executor CPU Time", 0)
                j["shuffle_b"] += (
                    sr.get("Remote Bytes Read", 0)
                    + sr.get("Local Bytes Read", 0)
                    + sw.get("Shuffle Bytes Written", 0)
                )
                j["output_b"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
                j["input_b"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                j["spill_b"] += m.get("Memory Bytes Spilled", 0) + m.get(
                    "Disk Bytes Spilled", 0
                )

    def jobs_in(self, span: dict) -> list[dict]:
        """Jobs submitted while ``span`` was open."""
        lo, hi = span["wall0_ms"] - 1, span["wall1_ms"] + 1
        return [j for j in self.jobs.values() if lo <= j["submit"] <= hi]

    @staticmethod
    def busy_ms(jobs: list[dict], span: dict) -> float:
        """Milliseconds of ``span`` covered by at least one running job."""
        iv = sorted(
            (max(j["submit"], span["wall0_ms"]), min(j["end"] or span["wall1_ms"], span["wall1_ms"]))
            for j in jobs
        )
        busy, cur0, cur1 = 0.0, None, None
        for a, b in iv:
            if cur1 is None or a > cur1:
                if cur1 is not None:
                    busy += cur1 - cur0
                cur0, cur1 = a, b
            else:
                cur1 = max(cur1, b)
        if cur1 is not None:
            busy += cur1 - cur0
        return busy

    def summarize(self, spans: list[dict]) -> dict:
        """Per-span means of the engine counters over ``spans``."""
        n = max(len(spans), 1)
        tot = {k: 0.0 for k in ("jobs", "stages", "tasks", "job_ms", "run_ms",
                                "cpu_ms", "shuffle_kb", "output_kb", "input_kb",
                                "spill_kb", "gap_ms")}
        for s in spans:
            js = self.jobs_in(s)
            tot["jobs"] += len(js)
            tot["stages"] += sum(len(j["stages"]) for j in js)
            tot["tasks"] += sum(j["tasks"] for j in js)
            tot["job_ms"] += sum((j["end"] or s["wall1_ms"]) - j["submit"] for j in js)
            tot["run_ms"] += sum(j["run_ms"] for j in js)
            tot["cpu_ms"] += sum(j["cpu_ns"] for j in js) / 1e6
            tot["shuffle_kb"] += sum(j["shuffle_b"] for j in js) / 1024
            tot["output_kb"] += sum(j["output_b"] for j in js) / 1024
            tot["input_kb"] += sum(j["input_b"] for j in js) / 1024
            tot["spill_kb"] += sum(j["spill_b"] for j in js) / 1024
            tot["gap_ms"] += s["s"] * 1000.0 - self.busy_ms(js, s)
        return {k: v / n for k, v in tot.items()}

    def groups(self) -> dict[str, int]:
        out: dict[str, int] = {}
        for j in self.jobs.values():
            g = j["group"] or "<none>"
            out[g] = out.get(g, 0) + 1
        return out
