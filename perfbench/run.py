"""Benchmark entry point.

    python3 perfbench/run.py --workload cdc_maintain --seed 1 --seconds 10 --trace 0

Runs one workload in this process on ``local[<cores>]`` with one client
thread and prints, as the last line of standard output, one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end metrics; with ``--trace 1`` the Spark event log,
job groups, streaming listener and ``on_map`` accumulators are switched on
and the metrics are the per-layer ones. Either way a fuller record (machine-speed probe,
workload-specific figures, spans) is written to ``.bench_out/``.

Exits non-zero without a result if the engine package is not importable.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import importlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
from pathlib import Path  # noqa: E402

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from perfbench import harness  # noqa: E402
from perfbench.harness import log, median  # noqa: E402

#: workload name -> module that runs it
WORKLOADS = {
    "cdc_maintain": "cdc_maintain",
    "index_serve": "index_serve",
    "query_suite": "query_suite",
    "query_suite_all": "query_suite",
}

#: (name, unit) of the end-to-end metrics every workload reports
END_TO_END = (
    ("setup_s", "s"),
    ("heap_retained_mb", "MB"),
    ("norm_op_ms_p50", "ms"),
    ("norm_items_per_s", "1/s"),
)

#: (name, unit) of the per-layer metrics every workload reports (traced run)
PER_LAYER = (
    ("session.start_s", "s"),
    ("inputs.gen_s", "s"),
    ("warmup_s", "s"),
    ("collation.collate_key_us", "us"),
    ("mapindex.calls_per_op", "count"),
    ("mapindex.ms_per_op", "ms"),
    ("spark.jobs_per_op", "count"),
    ("spark.stages_per_op", "count"),
    ("spark.tasks_per_op", "count"),
    ("spark.job_ms_per_op", "ms"),
    ("spark.executor_run_ms_per_op", "ms"),
    ("spark.executor_cpu_ms_per_op", "ms"),
    ("spark.shuffle_kb_per_op", "KB"),
    ("spark.input_kb_per_op", "KB"),
    ("spark.output_kb_per_op", "KB"),
    ("driver.gap_ms_per_op", "ms"),
)


class Context:
    """What a workload reads (session, seed, run length) and fills in
    (operation counts, timings, workload-specific figures)."""

    def __init__(self, workload, seed, seconds, trace, work, rec, spark):
        self.workload, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.work, self.rec, self.spark = work, rec, spark
        self.attempted = 0
        self.failed = 0
        self.correct = True
        self.problems: list[str] = []
        self.ops: dict[str, list[float]] = {}  # seconds of each timed op, by kind
        self.items = 0  # work items completed by the timed operations
        self.busy_s = 0.0  # seconds the timed phase spent in engine calls
        self.extras: dict = {}  # workload-specific end-to-end figures
        self.detail: dict = {}  # workload-specific per-layer figures (traced)
        self.sample_keys: list = []  # the workload's own index keys
        self.detail_spans: dict[str, list] = {}  # op spans to account per module
        self.t_setup = None
        self.refs: list[dict[str, float]] = []  # parts of each reference job

    def setup_done(self) -> None:
        for _ in range(2):  # compile the reference job's path before timing it
            harness.reference_job(self.spark, with_spark=True)
        self.t_setup = time.perf_counter() - T_START

    def reference(self) -> None:
        """Time one reference job (see ``harness.reference_job``)."""
        # the spark.range part only feeds the probe: every fourth job is enough
        with_spark = len(self.refs) % 4 == 0
        with self.rec.span("reference", kind="ref", group="reference"):
            self.refs.append(harness.reference_job(self.spark, with_spark))

    def fail(self, what: str, err) -> None:
        self.failed += 1
        msg = f"{what}: {err!r}"[:500]
        self.problems.append(msg)
        log(f"FAILED {msg}")

    def check(self, what: str, problems: list[str]) -> None:
        """An operation's output check; a mismatch fails the operation."""
        if problems:
            self.fail(what, "; ".join(problems))

    def final_check(self, what: str, problems: list[str]) -> None:
        if problems:
            self.correct = False
            msg = f"{what}: {'; '.join(problems)}"[:800]
            self.problems.append(msg)
            log(f"INCORRECT {msg}")


def collate_us(keys: list) -> float:
    """Median microseconds of ``collation.collate_key`` per key over the
    workload's own keys (five timed passes)."""
    from mapreduceindex_demo_spark.collation import collate_key

    keys = [list(k) for k in keys] or [[0]]
    runs = []
    for _ in range(5):
        t0 = time.perf_counter()
        for k in keys:
            collate_key(k)
        runs.append((time.perf_counter() - t0) / len(keys) * 1e6)
    return median(runs)


class MapIndexTimer:
    """Times every outermost call into ``MapIndexEngine``'s public methods,
    by wrapping them on the class from outside for the traced run."""

    def __init__(self):
        import threading

        from mapreduceindex_demo_spark.mapindex import MapIndexEngine

        self.calls: list[tuple[float, float]] = []  # (wall0_ms, wall1_ms)
        self._local = threading.local()
        public = {
            n: f
            for n, f in vars(MapIndexEngine).items()
            if not n.startswith("_") and callable(f) and not isinstance(f, (staticmethod, classmethod))
        }
        for n, f in public.items():
            setattr(MapIndexEngine, n, self._wrap(f))

    def _wrap(self, f):
        timer = self

        def timed(*a, **kw):
            depth = getattr(timer._local, "depth", 0)
            timer._local.depth = depth + 1
            w0 = time.time() * 1000.0
            try:
                return f(*a, **kw)
            finally:
                timer._local.depth = depth
                if depth == 0:
                    timer.calls.append((w0, time.time() * 1000.0))

        return timed

    def per_op(self, spans: list[dict]) -> tuple[float, float]:
        n = max(len(spans), 1)
        calls, ms = 0, 0.0
        for s in spans:
            for a, b in self.calls:
                if s["wall0_ms"] - 1 <= a and b <= s["wall1_ms"] + 1:
                    calls += 1
                    ms += b - a
        return calls / n, ms / n


def summarize(ctx: Context, heap: float, rss: float, timer) -> dict:
    """The run's record: end-to-end metrics, workload-specific figures and,
    for a traced run, the per-layer metrics from spans and the event log."""
    rec = ctx.rec
    ops = rec.times("op")
    op_ms = median(ops) * 1000.0  # the median over every timed operation
    items_per_s = ctx.items / ctx.busy_s if ctx.busy_s else 0.0
    # machine-speed normalisation: the reference job ran between operations
    # under the same conditions, so its median cancels the box's drift
    ref_s = median([sum(r[p] for p in harness.NORMALISING_PARTS) for r in ctx.refs])
    speed = harness.REFERENCE_NOMINAL_S / ref_s
    metrics: dict[str, float] = {
        "setup_s": ctx.t_setup,
        "heap_retained_mb": heap,
        "norm_op_ms_p50": op_ms * speed,
        "norm_items_per_s": items_per_s / speed,
    }
    # the machine-speed probe: how each part of the reference job ran; it
    # gates nothing and shows whether the run was made on a contended box
    probe = {"cores": harness.cpu_count(), "references": len(ctx.refs)}
    for part in ctx.refs[0]:
        xs = [r[part] for r in ctx.refs if part in r]
        probe[part] = {"p50": median(xs), "min": min(xs), "max": max(xs)}
    ctx.extras.update(
        {"op_ms_p50": op_ms, "items_per_s": items_per_s, "reference_s_p50": ref_s,
         "peak_rss_mb": rss}
    )
    ctx.extras.update({f"op_ms_p50.{k}": median(v) * 1000.0 for k, v in ctx.ops.items() if v})
    log(f"probe {json.dumps(probe)}")
    log(f"extras {json.dumps(ctx.extras)}")
    record = {
        "workload": ctx.workload,
        "seed": ctx.seed,
        "seconds": ctx.seconds,
        "trace": ctx.trace,
        "ops_timed": {k: len(v) for k, v in ctx.ops.items()},
        "probe": probe,
        "end_to_end": metrics,
        "extras": ctx.extras,
        "problems": ctx.problems,
        "spans": [{k: sp[k] for k in ("name", "kind", "s", "ok")} for sp in rec.spans
                  if sp["kind"] not in ("op", "warm", "apply", "commit", "build", "action")],
    }
    if not ctx.trace:
        return record
    ev = harness.EventLog(harness.read_event_log(ctx.work))
    op_spans = rec.of("op")
    s = ev.summarize(op_spans)
    calls, ms = timer.per_op(op_spans)
    record["per_layer"] = {
        "session.start_s": sum(rec.times("session")),
        "inputs.gen_s": sum(rec.times("inputs")),
        "warmup_s": sum(rec.times("warmup")),
        "collation.collate_key_us": collate_us(ctx.sample_keys),
        "mapindex.calls_per_op": calls,
        "mapindex.ms_per_op": ms,
        "spark.jobs_per_op": s["jobs"],
        "spark.stages_per_op": s["stages"],
        "spark.tasks_per_op": s["tasks"],
        "spark.job_ms_per_op": s["job_ms"],
        "spark.executor_run_ms_per_op": s["run_ms"],
        "spark.executor_cpu_ms_per_op": s["cpu_ms"],
        "spark.shuffle_kb_per_op": s["shuffle_kb"],
        "spark.input_kb_per_op": s["input_kb"],
        "spark.output_kb_per_op": s["output_kb"],
        "driver.gap_ms_per_op": s["gap_ms"],
    }
    if ctx.workload == "cdc_maintain":
        ctx.detail["sources.rewrite_mb_per_batch"] = s["output_kb"] / 1024
    for mod, spans in ctx.detail_spans.items():
        m = ev.summarize(spans)
        ctx.detail[f"spark.{mod}.jobs"] = m["jobs"]
        ctx.detail[f"spark.{mod}.shuffle_mb"] = m["shuffle_kb"] / 1024
        ctx.detail[f"spark.{mod}.spill_mb"] = m["spill_kb"] / 1024
    record["detail"] = ctx.detail
    record["job_groups"] = ev.groups()
    record["spark_by_kind"] = {
        k: ev.summarize(rec.of(k)) for k in {sp["kind"] for sp in rec.spans}
    }
    record["spans"] = rec.spans  # every span, with wall-clock bounds
    return record


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    trace = bool(args.trace)

    try:
        importlib.import_module("mapreduceindex_demo_spark")
    except ImportError as e:
        print(f"engine package not importable: {e}", file=sys.stderr)
        return 2
    work = harness.prepare_process(args.workload, args.seed, trace)
    workload = importlib.import_module(f"perfbench.{WORKLOADS[args.workload]}")

    rec = harness.Recorder(workload=args.workload, trace=trace)
    timer = MapIndexTimer() if trace else None
    try:
        spark = harness.start_session(rec)
        ctx = Context(args.workload, args.seed, args.seconds, trace, work, rec, spark)
        try:
            workload.run(ctx)
            heap = harness.heap_retained_mb(spark)
            rss = harness.peak_rss_mb()
        finally:
            harness.stop_session(spark)
        record = summarize(ctx, heap, rss, timer)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(work.parent)
        except OSError:
            pass
    outdir = harness.ROOT / ".bench_out"
    outdir.mkdir(exist_ok=True)
    tag = "trace" if trace else "run"
    with open(outdir / f"{tag}-{args.workload}-s{args.seed}.json", "w") as f:
        json.dump(record, f, indent=1, default=str)
    if trace:
        out = {n: {"value": record["per_layer"][n], "unit": u} for n, u in PER_LAYER}
    else:
        out = {n: {"value": record["end_to_end"][n], "unit": u} for n, u in END_TO_END}
    result = {
        "correct": ctx.correct,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": out,
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
