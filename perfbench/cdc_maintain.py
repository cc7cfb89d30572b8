"""Workload ``cdc_maintain``: the durable write path.

Seeded JSON documents are backfilled into a function index (a Python
``on_map`` emitting zero to four composite keys, nothing for archived
documents) and saved durable in hash buckets. Then CDC micro-batches over
skewed doc ids (upserts, deletes, expirations, WHERE-false re-versions) land
one at a time as files and go through
``streaming.maintenance.run_streaming_durable_maintenance``.

One operation is one micro-batch: from the moment its file lands until the
maintenance trigger has merged it and committed. At the end the durable
index is reopened in a fresh engine with ``load_index`` and compared, as a
multiset, to a plain-Python model of the last live version of every
document.
"""

from __future__ import annotations

import os
import time
from collections import Counter

from perfbench import checks, inputs
from perfbench.harness import median

N_DOCS = 20_000
BATCH = 1_000
BUCKETS = 8
WARM_BATCHES = 1
TIMED_BACKFILLS = 1
MIN_BATCHES = 4
#: reference jobs after each batch: a run has few batches, and one
#: reference job's py4j part alone varies by a factor of three
REFS_PER_BATCH = 3


def _write_rows(path: str, rows: list[tuple], mtime: float) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(os.path.dirname(path), exist_ok=True)
    cols = list(zip(*rows))
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(cols[0], pa.int64()),
                "seq": pa.array(cols[1], pa.int64()),
                "op": pa.array(cols[2], pa.string()),
                "body": pa.array(cols[3], pa.string()),
            }
        ),
        path,
    )
    os.utime(path, (mtime, mtime))


class StreamProgress:
    """Collects ``durationMs`` of every streaming progress event (traced run)."""

    def __init__(self):
        from pyspark.sql.streaming import StreamingQueryListener

        outer = self
        self.events: list[dict] = []

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                outer.events.append(
                    {"batch": p.batchId, "rows": p.numInputRows, **dict(p.durationMs)}
                )

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = _L()

    def wait_for(self, n: int, timeout_s: float = 10.0) -> None:
        deadline = time.time() + timeout_s
        while len(self.events) < n and time.time() < deadline:
            time.sleep(0.05)


def run(ctx) -> None:
    from mapreduceindex_demo_spark.catalog import IndexDefn
    from mapreduceindex_demo_spark.mapindex import MapIndexEngine
    from mapreduceindex_demo_spark.streaming.maintenance import (
        run_streaming_durable_maintenance,
    )

    spark, rec, work = ctx.spark, ctx.rec, ctx.work
    with rec.span("generate", kind="inputs"):
        docs = inputs.cdc_documents(ctx.seed, N_DOCS)
        stream = inputs.CdcStream(ctx.seed, N_DOCS, BATCH)
        docs_path = str(work / "docs" / "part-0.parquet")
        _write_rows(docs_path, docs, time.time())

    on_map = inputs.on_map
    if ctx.trace:
        calls = spark.sparkContext.accumulator(0)
        secs = spark.sparkContext.accumulator(0.0)
        on_map = _counted(inputs.on_map, calls, secs)
        progress = StreamProgress()
        spark.streams.addListener(progress.listener)

    defn = IndexDefn(
        name="idx_docs",
        bucket="docs",
        func_name="doc_map",
        key_types=("string", "string", "bigint"),
    )

    def backfill(path: str) -> MapIndexEngine:
        eng = MapIndexEngine(spark)
        eng.register_function("doc_map", on_map)
        src = spark.read.parquet(str(work / "docs"))
        eng.create_index(defn, src, doc_id_col="doc_id", seq_col="seq")
        eng.save_index(defn.name, path, buckets=BUCKETS)
        return eng

    t_land = time.time()

    def land_and_commit(eng, stream_dir: str, b: int, index_path: str) -> None:
        _write_rows(
            os.path.join(stream_dir, "cdc", f"batch_{b:04d}", "data.parquet"),
            stream.batch(b),
            t_land + b,
        )
        run_streaming_durable_maintenance(
            spark,
            os.path.join(stream_dir, "cdc"),
            os.path.join(stream_dir, "checkpoint"),
            defn,
            inputs.CDC_SCHEMA,
            index_path,
            engine=eng,
            doc_id_col="doc_id",
            seq_col="seq",
            buckets=BUCKETS,
        )

    # warm-up: one backfill and a short stream on a throw-away index
    with rec.span("warmup", kind="warmup"):
        warm_path = str(work / "warm_index")
        eng = backfill(warm_path)
        for b in range(WARM_BATCHES):
            land_and_commit(eng, str(work / "warm_stream"), b, warm_path)

    ctx.setup_done()
    t0 = time.perf_counter()
    index_path = ""
    for i in range(TIMED_BACKFILLS):
        index_path = str(work / f"index_{i}")
        ctx.attempted += 1
        try:
            with rec.span("backfill", kind="backfill", group="backfill"):
                eng = backfill(index_path)
        except Exception as e:  # noqa: BLE001 - a failed op is counted, not fatal
            ctx.fail("backfill", e)

    applied: list[list[tuple]] = [docs]
    rewritten: list[int] = []  # bucket files rewritten by each batch (traced)
    b = 0
    while b < MIN_BATCHES or time.perf_counter() - t0 < ctx.seconds:
        ctx.attempted += 1
        try:
            with rec.span("batch", kind="op", group="batch") as sp:
                land_and_commit(eng, str(work / "stream"), b, index_path)
            applied.append(stream.batch(b))
            for _ in range(REFS_PER_BATCH):
                ctx.reference()
            if ctx.trace:
                rewritten.append(_files_written_since(index_path, sp["wall0_ms"] / 1000))
        except Exception as e:  # noqa: BLE001
            ctx.fail(f"batch {b}", e)
        b += 1

    # -- correctness: reopen the durable index in a fresh engine -------------
    expected = checks.cdc_expected(inputs.on_map, applied)
    fresh = MapIndexEngine(spark)
    fresh.register_function("doc_map", inputs.on_map)
    got = Counter(
        (r.key_0, r.key_1, r.key_2, r.doc_id)
        for r in fresh.load_index(index_path).collect()
    )
    ctx.final_check("reopened durable index", checks.multiset_diff(expected, got))

    batch_s = rec.times("op", "batch")
    backfill_s = rec.times("backfill", "backfill")
    index_bytes = sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, fs in os.walk(index_path)
        for f in fs
        if f.endswith(".parquet")
    )
    ctx.ops = {"batch": batch_s}
    ctx.items = BATCH * len(batch_s)
    ctx.busy_s = sum(batch_s)
    ctx.extras.update(
        {
            "backfill_docs_per_s": N_DOCS / median(backfill_s) if backfill_s else 0.0,
            "cdc_changes_per_s": BATCH * len(batch_s) / sum(batch_s),
            "cdc_batch_s_p50": median(batch_s),
            "index_bytes_per_entry": index_bytes / max(sum(expected.values()), 1),
            "batches_timed": len(batch_s),
            "live_entries": sum(expected.values()),
        }
    )
    ctx.sample_keys = [k[:3] for k in list(expected)[:2000]]
    if ctx.trace:
        progress.wait_for(WARM_BATCHES + b)
        ctx.detail["udf.on_map_calls"] = calls.value
        ctx.detail["udf.on_map_s"] = secs.value
        timed = progress.events[-len(batch_s):] if batch_s else []
        if timed:
            ctx.detail["mapindex.merge_s_p50"] = median(
                [e.get("addBatch", 0) / 1000 for e in timed]
            )
            ctx.detail["streaming.batch_overhead_s_p50"] = median(
                [(e.get("triggerExecution", 0) - e.get("addBatch", 0)) / 1000 for e in timed]
            )
            ctx.detail["streaming.start_stop_s_p50"] = median(
                [s - e.get("triggerExecution", 0) / 1000 for s, e in zip(batch_s, timed)]
            )
        ctx.detail["mapindex.backfill_s"] = median(backfill_s) if backfill_s else 0.0
        ctx.detail["sources.index_files"] = sum(
            f.endswith(".parquet") for _, _, fs in os.walk(index_path) for f in fs
        )
        ctx.detail["sources.buckets"] = BUCKETS
        if rewritten:
            ctx.detail["sources.buckets_rewritten_per_batch"] = sum(rewritten) / len(rewritten)


def _files_written_since(path: str, t: float) -> int:
    """Index data files (one per bucket) modified at or after ``t``."""
    return sum(
        os.path.getmtime(os.path.join(d, f)) >= t
        for d, _, fs in os.walk(path)
        for f in fs
        if f.endswith(".parquet")
    )


def _counted(fn, calls, secs):
    """Wrap the user map with accumulators: calls and seconds inside it."""

    def counted(meta, doc):
        t0 = time.perf_counter()
        try:
            return fn(meta, doc)
        finally:
            calls.add(1)
            secs.add(time.perf_counter() - t0)

    return counted
