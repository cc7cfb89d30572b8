"""Workload ``index_serve``: the read side of the map-index with collation.

A collated expression index is built in memory over seeded items whose
leading key part is a JSON value of every collation type, and a reduce view
(count and sum of the measure per group) sits on it. One client runs a
closed loop of reads: point lookups, keyset-paginated range pages,
``stats`` and ``serve_aggregate``. After every round of reads one small CDC
batch is committed with ``apply_changes`` + ``checkpoint_state``.

One operation is one read. Every timed read is checked against a pandas model of
the index that is kept in step with every write, using the benchmark's own
key comparator.
"""

from __future__ import annotations

import random
import time

from perfbench import checks, inputs
from perfbench.harness import median, percentile

N_ITEMS = 10_000
PAGE = 50
WRITE_SIZE = 20
#: one round: these reads in this order, then one write
READS = ("point", "page", "point", "stats", "point", "page", "point", "aggregate", "point")
ROUND = READS * 2
#: a reference job after every this many reads (machine-speed normalisation)
REFERENCE_EVERY = 3
MIN_ROUNDS = 2
COLS = ["key_0", "key_1", "key_2", "doc_id"]


def run(ctx) -> None:
    from mapreduceindex_demo_spark.catalog import IndexDefn
    from mapreduceindex_demo_spark.collation import MISSING
    from mapreduceindex_demo_spark.mapindex import INCL_HIGH, MapIndexEngine

    spark, rec = ctx.spark, ctx.rec
    with rec.span("generate", kind="inputs"):
        items = inputs.serve_items(ctx.seed, N_ITEMS)
        model = checks.ServeModel(items)
        src = spark.createDataFrame(items, inputs.SERVE_SCHEMA).drop("op", "seq")
        rng = random.Random(f"reads-{ctx.seed}")

    name, view = "idx_items", "v_grp"
    eng = MapIndexEngine(spark)

    def engine_value(part):
        return MISSING if part is checks.MISSING else part

    anchors = set(range(N_ITEMS, N_ITEMS + len(inputs.SERVE_ANCHORS)))
    state = {"cursor": None, "writes": 0, "next_id": N_ITEMS + len(anchors)}

    def read(kind: str, timed: bool) -> None:
        span_kind = "op" if timed else "warm"
        # warm-up reads are not operations: neither attempted nor failed
        check = ctx.check if timed else (lambda what, problems: None)
        if kind == "point":
            k0 = rng.choice(model.sorted_entries())[1][0]
            value = checks.key_part(k0)
            with rec.span(kind, kind=span_kind, group=kind):
                rows = eng.scan(
                    name, low=[engine_value(value)], high=[engine_value(value)],
                    projection=COLS,
                ).collect()
            got = [tuple(r) for r in rows]
            check(f"point {k0}", checks.check_ordered(model.point(value), got, True))
        elif kind == "page":
            cur = state["cursor"]
            low = None if cur is None else [engine_value(checks.key_part(x)) for x in cur[:2]] + [cur[2]]
            with rec.span(kind, kind=span_kind, group=kind):
                rows = eng.scan(
                    name, low=low, inclusion=INCL_HIGH, limit=PAGE, projection=COLS
                ).collect()
            got = [tuple(r) for r in rows]
            ckey = None if cur is None else checks.entry_key(*cur[:3])
            check("page", checks.check_ordered(model.page_after(ckey, PAGE), got, False))
            state["cursor"] = got[-1] if len(got) == PAGE else None
        elif kind == "stats":
            with rec.span(kind, kind=span_kind, group=kind):
                row = eng.stats(name).collect()[0]
            check("stats", checks.check_stats(model.stats(), row.asDict()))
        else:
            with rec.span(kind, kind=span_kind, group=kind) as sp:
                frame, served = eng.serve_aggregate(name, ["key_1"], sum_col="key_2")
                rows = frame.collect()
            sp["served_from_view"] = served
            got = {r["key_1"]: (int(r["cnt"]), int(r["total"])) for r in rows}
            check("aggregate", checks.check_aggregate(model.aggregate(), got))

    def write(timed: bool) -> None:
        live = [d for d in model.live_ids() if d not in anchors]
        rows = inputs.serve_write(ctx.seed, state["writes"], live, state["next_id"], WRITE_SIZE)
        state["writes"] += 1
        state["next_id"] += WRITE_SIZE
        changes = spark.createDataFrame(rows, inputs.SERVE_SCHEMA)
        kind = "write" if timed else "warm"
        with rec.span("write", kind=kind, group="write"):
            with rec.span("apply_changes", kind="apply"):
                eng.apply_changes(name, changes, doc_id_col="doc_id", op_col="op", seq_col="seq")
            with rec.span("checkpoint_state", kind="commit"):
                eng.checkpoint_state(name)
        model.apply(rows)

    with rec.span("warmup", kind="warmup"):
        eng.create_index(
            IndexDefn(
                name=name,
                bucket="items",
                sec_exprs=("k0", "grp", "amt"),
                use_collation=True,
            ),
            src,
            doc_id_col="doc_id",
        )
        eng.checkpoint_state(name)
        eng.create_reduce_view(view, name, ["key_1"], sum_col="key_2")
        eng.checkpoint_state(name)
        for kind in READS:  # every kind of read and a write, once or more
            read(kind, timed=False)
        write(timed=False)

    ctx.setup_done()
    t0 = time.perf_counter()
    rounds = 0
    while rounds < MIN_ROUNDS or time.perf_counter() - t0 < ctx.seconds:
        for i, kind in enumerate(ROUND):
            ctx.attempted += 1
            try:
                read(kind, timed=True)
            except Exception as e:  # noqa: BLE001 - a failed op is counted
                ctx.fail(kind, e)
            if i % REFERENCE_EVERY == REFERENCE_EVERY - 1:
                ctx.reference()
        ctx.attempted += 1
        try:
            write(timed=True)
        except Exception as e:  # noqa: BLE001
            ctx.fail("write", e)
        rounds += 1

    # -- correctness: the whole index, in order, against the model ---------
    full = [tuple(r) for r in eng.scan(name, projection=COLS).collect()]
    ctx.final_check("full ordered scan", checks.check_ordered(model.sorted_entries(), full, True))

    reads = rec.times("op")
    writes = rec.times("write")
    ctx.ops = {k: rec.times("op", k) for k in sorted(set(READS))}
    ctx.items = len(reads)
    ctx.busy_s = sum(reads) + sum(writes)
    ctx.extras.update(
        {
            "read_ms_p50": median(reads) * 1000,
            "read_ms_p95": percentile(reads, 95) * 1000,
            "write_ms_p50": median(writes) * 1000,
            "reads_timed": len(reads),
            "writes_timed": len(writes),
        }
    )
    ctx.sample_keys = [
        [checks.key_part(k0) if k0 is not None else None, g, a]
        for (_, (k0, g, a, _d)) in model.sorted_entries()[:: max(1, N_ITEMS // 2000)]
    ]
    if ctx.trace:
        for kind in sorted(set(ROUND)):
            ctx.detail[f"mapindex.{kind}_ms_p50"] = median(rec.times("op", kind)) * 1000
        aggs = rec.of("op", "aggregate")
        ctx.detail["mapindex.view_served"] = f"{sum(s.get('served_from_view', False) for s in aggs)}/{len(aggs)}"
        ctx.detail["mapindex.apply_ms_p50"] = median(rec.times("apply")[-len(writes):]) * 1000
        ctx.detail["mapindex.commit_ms_p50"] = median(rec.times("commit")[-len(writes):]) * 1000
