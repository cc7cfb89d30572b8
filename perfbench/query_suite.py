"""Workload ``query_suite``: registry queries built and forced.

Seeded tables with the engine's test-data schema are generated in the run's
work directory. A warm-up pass builds each query, collects its rows and
compares them with DuckDB running the registry's oracle SQL (normalised as
the parity harness does), then records the query's forced checksum
(``oracle_harness.spark_forced_expr``). Timed passes then build and force
every query again, caches cleared between queries, and require the same
checksum.

One operation is one query: plan construction (including the eager jobs it
launches) plus the forced aggregate.

Workload ``query_suite`` (gated) runs ``GATED``, a few cheap bench queries
that reach the relational operators and the text and similarity functions
through three plans modules. Workload ``query_suite_all`` runs every registry
query flagged ``bench=True`` (26 today, from ten plans modules); a run takes
about 100 s on a 4-core box, too long for the gated set of runs, so run it
by hand: untraced for its end-to-end figures, traced for the per-module
layer profile.
"""

from __future__ import annotations

import time

from perfbench import checks, inputs
from perfbench.harness import median

#: whole passes per run at least: the median of 15 operations lies inside one
#: query's three timings, not between two queries
MIN_PASSES = 3
#: the gated subset, from plans.relational, plans.subqueries and plans.llm
GATED = (
    "pricing_summary",
    "shipping_priority",
    "large_volume_customers",
    "text_token_stats",
    "similarity_topk_cosine",
)


def run(ctx) -> None:
    import duckdb

    from mapreduceindex_demo_spark.oracle_harness import spark_forced_expr
    from mapreduceindex_demo_spark.plans import QUERIES
    from mapreduceindex_demo_spark.session import TABLE_NAMES

    spark, rec, work = ctx.spark, ctx.rec, ctx.work
    queries = [q for q in QUERIES.values() if q.bench]
    if ctx.workload == "query_suite":
        queries = [q for q in queries if q.name in GATED]
    sf_dir = str(work / "tables")
    with rec.span("generate", kind="inputs"):
        rows = inputs.suite_tables(ctx.seed, work / "tables")
        ctx.extras["table_rows"] = rows

    con = duckdb.connect()
    con.execute(f"SET temp_directory='{work / 'tmp' / 'duckdb'}'")
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    reference: dict[str, object] = {}
    with rec.span("warmup", kind="warmup"):
        for q in queries:
            ctx.attempted += 1
            try:
                with rec.span(q.name, kind="warm", group=f"{q.name}:warmup"):
                    df = q.fn(spark, sf_dir)
                    cols = df.columns
                    collected = df.collect()
                    # the forced checksum of exactly the rows checked below
                    reference[q.name] = (
                        spark.createDataFrame(collected, df.schema)
                        .selectExpr(spark_forced_expr(cols))
                        .collect()[0][0]
                    )
                got = [tuple(r) for r in collected]
                res = con.execute(q.oracle)
                ctx.check(
                    f"{q.name} vs oracle",
                    checks.check_oracle(
                        cols, got, [d[0] for d in res.description], res.fetchall()
                    ),
                )
            except Exception as e:  # noqa: BLE001 - a failed op is counted
                ctx.fail(f"{q.name} warm-up", e)
            spark.catalog.clearCache()
    con.close()

    ctx.setup_done()
    t0 = time.perf_counter()
    passes = 0
    while passes < MIN_PASSES or time.perf_counter() - t0 < ctx.seconds:
        for q in queries:
            ctx.attempted += 1
            try:
                with rec.span(q.name, kind="op"):
                    with rec.span(q.name, kind="build", group=f"{q.name}:build"):
                        df = q.fn(spark, sf_dir)
                    with rec.span(q.name, kind="action", group=f"{q.name}:action"):
                        checksum = df.selectExpr(spark_forced_expr(df.columns)).collect()[0][0]
                ctx.check(
                    f"{q.name} checksum",
                    checks.check_checksum(reference.get(q.name), checksum),
                )
            except Exception as e:  # noqa: BLE001
                ctx.fail(q.name, e)
            spark.catalog.clearCache()
            ctx.reference()
        passes += 1

    ops = rec.times("op")
    ctx.ops = {q.name: rec.times("op", q.name) for q in queries}
    ctx.items = len(ops)
    ctx.busy_s = sum(ops)
    per_query = {q.name: median(rec.times("op", q.name)) for q in queries if rec.times("op", q.name)}
    ctx.extras.update(
        {
            "suite_pass_s": sum(per_query.values()),
            "passes": passes,
            **{f"query.{n}.s": s for n, s in per_query.items()},
        }
    )
    ctx.final_check(
        "every query timed", [] if len(per_query) == len(queries) else ["a query never completed"]
    )
    # the suite's own composite keys: (priority, order key, total price)
    import pyarrow.parquet as pq

    orders = pq.read_table(f"{sf_dir}/orders.parquet").slice(0, 2000).to_pylist()
    ctx.sample_keys = [[o["o_orderpriority"], o["o_orderkey"], o["o_totalprice"]] for o in orders]
    if ctx.trace:
        mods: dict[str, list[str]] = {}
        for q in queries:
            mods.setdefault(q.fn.__module__.rsplit(".", 1)[-1], []).append(q.name)
        for mod, names in sorted(mods.items()):
            ctx.detail[f"plans.{mod}.build_s"] = sum(median(rec.times("build", n)) for n in names)
            ctx.detail[f"plans.{mod}.action_s"] = sum(median(rec.times("action", n)) for n in names)
        ctx.detail_spans = {mod: [s for s in rec.of("op") if s["name"] in names] for mod, names in mods.items()}
