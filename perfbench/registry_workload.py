"""``registry_sf0.1``: registered queries over seeded sf0.1 tables.

The query list is pinned here, one query from each of six query modules,
so a change to the registry cannot change what is measured. Every query
is forced end to end through the ``noop`` sink; each cycle runs the whole
list in an order the seed shuffles. These are small, overhead-bound queries that exercise
``queries.*`` and the ``operators.*`` they call and touch no CODEX layer,
so this workload is the control for CODEX-side changes.

Set-up generates the tables (``gen_tables.py``, sf0.1: 600k lineitem
rows) and runs every query once to check its result against the DuckDB
oracle (``oracle.fingerprint_compare``; queries without an oracle must
return rows). That pass is also the discarded warm-up; a query whose
check failed counts as failed on every timed run.
"""

from __future__ import annotations

import os
import time

import gen_tables

SF = 0.1

# query -> the module that registers it, at the time the list was pinned
QUERIES = {
    "q3_shipping_priority": "relational",
    "events_rolling_wau": "events",
    "knn_ivf": "similarity",
    "window_rank": "windows",
    "text_fingerprint": "text",
    "fuzzy_join_symdel": "joins",
}


def run(ctx) -> dict:
    from codex_data_products_spark import oracle, registry

    registry.load_all()
    spark, tr, rng = ctx.spark, ctx.tracer, ctx.rng
    sf_dir = os.path.join(ctx.work, "sf0.1")
    gen_tables.generate(sf_dir, SF, ctx.seed)

    def check(name: str) -> list[str]:
        df = registry.QUERIES[name](spark, sf_dir)
        sql = registry.ORACLES.get(name)
        if sql is None:
            return [] if df.count() > 0 else ["no rows"]
        try:
            return oracle.fingerprint_compare(df, sql, sf_dir)
        except ValueError:  # result types the digest cannot canonicalise
            return oracle.compare_frames(df.toPandas(), oracle.run_oracle(sql, sf_dir))

    t = time.perf_counter()
    problems = {}
    for name in QUERIES:
        problems[name] = check(name)
        spark.catalog.clearCache()

    def cycle(n: int) -> None:
        for name in map(str, rng.permutation(list(QUERIES))):
            with ctx.op(name) as op:
                with op.timing(), tr.span(f"queries.{QUERIES[name]}", key=name):
                    registry.QUERIES[name](spark, sf_dir).write.format(
                        "noop"
                    ).mode("overwrite").save()
                # some queries cache corpus-scale frames for their own use
                spark.catalog.clearCache()
                if problems[name]:
                    op.fail(f"{name}: {'; '.join(problems[name])}")

    info = {"check_s": time.perf_counter() - t}
    # five passes, so each query's median shrugs off a slow pass or two
    ctx.measure(cycle, min_cycles=5)
    return {"problems": [], "info": info, "reads": set(QUERIES)}
