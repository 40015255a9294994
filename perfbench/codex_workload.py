"""``codex_maintain``: the CODEX data product built once, then maintained.

Set-up generates a seeded bundle of ``DATASETS`` datasets and bootstraps a
committed, maintained product over ``BASE`` of them with the full build
(``build_product`` then ``bootstrap_product_maintenance``); that cold
build is the workload's discarded warm-up pass. Each measured cycle then
runs, in this order,

  add one dataset -> reads -> remove one -> reads -> metadata refresh ->
  reads -> export the committed product to h5mu,

where "reads" are two rounds of a dataset-pruned ``x_long`` read, a full
``obs`` read and a time-travel ``obs`` read of the previous version, each
forced in full through the ``noop`` sink. The seed picks which dataset each step
touches; every dataset has the same size, so a cycle does the same amount
of work on every seed.

Checks, all outside the timed calls: the manifest cell count after every
batch, the exported ``X`` shape, and at the end the row count of every
product table against the counts the generator implies for the surviving
datasets (which a from-scratch build must produce), no edge endpoint
missing from ``obs``, and the manifest cell count. The traced run also
builds the product from scratch and compares every table count.

The traced run also probes the source layers once per file an op reads
(the decode is forced on its own), splits retention out of every batch,
splits the export into the wide pivot and the rest, and runs that final
from-scratch build as separate plan / state / write calls between two
untraced ``build_product`` + ``write_product`` builds: the three spans are
held against the plain build they make up, and the difference is the
tracing overhead.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import functions as F

import gen_codex

# Small, so that a run takes about a minute: on 4 cores a Spark job costs
# ~140 ms, a build is ~170 jobs and each base dataset adds ~9 s to the
# bootstrap, while an add costs the same at 1 or 4 base datasets.
DATASETS = 3
BASE = 1
CELLS = 2000
TABLES = ("x_long", "obs", "var", "varm_long", "edges")
READS = ("read_x_pruned", "read_obs", "read_obs_previous")
READ_ROUNDS = 2  # rounds of the three reads after every batch


class Mismatch(Exception):
    pass


def _files(root: str) -> dict[str, int]:
    out = {}
    for dp, _, fns in os.walk(root):
        for fn in fns:
            p = os.path.join(dp, fn)
            out[p] = os.path.getsize(p)
    return out


def run(ctx) -> dict:
    from codex_data_products_spark.plans import codex_pipeline as cp
    from codex_data_products_spark.functions.antibodies import (
        canonical_channel_py,
        standardized_antibody_name,
    )
    from codex_data_products_spark.sources import minihdf5
    from codex_data_products_spark.sources.antibodies_tsv import read_antibodies
    from codex_data_products_spark.sources.expression_csv import (
        read_centers,
        read_channel_names,
    )
    from codex_data_products_spark.sources.hdf5 import read_hdf5_expression
    from codex_data_products_spark.sources.labels import read_labels
    from codex_data_products_spark.sources.matrix_market import read_matrix_market
    from codex_data_products_spark.streaming import product_ivm

    spark, tr, rng = ctx.spark, ctx.tracer, ctx.rng
    bundle = gen_codex.generate(
        os.path.join(ctx.work, "bundle"), DATASETS, CELLS, ctx.seed
    )
    data, cat = bundle.data_dir, bundle.catalog
    out = os.path.join(ctx.work, "product")
    uuid = f"bench-{ctx.seed}"
    inside = sorted(rng.choice(bundle.datasets, BASE, replace=False).tolist())
    t = time.perf_counter()
    base = cp.build_product(
        spark, data, cat, tissue="Spleen", product_uuid=uuid,
        creation_time="2026-01-01 00:00:00", only_datasets=inside,
    )
    manifest = product_ivm.bootstrap_product_maintenance(base, out)
    if manifest["Total Cell Count"] != CELLS * BASE:
        raise Mismatch(f"bootstrap committed {manifest['Total Cell Count']} cells")
    info = {"bootstrap_s": time.perf_counter() - t}
    batch = 0

    def noop(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    def probe_sources(ds: str) -> None:
        """Traced run only: each source reader of one dataset, forced on
        its own (the build reads the same files inside its plans)."""
        files = cp.discover_dataset_files(data, ds)
        with tr.span("sources.hdf5.decode") as s:
            s["values"]["rows"] = read_hdf5_expression(spark, files["hdf5"]).count()
        antibodies = bundle.antibodies(ds)
        with tr.span("sources.aux_read"):
            read_channel_names(files["expression_csv"])
            read_centers(spark, files["centers"]).count()
            read_matrix_market(spark, files["adjacency"]).count()
            read_labels(spark, files["labels"]).count()
            read_antibodies(spark, antibodies).count()
        with tr.span("functions.antibodies"):
            names = read_channel_names(files["expression_csv"])
            [canonical_channel_py(c) for c in names]
            raw = spark.read.options(sep="\t", header=True).csv(antibodies)
            noop(raw.select(standardized_antibody_name("antibody_name")))

    def check_cells(manifest: dict) -> None:
        if manifest["Total Cell Count"] != CELLS * len(inside):
            raise Mismatch(
                f"manifest has {manifest['Total Cell Count']} cells, "
                f"expected {CELLS * len(inside)}"
            )

    def batch_op(kind: str, call, **kw) -> dict:
        """One maintenance batch; the traced run commits without
        retention and expires snapshots as its own span. Returns the
        batch's span."""
        nonlocal batch
        traced = tr.enabled
        with ctx.op(kind) as op:
            with op.timing(), tr.span(f"streaming.product_ivm.{kind}") as s:
                manifest = call(
                    spark, out, data, cat, batch,
                    retain_snapshots=None if traced else 2, **kw,
                )
            if traced:
                with op.timing(), tr.span("streaming.product_ivm.expire"):
                    cp.expire_snapshots(out, keep_last=2)
            batch += 1
            check_cells(manifest)
        return s

    def reads() -> None:
        for _ in range(READ_ROUNDS):
            read_round(str(rng.choice(inside)))

    def read_round(ds: str) -> None:
        frames = {
            "read_x_pruned": lambda: cp.read_product_table(spark, out, "x_long")
            .filter(F.col("dataset") == ds),
            "read_obs": lambda: cp.read_product_table(spark, out, "obs"),
            "read_obs_previous": lambda: cp.read_product_table(
                spark, out, "obs", version=batch - 1
            ),
        }
        for kind in READS:
            with ctx.op(kind) as op:
                with op.timing(), tr.span("plans.codex_pipeline.read") as s:
                    df = frames[kind]()
                    noop(df)
                if tr.enabled:
                    s["values"]["read_files"] = len(df.inputFiles())

    def committed_product():
        tables = {t: cp.read_product_table(spark, out, t) for t in TABLES}
        return cp.CodexProduct(**tables, uns=cp.read_uns(out))

    def export(path: str) -> None:
        with ctx.op("export") as op:
            with op.timing(), tr.span("plans.codex_pipeline.export"):
                product = committed_product()
                cp.export_h5mu(product, path)
            if tr.enabled:
                # the pivot on its own; the rest of the export is the
                # export span less this one
                with tr.span("plans.codex_pipeline.wide_matrix"):
                    cp.wide_matrix(product).toPandas()
            with open(path, "rb") as f:
                shape = minihdf5.Reader(f.read()).dataset(f"/mod/{uuid}_raw/X").shape
            want = bundle.expected(inside)
            if tuple(shape) != (want["obs"], want["var"]):
                raise Mismatch(f"h5mu X shape {shape}, expected {want}")

    def cycle(n: int) -> None:
        added = str(rng.choice(sorted(set(bundle.datasets) - set(inside))))
        traced = tr.enabled
        if traced:
            probe_sources(added)
            before = _files(out)
        inside.append(added)
        span = batch_op("add", product_ivm.apply_product_delta, add=[added])
        if traced:
            marker = cp.read_commit_marker(out)
            added_bytes = sum(
                size for t in cp.PARTITIONED_TABLES
                for _, size in marker["files"][t][added]
            )
            written = sum(s for p, s in _files(out).items() if p not in before)
            span["values"]["bytes_written_per_added_byte"] = written / added_bytes
        reads()
        removed = str(rng.choice(inside))
        inside.remove(removed)
        batch_op("remove", product_ivm.apply_product_delta, remove=[removed])
        reads()
        batch_op(
            "refresh", product_ivm.apply_metadata_refresh,
            datasets=[str(rng.choice(inside))],
        )
        reads()
        export(os.path.join(ctx.work, f"export-{n}.h5mu"))

    ctx.measure(cycle, baseline=False)

    # -- end-of-run checks (untimed) ------------------------------------
    t_check = time.perf_counter()
    surviving = [u for u in bundle.datasets if u in set(inside)]
    counts = {t: cp.read_product_table(spark, out, t).count() for t in TABLES}
    want = bundle.expected(surviving)
    problems = [
        f"{t}: {counts[t]} rows, expected {n}"
        for t, n in want.items() if counts[t] != n
    ]
    obs = cp.read_product_table(spark, out, "obs").select("cell_id")
    edges = cp.read_product_table(spark, out, "edges")
    for end in ("src_cell_id", "dst_cell_id"):
        orphans = edges.join(
            obs.withColumnRenamed("cell_id", end), end, "left_anti"
        ).count()
        if orphans:
            problems.append(f"{orphans} edges with an orphan {end}")
    if cp.read_manifest(out)["Total Cell Count"] != want["obs"]:
        problems.append("manifest Total Cell Count differs from obs")

    if tr.enabled:
        # the from-scratch build over the surviving datasets, as three
        # traced calls between two plain builds: maintained and fresh
        # must agree, and the traced build's excess over the mean plain
        # build is the tracing overhead
        for ds in surviving:
            probe_sources(ds)
        build = dict(
            tissue="Spleen", product_uuid=uuid,
            creation_time="2026-01-01 00:00:00", only_datasets=surviving,
        )
        fresh_dir = os.path.join(ctx.work, "fresh")

        def plain_build(n: int) -> float:
            t = time.perf_counter()
            plain = cp.build_product(spark, data, cat, **build)
            cp.write_product(plain, os.path.join(ctx.work, f"fresh-plain-{n}"))
            return time.perf_counter() - t

        untraced = plain_build(0)
        t = time.perf_counter()
        with tr.span("plans.codex_pipeline.plan"):
            fresh = cp.build_product(spark, data, cat, **build)
        with tr.span("plans.codex_pipeline.state"):
            state = cp.derive_product_state(fresh)
            stats = cp.product_stats_from_state(
                state["ds_channels"], state["ds_stats"], fresh.varm_long
            )
        with tr.span("plans.codex_pipeline.write"):
            cp.write_product(fresh, fresh_dir, stats=stats)
        info["build_traced_s"] = time.perf_counter() - t
        info["build_untraced_s"] = (untraced + plain_build(1)) / 2
        ctx.overhead_pct = 100.0 * (
            info["build_traced_s"] / info["build_untraced_s"] - 1
        )
        for t in TABLES:
            n = cp.read_product_table(spark, fresh_dir, t).count()
            if n != counts[t]:
                problems.append(f"{t}: maintained {counts[t]} != from-scratch {n}")
    if problems:
        ctx.fail_ops({"add", "remove", "refresh"}, problems[0])

    info["check_s"] = time.perf_counter() - t_check
    info["state_bytes_per_cell"] = sum(_files(out).values()) / want["obs"]
    return {"problems": problems, "info": info, "reads": READS}
