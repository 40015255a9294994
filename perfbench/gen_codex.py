"""Seeded generator for a CODEX input bundle.

Produces the shape the CODEX pipeline consumes: a ``data/`` directory with
one sub-directory per leaf dataset, ancestor directories holding
``antibodies.tsv``, and a ``uuids.tsv`` catalog. Every dataset has

  * an expression CSV header with shared, private, ``blank`` and
    ``Channel:N:N`` channels and a synonym-variant header (``E-CAD`` /
    ``eCAD``, which both canonicalise to ``eCAD``);
  * a real HDF5 expression payload written with ``sources.minihdf5`` in
    one of the two key layouts the pipeline probes (alternating, so
    both are always present);
  * cell centres, and a Matrix Market adjacency graph whose row/column
    labels include labels absent from the cells, so those edges must drop.

The seed fixes every value (expression, coordinates, edge weights, the
extra random edges, donor ages and which layout even datasets use); the
shape, and so the expected counts in ``Bundle``, depend only on the sizes.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np

N_SHARED = 30  # canonical shared channels, including the synonym pair
N_PRIVATE = 8  # channels only one dataset carries
N_ANCESTORS = 2
BOGUS_LABELS = 5  # adjacency labels absent from the cells


@dataclass(frozen=True)
class Bundle:
    data_dir: str
    catalog: str
    datasets: list[str]
    cells: int  # cells per dataset
    extra_edges: int  # random non-chain edges per dataset

    def expected(self, datasets: list[str]) -> dict[str, int]:
        """Product table counts for a product over ``datasets``."""
        d = len(datasets)
        return {
            "obs": d * self.cells,
            "var": N_SHARED + d * N_PRIVATE,
            "x_long": d * self.cells * (N_SHARED + N_PRIVATE),
            "edges": d * (self.cells - 1 + self.extra_edges),
            # every kept channel has exactly one antibodies.tsv row
            "varm_long": d * (N_SHARED + N_PRIVATE),
        }

    def antibodies(self, dataset: str) -> str:
        """The antibodies.tsv of ``dataset``'s ancestor."""
        ancestor = _ancestor_uuid(self.datasets.index(dataset) % N_ANCESTORS)
        return os.path.join(self.data_dir, ancestor, "foo-antibodies.tsv")


def dataset_uuid(i: int) -> str:
    return f"{i:032x}"


def _ancestor_uuid(i: int) -> str:
    return f"a{i:031x}"


def _channels(ds: int) -> list[str]:
    shared = ["E-CAD" if ds % 2 else "eCAD"] + [
        f"SH{j:02d}" for j in range(1, N_SHARED)
    ]
    private = [f"PRIV{ds}_{j}" for j in range(N_PRIVATE)]
    return shared + private + ["blank3", "Channel:1:5"]


def _write_dataset(
    base: str, ds: int, layout: int, n_cells: int, extra: int, rng
) -> None:
    from codex_data_products_spark.sources import minihdf5

    prefix = (
        "reg1_stitched_expressions.ome.tiff" if layout == 0
        else "reg001_expr.ome.tiff"
    )
    chans = _channels(ds)
    ids = np.arange(1, n_cells + 1)

    # the pipeline reads only the CSV header; one row keeps it well-formed
    with open(f"{base}/{prefix}-cell_channel_total.csv", "w") as f:
        f.write("ID," + ",".join(chans) + "\n")
        f.write("1," + ",".join(["0.0"] * len(chans)) + "\n")

    xs = rng.uniform(0, 1000, n_cells).round(2)
    ys = rng.uniform(0, 1000, n_cells).round(2)
    with open(f"{base}/{prefix}-cell_centers.csv", "w") as f:
        f.write("ID,x,y\n")
        f.writelines(f"{i},{x},{y}\n" for i, x, y in zip(ids, xs, ys))

    # a chain over every cell, ``extra`` random chords (distinct sources,
    # targets at least two cells on, so no edge repeats), and
    # BOGUS_LABELS edges from labels that are not cells
    src = rng.choice(np.arange(1, n_cells - 1), extra, replace=False)
    dst = np.minimum(src + rng.integers(2, 50, extra), n_cells)
    n_lab = n_cells + BOGUS_LABELS
    nnz = (n_cells - 1) + extra + BOGUS_LABELS
    weights = rng.uniform(0.1, 1.0, n_cells - 1 + extra).round(3)
    with open(f"{base}/{prefix}_AdjacencyMatrix.mtx", "w") as f:
        f.write(
            "%%MatrixMarket matrix coordinate real symmetric\n"
            f"{n_lab} {n_lab} {nnz}\n"
        )
        f.writelines(f"{i} {i + 1} {weights[i - 1]}\n" for i in range(1, n_cells))
        f.writelines(
            f"{s} {d} {w}\n"
            for s, d, w in zip(src, dst, weights[n_cells - 1:])
        )
        f.writelines(f"{n_cells + j + 1} 1 9.9\n" for j in range(BOGUS_LABELS))
    with open(f"{base}/{prefix}_AdjacencyMatrixRowColLabels.txt", "w") as f:
        f.writelines(f"{i}\n" for i in ids)
        f.writelines(f"bogus{j}\n" for j in range(BOGUS_LABELS))

    total = rng.uniform(0.0, 100.0, (n_cells, len(chans))).round(3)
    mean = (total / 100.0).round(5)
    key = (
        "/total/channel/cell/expressions.ome.tiff/stitched/reg1" if layout == 0
        else "/total/channel/cell/expr.ome.tiff/reg001"
    )
    mean_key = key.replace("/total/", "/meanAll/")
    payload = minihdf5.write({
        f"{key}/axis1": ids,
        f"{key}/block0_values": total,
        f"{mean_key}/axis1": ids,
        f"{mean_key}/block0_values": mean,
    })
    with open(f"{base}/out.hdf5", "wb") as f:
        f.write(payload)


def generate(out: str, n_datasets: int, n_cells: int, seed: int) -> Bundle:
    """Write the bundle under ``out`` (which must not exist yet)."""
    rng = np.random.default_rng(seed)
    data = os.path.join(out, "data")
    os.makedirs(data)
    extra = n_cells // 10
    flip = int(rng.integers(0, 2))
    catalog = [
        "\tuuid\thubmap_id\timmediate_ancestor_ids\timmediate_descendant_ids"
        "\tage\tsex\theight\tweight\tbmi\tcause_of_death\trace"
    ]
    for ds in range(n_datasets):
        uuid = dataset_uuid(ds)
        os.makedirs(os.path.join(data, uuid))
        _write_dataset(
            os.path.join(data, uuid), ds, (ds + flip) % 2, n_cells, extra, rng
        )
        age = int(rng.integers(20, 80))
        catalog.append(
            f"{ds}\t{uuid}\tHBM{ds:03d}\t{_ancestor_uuid(ds % N_ANCESTORS)}"
            f"\t\t{age}\t{'M' if ds % 2 else 'F'}\t170\t70\t24.0\t\tUnknown"
        )

    # ancestors' antibodies.tsv: Anti-/antibody affixes to strip, the
    # synonym pair, and every private channel of the ancestor's datasets
    for a in range(N_ANCESTORS):
        anc = _ancestor_uuid(a)
        os.makedirs(os.path.join(data, anc))
        rows = [
            "antibody_name\tuniprot_accession_number\trr_id\tchannel_id",
            "Anti-E-CAD antibody\tP12830\tAB_ECAD\tch_ecad",
        ]
        rows += [
            f"Anti-SH{j:02d} antibody\tPSH{j:03d}\tAB_S{j}\tch_s{j}"
            for j in range(1, N_SHARED)
        ]
        rows += [
            f"PRIV{ds}_{j} antibody\tPP{ds}_{j}\tAB_P{ds}_{j}\tch_p{ds}_{j}"
            for ds in range(a, n_datasets, N_ANCESTORS)
            for j in range(N_PRIVATE)
        ]
        with open(f"{data}/{anc}/foo-antibodies.tsv", "w") as f:
            f.write("\n".join(rows) + "\n")
        descendants = [dataset_uuid(d) for d in range(a, n_datasets, N_ANCESTORS)]
        catalog.append(
            f"{n_datasets + a}\t{anc}\tHBMA{a:02d}\t\t{descendants}\t\t\t\t\t\t\t"
        )

    path = os.path.join(out, "uuids.tsv")
    with open(path, "w") as f:
        f.write("\n".join(catalog) + "\n")
    return Bundle(
        data_dir=data,
        catalog=path,
        datasets=[dataset_uuid(d) for d in range(n_datasets)],
        cells=n_cells,
        extra_edges=extra,
    )
