"""Canned benchmark/test datasets, mirroring ``cugraph.datasets``.

Reference: datasets/dataset.py:78 (``Dataset`` with ``get_edgelist(
download=False)`` / ``get_graph(download=False, create_using=Graph,
ignore_weights=False)`` / ``get_path()`` / ``unload()``), metadata YAMLs
under datasets/metadata/*.yaml (col names/types, directedness, counts,
download url).

Spark adaptation: ``get_edgelist``/``get_graph`` take the SparkSession
first (no ambient GPU context exists). Zachary's karate club — the
dataset every reference example uses — ships inline (public-domain data,
Zachary 1977); the other datasets carry their metadata and load from
``set_download_dir()``/``CUGRAPH_SPARK_DATASET_DIR`` if the CSV is
already present. Network download is intentionally not implemented —
this environment is offline; ``download=True`` raises with instructions.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from ..plans import iterloop

_DOWNLOAD_DIR: str | None = None

# Zachary karate club (public domain; 78 undirected pairs, 34 vertices).
_KARATE_PAIRS = [
    (1, 2), (1, 3), (2, 3), (1, 4), (2, 4), (3, 4), (1, 5), (1, 6), (1, 7),
    (5, 7), (6, 7), (1, 8), (2, 8), (3, 8), (4, 8), (1, 9), (3, 9), (3, 10),
    (1, 11), (5, 11), (6, 11), (1, 12), (1, 13), (4, 13), (1, 14), (2, 14),
    (3, 14), (4, 14), (6, 17), (7, 17), (1, 18), (2, 18), (1, 20), (2, 20),
    (1, 22), (2, 22), (24, 26), (25, 26), (3, 28), (24, 28), (25, 28),
    (3, 29), (24, 30), (27, 30), (2, 31), (9, 31), (1, 32), (25, 32),
    (26, 32), (29, 32), (3, 33), (9, 33), (15, 33), (16, 33), (19, 33),
    (21, 33), (23, 33), (24, 33), (30, 33), (31, 33), (32, 33), (9, 34),
    (10, 34), (14, 34), (15, 34), (16, 34), (19, 34), (20, 34), (21, 34),
    (23, 34), (24, 34), (27, 34), (28, 34), (29, 34), (30, 34), (31, 34),
    (32, 34), (33, 34),
]


def set_download_dir(path: str) -> None:
    """Where ``get_edgelist`` looks for already-downloaded CSVs
    (reference: datasets/dataset.py set_download_dir)."""
    global _DOWNLOAD_DIR
    _DOWNLOAD_DIR = str(path)


def get_download_dir() -> str:
    return _DOWNLOAD_DIR or os.environ.get(
        "CUGRAPH_SPARK_DATASET_DIR", os.path.expanduser("~/.cugraph_spark/datasets")
    )


@dataclass
class Dataset:
    """One canned dataset: metadata + loaders (datasets/dataset.py:78)."""

    name: str
    col_names: tuple
    is_directed: bool
    number_of_nodes: int
    number_of_edges: int
    url: str
    delim: str = " "
    inline_rows: list | None = field(default=None, repr=False)

    def get_path(self) -> str:
        return os.path.join(get_download_dir(), f"{self.name}.csv")

    def get_edgelist(self, spark: SparkSession, download: bool = False) -> DataFrame:
        """Edge list as a DataFrame with the metadata's column names."""
        if self.inline_rows is not None:
            rows = [
                r + ((1.0,) if len(self.col_names) == 3 else ())
                for r in self.inline_rows
            ]
            types = ("long", "long", "double")
            return iterloop.local_table(
                spark, rows, ", ".join(f"{c} {t}" for c, t in zip(self.col_names, types))
            )
        path = self.get_path()
        if os.path.exists(path):
            return (
                spark.read.option("sep", self.delim)
                .csv(path)
                .toDF(*self.col_names)
            )
        if download:
            raise NotImplementedError(
                f"offline environment: place {self.name}.csv (from {self.url}) "
                f"in {get_download_dir()} or set_download_dir() first"
            )
        raise RuntimeError(
            f"dataset {self.name!r} not found at {path}; pass download=True "
            "after fetching it, or set_download_dir()"
        )

    def get_graph(
        self,
        spark: SparkSession,
        download: bool = False,
        create_using=None,
        ignore_weights: bool = False,
    ):
        """Build a Graph (undirected by default, like the reference —
        dataset.py:267 builds ``Graph(directed=False)`` unless
        ``create_using`` overrides)."""
        from ..structure.graph import Graph

        el = self.get_edgelist(spark, download=download)
        if create_using is None:
            g = Graph(directed=False)
        elif isinstance(create_using, Graph):
            g = create_using
        else:
            g = create_using()
        weight = None
        if len(self.col_names) >= 3 and not ignore_weights:
            weight = self.col_names[2]
        g.from_edgelist(
            el, source=self.col_names[0], destination=self.col_names[1], weight=weight
        )
        return g

    def unload(self) -> None:  # parity no-op: Spark frames are lazy
        return None


karate = Dataset(
    name="karate",
    col_names=("src", "dst", "wgt"),
    is_directed=False,
    number_of_nodes=34,
    number_of_edges=156,
    url="https://data.rapids.ai/cugraph/datasets/karate.csv",
    inline_rows=_KARATE_PAIRS + [(b, a) for a, b in _KARATE_PAIRS],
)

dolphins = Dataset(
    name="dolphins",
    col_names=("src", "dst", "wgt"),
    is_directed=False,
    number_of_nodes=62,
    number_of_edges=318,
    url="https://data.rapids.ai/cugraph/datasets/dolphins.csv",
)

polbooks = Dataset(
    name="polbooks",
    col_names=("src", "dst", "wgt"),
    is_directed=False,
    number_of_nodes=105,
    number_of_edges=882,
    url="https://data.rapids.ai/cugraph/datasets/polbooks.csv",
)

netscience = Dataset(
    name="netscience",
    col_names=("src", "dst", "wgt"),
    is_directed=False,
    number_of_nodes=1589,
    number_of_edges=5484,
    url="https://data.rapids.ai/cugraph/datasets/netscience.csv",
)

email_Eu_core = Dataset(
    name="email_Eu_core",
    col_names=("src", "dst", "wgt"),
    is_directed=True,
    number_of_nodes=1005,
    number_of_edges=25571,
    url="https://data.rapids.ai/cugraph/datasets/email_Eu_core.csv",
)

__all__ = [
    "Dataset",
    "set_download_dir",
    "get_download_dir",
    "karate",
    "dolphins",
    "polbooks",
    "netscience",
    "email_Eu_core",
]
