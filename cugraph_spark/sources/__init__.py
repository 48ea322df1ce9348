"""Edge-list sources and graph sinks.

The reference has no file formats of its own — I/O is cuDF's
(``cudf.read_csv`` in every docstring/example, datasets/dataset.py:165;
MatrixMarket .mtx files read via numpy in testing/utils.py:173-177).
Here the same surface is Spark-native readers/writers, so every format
inherits Spark's distributed scan (splittable files, predicate pushdown,
column pruning for the columnar formats) and writes shard across
executors — the 100-TB path is the default.

Formats:

- ``read_edgelist`` / ``write_edgelist``: csv, parquet, json, orc.
- ``read_mtx``: MatrixMarket coordinate format (the reference's canned
  test graphs are .mtx); distributed line parse, 1-indexed ids mapped
  to 0-indexed, ``%`` comments and the dims header skipped.
- ``save_graph`` / ``load_graph``: parquet graph container (edges +
  vertex map + properties JSON) — round-trips a built Graph without
  re-renumbering/symmetrizing; optional Hive-bucketed edge sink so
  downstream src-keyed joins start co-located (zero build shuffle).
"""

from __future__ import annotations

import json
import os
from typing import Optional, Sequence, Union

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..constants import DST, SRC, WEIGHT
from ..plans import iterloop

_FORMATS = ("csv", "parquet", "json", "orc")


def read_edgelist(
    spark: SparkSession,
    path: str,
    fmt: str = "csv",
    source: str = "src",
    destination: str = "dst",
    weight: Optional[str] = None,
    delimiter: str = ",",
    header: bool = False,
    comment: str = "#",
    schema: Optional[str] = None,
) -> DataFrame:
    """Reads an edge list into a DataFrame with canonical ``src``/``dst``
    (and ``weight``) columns.

    csv without ``header``/``schema`` assumes ``src dst [weight]`` column
    order, mirroring the reference's ``read_csv_file``
    (testing/utils.py:212: names=["0","1","weight"]). For the columnar
    formats ``source``/``destination``/``weight`` name existing columns;
    selecting them up front keeps the scan pruned to 2-3 columns.
    """
    if fmt not in _FORMATS:
        raise ValueError(f"fmt must be one of {_FORMATS}, got {fmt!r}")
    if fmt == "csv":
        reader = (
            spark.read.option("sep", delimiter)
            .option("header", str(header).lower())
            .option("comment", comment)
        )
        if schema:
            df = reader.schema(schema).csv(path)
        else:
            df = reader.option("inferSchema", "true").csv(path)
        if not header and not schema:
            cols = df.columns
            names = [source, destination] + ([weight] if weight else [])
            if len(cols) < len(names):
                raise ValueError(
                    f"csv at {path} has {len(cols)} columns; need {len(names)}"
                )
            df = df.toDF(*names, *cols[len(names):])
    else:
        df = getattr(spark.read, fmt)(path)
    out = df.select(
        F.col(source).alias(SRC),
        F.col(destination).alias(DST),
        *([F.col(weight).cast("double").alias(WEIGHT)] if weight else []),
    )
    return out


def read_mtx(spark: SparkSession, path: str, zero_index: bool = True) -> DataFrame:
    """Reads a MatrixMarket coordinate file as (src, dst[, weight]).

    Distributed: ``spark.read.text`` splits the file across executors;
    ``%`` comment lines are filtered out and the single dims header row
    (the first non-comment line) is dropped by monotonic-id minimum —
    ids are monotone in file order across splits, so the min id among
    non-comment rows IS the header. 1-indexed vertex ids become
    0-indexed unless ``zero_index=False``.

    Reference parity: testing/utils.py:173-177 reads .mtx with
    np.genfromtxt(skip_header=True) on the driver; this version shards.
    """
    lines = (
        spark.read.text(path)
        .withColumn("_id", F.monotonically_increasing_id())
        .filter(~F.col("value").startswith("%"))
        .filter(F.length(F.trim("value")) > 0)
    )
    hdr = lines.agg(F.min("_id").alias("_m"))
    body = lines.join(F.broadcast(hdr), F.col("_id") != F.col("_m")).select(
        F.split(F.trim("value"), r"\s+").alias("_t")
    )
    off = 1 if zero_index else 0
    out = body.select(
        (F.col("_t")[0].cast("long") - off).alias(SRC),
        (F.col("_t")[1].cast("long") - off).alias(DST),
        F.get("_t", 2).cast("double").alias(WEIGHT),
    )
    # weight column only when the file actually has a third field
    if out.filter(F.col(WEIGHT).isNotNull()).limit(1).count() == 0:
        out = out.select(SRC, DST)
    return out


def write_edgelist(
    df_or_graph,
    path: str,
    fmt: str = "parquet",
    mode: str = "error",
    partition_by: Union[str, Sequence[str], None] = None,
) -> None:
    """Writes an edge list (DataFrame or Graph) to ``path``.

    ``partition_by`` adds hive-style directory partitioning — at scale,
    partition on a low-cardinality column (edge_type, date), never on
    src/dst (file-per-vertex explosion)."""
    from ..structure.graph import Graph

    df = df_or_graph.edges() if isinstance(df_or_graph, Graph) else df_or_graph
    w = df.write.mode(mode)
    if partition_by:
        cols = [partition_by] if isinstance(partition_by, str) else list(partition_by)
        w = w.partitionBy(*cols)
    getattr(w, fmt)(path) if fmt != "csv" else w.option("header", "true").csv(path)


def save_graph(G, path: str, mode: str = "error") -> None:
    """Parquet graph container: ``edges/`` (internal ids, post-symmetrize
    /dedup), ``vertices/`` (internal vertex set incl. isolated),
    ``vertex_map/`` (external->internal, when renumbering was non-trivial),
    ``properties/`` (one-line JSON). ``load_graph`` restores without
    re-running renumber/symmetrize — at 100 TB the build shuffle is paid
    once, not per session."""
    G.edgelist.write.mode(mode).parquet(os.path.join(path, "edges"))
    G.vertices_internal.write.mode(mode).parquet(os.path.join(path, "vertices"))
    nm = G._nm
    if nm.map_df is not None:
        nm.map_df.write.mode(mode).parquet(os.path.join(path, "vertex_map"))
    p = G.properties
    meta = {
        "directed": p.directed,
        "multi_edge": p.multi_edge,
        "renumbered": p.renumbered,
        "symmetrized": p.symmetrized,
        "weighted": bool(p.weighted),
        "node_count": p.node_count,
        "edge_count": p.edge_count,
        "store_transposed": p.store_transposed,
        "identity": nm.identity,
        "external_cols": list(nm.external_cols),
        "external_types": [t.simpleString() for t in nm.external_types],
    }
    spark = G.edgelist.sparkSession
    iterloop.local_table(spark, [(json.dumps(meta),)], "meta string").coalesce(1).write.mode(
        mode
    ).json(os.path.join(path, "properties"))


def load_graph(spark: SparkSession, path: str):
    """Restores a graph written by :func:`save_graph`."""
    from ..structure.graph import Graph

    meta = json.loads(
        spark.read.json(os.path.join(path, "properties")).first()["meta"]
    )
    vm_path = os.path.join(path, "vertex_map")
    vertex_map = None
    if not meta["identity"]:
        vertex_map = spark.read.parquet(vm_path)
    g = Graph(directed=meta["directed"])
    return g._restore(
        edges=spark.read.parquet(os.path.join(path, "edges")),
        vertices=spark.read.parquet(os.path.join(path, "vertices")),
        vertex_map=vertex_map,
        meta=meta,
    )


def save_graph_table(
    G, name: str, num_buckets: int = 0, mode: str = "error", path: Optional[str] = None
) -> None:
    """Bucketed-table graph sink: edges are written with
    ``bucketBy(num_buckets, src).sortBy(src, dst)`` so a reloaded graph
    is ALREADY hash-partitioned and sorted on src — ``load_graph_table``
    adopts it without the repartition shuffle ``load_graph`` pays, and
    every per-iteration sort-merge join on src reuses the on-disk
    layout. The 100-TB refinement of save_graph: build shuffle paid at
    write time, never again.

    ``name`` is a table-name prefix in the session catalog (Spark's
    bucketing metadata lives in the catalog, not the parquet footer —
    the reason this is a separate entry point from the path-based
    save_graph). ``num_buckets`` defaults to the cached edge partition
    count.

    ``path``: optional EXTERNAL location. Without it the tables live in
    the session's warehouse dir and (under the default in-memory
    catalog) their metadata dies with the session. With it each
    sub-table is written under ``path/<suffix>`` plus a ``_catalog.json``
    holding the schema DDL and bucket spec, so a FRESH session can adopt
    the same bucketed layout via :func:`register_graph_table` — the
    cross-process graph cache shape (build shuffle paid once, ever)."""
    spark = G.edgelist.sparkSession
    nb = num_buckets or G.edgelist.rdd.getNumPartitions()

    def _write(df, suffix, bucketed=False):
        w = df.write.mode(mode)
        if bucketed:
            w = w.bucketBy(nb, SRC).sortBy(SRC, DST)
        if path is not None:
            w = w.option("path", os.path.join(path, suffix))
        w.saveAsTable(f"{name}_{suffix}")
        return {
            "suffix": suffix,
            "ddl": df._jdf.schema().toDDL(),
            "buckets": nb if bucketed else 0,
        }

    tables = [_write(G.edgelist, "edges", bucketed=True)]
    tables.append(_write(G.vertices_internal, "vertices"))
    nm = G._nm
    if nm.map_df is not None:
        tables.append(_write(nm.map_df, "vertex_map"))
    p = G.properties
    meta = {
        "directed": p.directed,
        "multi_edge": p.multi_edge,
        "renumbered": p.renumbered,
        "symmetrized": p.symmetrized,
        "weighted": bool(p.weighted),
        "node_count": p.node_count,
        "edge_count": p.edge_count,
        "store_transposed": p.store_transposed,
        "identity": nm.identity,
        "external_cols": list(nm.external_cols),
        "external_types": [t.simpleString() for t in nm.external_types],
    }
    props = iterloop.local_table(spark, [(json.dumps(meta),)], "meta string")
    tables.append(_write(props, "properties"))
    if path is not None:
        # commit marker: written LAST so a crashed save is never adopted
        with open(os.path.join(path, "_catalog.json"), "w") as f:
            json.dump({"tables": tables}, f)


def register_graph_table(spark: SparkSession, name: str, path: str) -> bool:
    """Adopt the external tables written by ``save_graph_table(...,
    path=...)`` into THIS session's catalog (the default in-memory
    catalog forgets tables between processes; the files and their
    bucketed layout persist). Returns False when no committed save
    exists at ``path``. Spark re-derives bucket ids from the file names
    it wrote, so the re-registered edge table keeps the zero-shuffle
    src-join property."""
    cat = os.path.join(path, "_catalog.json")
    if not os.path.exists(cat):
        return False
    with open(cat) as f:
        tables = json.load(f)["tables"]
    for t in tables:
        tbl = f"{name}_{t['suffix']}"
        if spark.catalog.tableExists(tbl):
            continue
        bucket = (
            f"CLUSTERED BY ({SRC}) SORTED BY ({SRC}, {DST}) INTO {t['buckets']} BUCKETS "
            if t["buckets"]
            else ""
        )
        loc = os.path.join(os.path.abspath(path), t["suffix"])
        spark.sql(
            f"CREATE TABLE {tbl} ({t['ddl']}) USING parquet {bucket}LOCATION '{loc}'"
        )
    return True


def load_graph_table(spark: SparkSession, name: str):
    """Restores a graph written by :func:`save_graph_table`. The edge
    table's catalog bucketing spec makes src-keyed joins/aggregations
    shuffle-free from the first query — no load-time repartition."""
    from ..structure.graph import Graph

    meta = json.loads(spark.table(f"{name}_properties").first()["meta"])
    vertex_map = None
    if not meta["identity"]:
        vertex_map = spark.table(f"{name}_vertex_map")
    g = Graph(directed=meta["directed"])
    return g._restore(
        edges=spark.table(f"{name}_edges"),
        vertices=spark.table(f"{name}_vertices"),
        vertex_map=vertex_map,
        meta=meta,
        already_partitioned=True,
    )
