"""Graph construction converters.

Reference: structure/convert_matrix.py:20,111,187,261,357,382,421,435,474
(from_edgelist / from_adjlist / from_pandas_* / from_numpy_*). The Spark
engine's native input is a DataFrame; these converters adapt the other
reference-supported shapes.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame, SparkSession

from ..plans import iterloop
from .graph import Graph


def from_edgelist(
    df,
    source="src",
    destination="dst",
    edge_attr=None,
    create_using=Graph,
    renumber: bool = True,
    vertices=None,
    spark: Optional[SparkSession] = None,
) -> Graph:
    """Dispatch on input type (Spark DataFrame or pandas) —
    convert_matrix.py:20. ``vertices``: optional external-id list/Series/
    DataFrame contributing isolated vertices (convert_matrix.py vertices
    kwarg)."""
    import pandas as pd

    spark = spark or SparkSession.getActiveSession()
    if isinstance(df, pd.DataFrame):
        df = iterloop.local_table(spark, df)
    if vertices is not None and not hasattr(vertices, "sparkSession"):
        vtype = df.schema[source if isinstance(source, str) else source[0]].dataType
        vertices = iterloop.local_table(
            spark, [(v,) for v in list(vertices)], f"vertex {vtype.simpleString()}"
        )
    if isinstance(create_using, type):
        g = create_using()
    else:
        g = create_using
    g.from_edgelist(
        df, source=source, destination=destination, edge_attr=edge_attr,
        renumber=renumber, vertices=vertices,
    )
    return g


def from_pandas_edgelist(
    pdf, source="src", destination="dst", edge_attr=None, create_using=Graph,
    renumber: bool = True, vertices=None, spark: Optional[SparkSession] = None,
) -> Graph:
    """convert_matrix.py:261."""
    return from_edgelist(
        pdf, source, destination, edge_attr, create_using, renumber, vertices, spark
    )


def to_pandas_edgelist(G: Graph, source="src", destination="dst"):
    """simpleGraph.py:324 — edge list as pandas."""
    pdf = G.edges().toPandas()
    return pdf.rename(columns={"src": source, "dst": destination})


def from_adjlist(
    offsets: Sequence[int],
    indices: Sequence[int],
    values: Optional[Sequence[float]] = None,
    create_using=Graph,
    spark: Optional[SparkSession] = None,
) -> Graph:
    """CSR (offsets, indices[, values]) -> Graph (convert_matrix.py:111).
    CSR inputs are inherently driver-materialized in the reference too
    (cudf Series); rows are expanded here then parallelized."""
    spark = spark or SparkSession.getActiveSession()
    offsets = list(offsets)
    indices = list(indices)
    rows = []
    for v in range(len(offsets) - 1):
        for pos in range(offsets[v], offsets[v + 1]):
            w = float(values[pos]) if values is not None else None
            rows.append((v, int(indices[pos]), w))
    if values is not None:
        df = iterloop.local_table(spark, rows, "src long, dst long, weight double")
        return from_edgelist(df, edge_attr="weight", create_using=create_using, spark=spark)
    df = iterloop.local_table(spark, [(a, b) for a, b, _ in rows], "src long, dst long")
    return from_edgelist(df, create_using=create_using, spark=spark)


def from_pandas_adjacency(pdf, create_using=Graph, vertices=None,
                          spark: Optional[SparkSession] = None) -> Graph:
    """Dense adjacency matrix (pandas, index/columns = vertex ids) ->
    Graph (convert_matrix.py:382): melt nonzero cells."""
    import pandas as pd

    stacked = pdf.stack().reset_index()
    stacked.columns = ["src", "dst", "weight"]
    stacked = stacked[stacked["weight"] != 0]
    return from_edgelist(
        stacked, "src", "dst", edge_attr="weight", create_using=create_using,
        vertices=vertices, spark=spark,
    )


def to_pandas_adjacency(G: Graph):
    """convert_matrix.py:421 — dense pivot (small graphs only)."""
    pdf = G.edges().toPandas()
    w = pdf["weight"] if "weight" in pdf.columns else 1.0
    pdf = pdf.assign(weight=w)
    return pdf.pivot_table(index="src", columns="dst", values="weight", fill_value=0.0)


def from_numpy_array(arr, create_using=Graph, vertices=None,
                     spark: Optional[SparkSession] = None) -> Graph:
    """convert_matrix.py:435."""
    import pandas as pd

    return from_pandas_adjacency(pd.DataFrame(arr), create_using, vertices, spark)


def to_numpy_array(G: Graph):
    """convert_matrix.py:474."""
    return to_pandas_adjacency(G).to_numpy()


# older matrix aliases kept for API parity
from_numpy_matrix = from_numpy_array
to_numpy_matrix = to_numpy_array

# reference dispatch alias (convert_matrix.py:187): with Spark DataFrames
# there is only one input kind, so from_cudf_edgelist == from_edgelist
from_cudf_edgelist = from_edgelist
