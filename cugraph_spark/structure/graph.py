"""Graph classes — the engine's fundamental abstraction.

Re-expresses the reference's ``Graph`` / ``MultiGraph``
(/root/reference/python/cugraph/cugraph/structure/graph_classes.py:30,837
and graph_implementation/simpleGraph.py) as a thin Python object wrapping a
*Spark* edges DataFrame with canonical columns plus a renumber map. There
is no CSR: adjacency is realized per-operator as DataFrame joins, and
Catalyst/AQE is the physical layer.

Scale design
------------
- The canonical edge list is hash-repartitioned on ``src`` and persisted:
  every frontier-expansion / message-aggregation join then shuffles only
  the (small) vertex-state side. A 100-TB edge table is shuffled exactly
  once, at build.
- Undirected graphs are stored symmetrized (both directions), matching the
  reference (simpleGraph.py:156-158), so "neighbors" is always a join on
  ``src`` — no physical transpose is ever needed; pull-direction operators
  just join on ``dst``.
- Vertex ids are dense longs via NumberMap (identity-mapped when input ids
  are already integral — zero cost).
"""

from __future__ import annotations

from typing import Optional, Sequence, Union

from pyspark.sql import DataFrame, functions as F
from pyspark.storagelevel import StorageLevel

from ..plans import iterloop
from ..constants import (
    SRC,
    DST,
    WEIGHT,
    EDGE_ID,
    EDGE_TYPE,
    EDGE_START_TIME,
    EDGE_END_TIME,
)
from .number_map import NumberMap
from .symmetrize import add_reverse_edges, symmetrize_df


# ~32 MB of edge rows per cached partition: small enough that one task
# stays cache/memory friendly, large enough that per-pass task-scheduling
# overhead is amortized. |E|*row_bytes/32MB grows to thousands of
# partitions at 100-TB scale and collapses to a handful at test scale.
_EDGE_PARTITION_TARGET_BYTES = 32 * 1024 * 1024


def spark_parallelism(spark) -> int:
    """Total task slots across the cluster (executors × cores)."""
    try:
        return int(spark.sparkContext.defaultParallelism)
    except Exception:
        return 32


class Properties:
    """Graph properties (reference: simpleGraph.py:79-89)."""

    def __init__(self, directed: bool, multi_edge: bool):
        self.directed = directed
        self.multi_edge = multi_edge
        self.renumbered = False
        self.store_transposed = False
        self.self_loop: Optional[bool] = None
        # Whether add_reverse_edges actually ran at build time. Undirected
        # graphs built with symmetrize=False do NOT get this flag, so
        # consumers (e.g. pagerank's no-dangling fast path) must gate on it
        # rather than on ``directed``.
        self.symmetrized = False
        self.isolated_vertices = None
        self.node_count: Optional[int] = None
        self.edge_count: Optional[int] = None
        self.weighted = False


class Graph:
    """A graph backed by a Spark edges DataFrame.

    Reference API surface: graph_classes.py:30 (``Graph``), :103
    (``from_cudf_edgelist``). ``directed=True`` gives a DiGraph; undirected
    graphs are stored symmetrized.
    """

    def __init__(self, directed: bool = False):
        self.properties = Properties(directed=directed, multi_edge=False)
        self._edges: Optional[DataFrame] = None  # internal ids, canonical cols
        self._nm: Optional[NumberMap] = None
        self._vertices: Optional[DataFrame] = None  # (vertex) internal ids
        self._spark = None

    # -- construction ------------------------------------------------------

    def from_edgelist(
        self,
        input_df: DataFrame,
        source: Union[str, Sequence[str]] = "src",
        destination: Union[str, Sequence[str]] = "dst",
        edge_attr: Union[str, Sequence[str], None] = None,
        weight: Optional[str] = None,
        edge_id: Optional[str] = None,
        edge_type: Optional[str] = None,
        edge_start_time: Optional[str] = None,
        edge_end_time: Optional[str] = None,
        renumber: bool = True,
        store_transposed: bool = False,
        symmetrize: Optional[bool] = None,
        vertices: Optional[DataFrame] = None,
    ) -> "Graph":
        """Build the graph from an edge-list DataFrame.

        Mirrors ``from_cudf_edgelist`` (graph_classes.py:103); validation
        rules from simpleGraph.py:160-222 and 142-158:
        - edge_attr is either one column (weight) or exactly three
          (weight, edge_id, edge_type);
        - symmetrize defaults to ``not directed``;
        - symmetrization with edge ids/types is rejected.

        ``edge_start_time``/``edge_end_time`` name long-castable columns
        carried as canonical temporal edge attributes (the temporal graph
        of cugraph_c/graph.h:102-138 ``cugraph_graph_create_with_times_sg``);
        see :meth:`temporal_view` for the time-mask view and pass
        ``time_column=EDGE_START_TIME`` to ``neighbor_sample`` for
        temporal sampling. Parallel edges collapse to min(start)/max(end).
        """
        if self._edges is not None:
            raise RuntimeError("graph already has an edgelist")

        src_cols = [source] if isinstance(source, str) else list(source)
        dst_cols = [destination] if isinstance(destination, str) else list(destination)
        for c in src_cols + dst_cols:
            if c not in input_df.columns:
                raise ValueError(f"edge column {c!r} not in input DataFrame")

        if edge_attr is not None:
            if weight or edge_id or edge_type:
                raise ValueError("cannot pass both edge_attr and weight/edge_id/edge_type")
            if isinstance(edge_attr, str):
                weight = edge_attr
            else:
                attrs = list(edge_attr)
                if len(attrs) == 1:
                    weight = attrs[0]
                elif len(attrs) == 3:
                    weight, edge_id, edge_type = attrs
                else:
                    raise ValueError(
                        "edge_attr must be a single column or exactly "
                        "[weight, edge_id, edge_type] (simpleGraph.py:194-210)"
                    )

        if symmetrize is None:
            symmetrize = not self.properties.directed
        if symmetrize and (edge_id or edge_type):
            raise ValueError(
                "symmetrization of edge ids/types is not supported (simpleGraph.py:142-154)"
            )

        # canonicalize attribute columns (dtype policy: simpleGraph.py:1358-1374)
        df = input_df
        if weight:
            df = df.withColumn(WEIGHT, F.col(weight).cast("double"))
        if edge_id:
            df = df.withColumn(EDGE_ID, F.col(edge_id).cast("long"))
        if edge_type:
            df = df.withColumn(EDGE_TYPE, F.col(edge_type).cast("int"))
        if edge_start_time:
            df = df.withColumn(EDGE_START_TIME, F.col(edge_start_time).cast("long"))
        if edge_end_time:
            df = df.withColumn(EDGE_END_TIME, F.col(edge_end_time).cast("long"))
        keep_attrs = [
            c
            for c in (WEIGHT, EDGE_ID, EDGE_TYPE, EDGE_START_TIME, EDGE_END_TIME)
            if c in df.columns
        ]
        df = df.select(*src_cols, *dst_cols, *keep_attrs)

        edges, nm = NumberMap.renumber_edgelist(
            df, src_cols, dst_cols, extra_vertices=vertices, force=False if renumber else False
        )

        if symmetrize:
            edges = add_reverse_edges(edges)
        self.properties.symmetrized = bool(symmetrize)

        # The one build-time shuffle: co-locate edges by src so iterative
        # joins reuse this partitioning and only shuffle vertex state.
        # Repartition BEFORE deduping: HashPartitioning(src) satisfies the
        # (src, dst) clustering the dedup aggregate requires, so the dedup
        # runs partition-local and the symmetrize+dedup+co-locate sequence
        # costs ONE shuffle of the edge table instead of two.
        shuffle_parts = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
        edges = edges.repartition(shuffle_parts, SRC)
        if not self.properties.multi_edge and not (edge_id or edge_type):
            # collapse parallel edges keeping MIN weight (symmetrize.py:68-75);
            # temporal attrs collapse to the widest validity window
            others = [c for c in edges.columns if c not in (SRC, DST)]
            if others:
                edges = edges.groupBy(SRC, DST).agg(
                    *[
                        (F.max(c) if c == EDGE_END_TIME else F.min(c)).alias(c)
                        for c in others
                    ]
                )
            else:
                edges = edges.dropDuplicates([SRC, DST])
        # Cache co-partitioned AND co-sorted: InMemoryTableScan preserves
        # the cached plan's partitioning and ordering, so above the
        # state-broadcast threshold every per-round sort-merge join on src
        # reuses this one build-time sort instead of re-sorting the edge
        # table each iteration (bucketed-table semantics for the cache).
        edges = edges.sortWithinPartitions(SRC, DST)
        edges = edges.persist(iterloop.storage_level())
        # Right-size the cached partitioning to the DATA, not the config:
        # iterative operators rescan this table every pass, and at small
        # scale 32 near-empty partitions cost more in task scheduling than
        # the work they carry (30-pass pagerank at sf0.1: 27s -> 17s with
        # fuller partitions). At large scale the same rule scales the
        # partition count UP past the config default so ~100TB tables
        # don't wedge on oversized partitions. One extra tiny shuffle at
        # build; every per-pass job thereafter is cheaper.
        n_rows = edges.count()
        self.properties.edge_count = n_rows
        row_bytes = 8 * len(edges.columns) + 16
        ideal = max(1, -(-n_rows * row_bytes // _EDGE_PARTITION_TARGET_BYTES))
        # Floor at cores/4: per-pass scans of this table should keep the
        # cluster busy even when the bytes rule would pack everything into
        # 1-2 partitions (15-iter pagerank at sf0.1: 4.0s @ 2 parts ->
        # 2.8s @ 8; 16+ is slower again — scheduling overhead). At 100 TB
        # the bytes rule dominates and this floor is a no-op.
        cores = spark_parallelism(df.sparkSession)
        ideal = max(ideal, max(1, cores // 4))
        if ideal < shuffle_parts // 2 or ideal > shuffle_parts * 2:
            resized = (
                edges.repartition(int(ideal), SRC)
                .sortWithinPartitions(SRC, DST)
                .persist(iterloop.storage_level())
            )
            resized.count()
            edges.unpersist()
            edges = resized

        self._edges = edges
        self._nm = nm
        self.properties.renumbered = not nm.identity
        self.properties.weighted = WEIGHT in edges.columns
        self.properties.store_transposed = store_transposed
        self._spark = input_df.sparkSession

        if symmetrize:
            # every vertex of a symmetrized graph appears as src, and the
            # cached edge table is hash-partitioned on src: the distinct
            # below stays partition-local — no E-row shuffle
            vset = edges.select(F.col(SRC).alias("vertex"))
        else:
            vset = edges.select(F.col(SRC).alias("vertex")).union(
                edges.select(F.col(DST).alias("vertex"))
            )
        if nm.identity and vertices is not None:
            extra = vertices.select(F.col(vertices.columns[0]).cast("long").alias("vertex"))
            vset = vset.union(extra)
        mapped = nm.vertices_internal()
        if mapped is not None:
            vset = mapped  # map already includes isolated vertices
        self._vertices = vset.distinct().persist(iterloop.storage_level())
        return self

    # alias matching the reference dispatch entry points
    from_cudf_edgelist = from_edgelist
    from_dask_cudf_edgelist = from_edgelist

    def from_pandas_edgelist(self, pdf, spark, **kwargs) -> "Graph":
        """convert_matrix.py:261 — pandas round-trip through createDataFrame."""
        return self.from_edgelist(iterloop.local_table(spark, pdf), **kwargs)

    # -- views ---------------------------------------------------------------

    @property
    def edgelist(self) -> DataFrame:
        """Internal-id canonical edge list (algorithms consume this)."""
        if self._edges is None:
            raise RuntimeError("graph has no edgelist")
        return self._edges

    def edges(self) -> DataFrame:
        """External-id edge view (reference: simpleGraph.py:1517 /
        decompress_to_edgelist simpleGraph.py:825)."""
        df = self._edges
        df = self._nm.unrenumber(df, SRC)
        df = self._nm.unrenumber(df, DST)
        return df

    decompress_to_edgelist = edges

    def nodes(self) -> DataFrame:
        """External-id vertex list (simpleGraph.py:1525)."""
        return self.unrenumber(self._vertices, "vertex")

    extract_vertex_list = nodes

    @property
    def vertices_internal(self) -> DataFrame:
        return self._vertices

    def temporal_view(self, start_time=None, end_time=None) -> "Graph":
        """Edge-mask view keeping edges whose validity window intersects
        [start_time, end_time] (either bound may be None for half-open).

        Mirrors the temporal graph of cugraph_c/graph.h:102-138: an edge
        is active in the window when ``edge_start_time <= end_time`` and
        (``edge_end_time`` is absent/null or ``edge_end_time >=
        start_time``). Lightweight: the returned Graph shares this
        graph's cached edge table and NumberMap — the mask is a plain
        predicate Catalyst evaluates on top of the cache (and pushes to
        the scan when the edgelist is re-read), so no copy and no extra
        shuffle. The vertex set is unchanged (mask semantics: isolated
        vertices remain)."""
        if self._edges is None:
            raise RuntimeError("graph has no edgelist")
        if EDGE_START_TIME not in self._edges.columns:
            raise ValueError(
                "graph has no temporal columns; build with "
                "from_edgelist(..., edge_start_time=...)"
            )
        cond = F.lit(True)
        if end_time is not None:
            cond = cond & (F.col(EDGE_START_TIME) <= F.lit(end_time))
        if start_time is not None:
            if EDGE_END_TIME in self._edges.columns:
                cond = cond & (
                    F.col(EDGE_END_TIME).isNull()
                    | (F.col(EDGE_END_TIME) >= F.lit(start_time))
                )
            else:
                # point-in-time edges: active from start_time onward only
                cond = cond & (F.col(EDGE_START_TIME) >= F.lit(start_time))
        view = Graph(directed=self.properties.directed)
        view.properties = Properties(
            directed=self.properties.directed, multi_edge=self.properties.multi_edge
        )
        view.properties.renumbered = self.properties.renumbered
        view.properties.symmetrized = self.properties.symmetrized
        view.properties.weighted = self.properties.weighted
        view.properties.store_transposed = self.properties.store_transposed
        view._edges = self._edges.filter(cond)
        view._nm = self._nm
        view._vertices = self._vertices
        view._spark = self._spark
        return view

    def view_adj_list(self) -> DataFrame:
        """CSR-equivalent adjacency view: (src, sorted array of neighbors)
        (reference AdjList, simpleGraph.py:69-77,605)."""
        return self._edges.groupBy(SRC).agg(
            F.sort_array(F.collect_list(DST)).alias("indices")
        )

    def view_transposed_adj_list(self) -> DataFrame:
        """Pull-direction adjacency (reference transposedAdjList,
        simpleGraph.py:75-77): (dst, sorted array of in-neighbors)."""
        return self._edges.groupBy(F.col(DST).alias(SRC)).agg(
            F.sort_array(F.collect_list(SRC)).alias("indices")
        )

    def view_edge_list(self) -> DataFrame:
        """External-id edge list (simpleGraph.py view_edge_list)."""
        return self.edges()

    def has_isolated_vertices(self) -> bool:
        """simpleGraph.py:713 — True when the vertex set exceeds the
        edge-endpoint set."""
        endpoints = (
            self._edges.select(F.col(SRC).alias("vertex"))
            .union(self._edges.select(F.col(DST).alias("vertex")))
            .distinct()
            .count()
        )
        return self.number_of_vertices() > endpoints

    def vertex_column_size(self) -> int:
        """Number of external vertex-id columns (multi-column keys > 1)."""
        return len(self._nm.external_cols)

    def is_multi_gpu(self) -> bool:
        """Always distributed on Spark (the reference's MG/SG split does
        not exist here — partitioning is the default)."""
        return True

    def is_remote(self) -> bool:
        return False

    def enable_batch(self) -> None:
        """Reference MG batch-mode toggle (replicates the edge list to
        every worker). A no-op here: operators broadcast-hint small
        tables themselves and the edge table is partitioned, not
        replicated — replication at 100 TB would be the bug."""
        return None

    def clear(self) -> None:
        """Drop the edge list and derived state (graph_classes clear /
        delete_edge_list / delete_adj_list)."""
        if self._edges is not None:
            self._edges.unpersist()
        if self._vertices is not None:
            self._vertices.unpersist()
        self._edges = None
        self._vertices = None
        self._nm = None

    delete_edge_list = clear

    def delete_adj_list(self) -> None:
        """Adjacency views are derived lazily; nothing is materialized."""
        return None

    def add_internal_vertex_id(
        self, df: DataFrame, internal_column_name: str, external_column_name: str
    ) -> DataFrame:
        """NumberMap helper (number_map.py add_internal_vertex_id): join
        the internal id onto ``df`` as ``internal_column_name``."""
        out = self._nm.to_internal_vertex_ids(df, external_column_name)
        return out.withColumnRenamed(external_column_name, internal_column_name)

    def get_two_hop_neighbors(self, start_vertices=None) -> DataFrame:
        """Method form (graph_classes.py get_two_hop_neighbors)."""
        from .two_hop import get_two_hop_neighbors

        return get_two_hop_neighbors(self, start_vertices)

    def degrees_function(self, vertex_subset=None) -> DataFrame:
        """simpleGraph.py degrees_function — alias of degrees()."""
        return self.degrees(vertex_subset)

    def to_pandas_edgelist(self, source="src", destination="dst"):
        from .convert_matrix import to_pandas_edgelist

        return to_pandas_edgelist(self, source, destination)

    def to_pandas_adjacency(self):
        from .convert_matrix import to_pandas_adjacency

        return to_pandas_adjacency(self)

    def to_numpy_array(self):
        from .convert_matrix import to_numpy_array

        return to_numpy_array(self)

    to_numpy_matrix = to_numpy_array

    def from_cudf_adjlist(self, offsets, indices, values=None) -> "Graph":
        """graph_classes.py:214 — CSR input; delegates to from_adjlist's
        row expansion then adopts the edge list."""
        from .convert_matrix import from_adjlist

        return from_adjlist(offsets, indices, values, create_using=self)

    def from_numpy_array(self, arr, vertices=None) -> "Graph":
        """graph_classes.py from_numpy_array — dense adjacency input."""
        from .convert_matrix import from_numpy_array

        return from_numpy_array(arr, create_using=self, vertices=vertices)

    from_numpy_matrix = from_numpy_array

    def from_pandas_adjacency(self, pdf) -> "Graph":
        from .convert_matrix import from_pandas_adjacency

        return from_pandas_adjacency(pdf, create_using=self)

    def unrenumber(self, df: DataFrame, col: str) -> DataFrame:
        return self._nm.unrenumber(df, col)

    def renumber_vertices(self, df: DataFrame, col: str) -> DataFrame:
        """External → internal for algorithm inputs (start vertices etc.)."""
        return self._nm.to_internal_vertex_ids(df, col)

    def lookup_internal_vertex_id(self, values) -> list[int]:
        """Driver-side convenience for small start-vertex lists."""
        if self._nm.identity:
            return [int(v) for v in values]
        spark = self._spark
        ext = self._nm.external_cols[0]
        df = iterloop.local_table(
            spark, [(v,) for v in values], f"{ext} {self._nm.external_types[0].simpleString()}"
        )
        rows = df.join(self._nm.map_df, ext).select("_internal_id").collect()
        if len(rows) != len(values):
            raise ValueError("some vertices not found in graph")
        return [r[0] for r in rows]

    # -- scalar properties -----------------------------------------------------

    def number_of_vertices(self) -> int:
        if self.properties.node_count is None:
            self.properties.node_count = self._vertices.count()
        return self.properties.node_count

    number_of_nodes = number_of_vertices

    def number_of_edges(self, directed_edges: bool = False) -> int:
        """Undirected graphs count each symmetrized pair once
        (simpleGraph.py:994)."""
        if self.properties.edge_count is None:
            self.properties.edge_count = self._edges.count()
        n = self.properties.edge_count
        if not self.properties.directed and not directed_edges:
            loops = self._edges.filter(F.col(SRC) == F.col(DST)).count()
            return (n - loops) // 2 + loops
        return n

    def density(self) -> float:
        """graph_classes.py:801,853 — E / (V·(V−1)), doubled numerator for
        undirected."""
        v = self.number_of_vertices()
        if v <= 1:
            return 0.0
        e = self.number_of_edges()
        d = e / (v * (v - 1))
        if not self.properties.directed:
            d *= 2.0
        return d

    def is_directed(self) -> bool:
        return self.properties.directed

    def is_multigraph(self) -> bool:
        return self.properties.multi_edge

    def is_weighted(self) -> bool:
        return self.properties.weighted

    def is_renumbered(self) -> bool:
        return self.properties.renumbered

    def is_bipartite(self) -> bool:
        """Relies solely on add_nodes_from(bipartite=...) bookkeeping, like
        the reference (graph_classes.py:663: no structural check)."""
        return False

    def is_multipartite(self) -> bool:
        """graph_classes.py:674 — bookkeeping only, no structural check."""
        return False

    def has_self_loop(self) -> bool:
        if self.properties.self_loop is None:
            self.properties.self_loop = (
                self._edges.filter(F.col(SRC) == F.col(DST)).limit(1).count() > 0
            )
        return self.properties.self_loop

    def has_node(self, n) -> bool:
        [i] = self.lookup_internal_vertex_id_safe([n])
        if i is None:
            return False
        return self._vertices.filter(F.col("vertex") == i).limit(1).count() > 0

    def lookup_internal_vertex_id_safe(self, values):
        try:
            return self.lookup_internal_vertex_id(values)
        except ValueError:
            return [None] * len(values)

    def has_edge(self, u, v) -> bool:
        iu, iv = self.lookup_internal_vertex_id_safe([u, v])
        if iu is None or iv is None:
            return False
        return (
            self._edges.filter((F.col(SRC) == iu) & (F.col(DST) == iv)).limit(1).count() > 0
        )

    def neighbors(self, n) -> DataFrame:
        [i] = self.lookup_internal_vertex_id(n if isinstance(n, list) else [n])
        out = self._edges.filter(F.col(SRC) == i).select(F.col(DST).alias("vertex")).distinct()
        return self.unrenumber(out, "vertex")

    # -- degrees (simpleGraph.py:1021-1251) -------------------------------------

    def _degree_table(self, direction: str) -> DataFrame:
        e = self._edges
        if direction == "in":
            cnt = e.groupBy(F.col(DST).alias("vertex")).agg(F.count("*").alias("degree"))
        elif direction == "out":
            cnt = e.groupBy(F.col(SRC).alias("vertex")).agg(F.count("*").alias("degree"))
        else:
            both = e.select(F.col(SRC).alias("vertex")).union(e.select(F.col(DST).alias("vertex")))
            cnt = both.groupBy("vertex").agg(F.count("*").alias("degree"))
        return self._vertices.join(cnt, "vertex", "left").select(
            "vertex", F.coalesce(F.col("degree"), F.lit(0)).cast("long").alias("degree")
        )

    def in_degree(self, vertex_subset=None) -> DataFrame:
        return self._finish_degree(self._degree_table("in"), vertex_subset)

    def out_degree(self, vertex_subset=None) -> DataFrame:
        return self._finish_degree(self._degree_table("out"), vertex_subset)

    def degree(self, vertex_subset=None) -> DataFrame:
        """Undirected: symmetrized out-degree; directed: in+out
        (degrees_function, simpleGraph.py:1021)."""
        if self.properties.directed:
            d = self._degree_table("both")
        else:
            d = self._degree_table("out")
        return self._finish_degree(d, vertex_subset)

    def degrees(self, vertex_subset=None) -> DataFrame:
        ind = self._degree_table("in").withColumnRenamed("degree", "in_degree")
        outd = self._degree_table("out").withColumnRenamed("degree", "out_degree")
        return self._finish_degree(ind.join(outd, "vertex"), vertex_subset)

    def _finish_degree(self, df: DataFrame, vertex_subset) -> DataFrame:
        out = self.unrenumber(df, "vertex")
        if vertex_subset is not None:
            out = out.filter(F.col("vertex").isin(list(vertex_subset)))
        return out

    # -- misc -------------------------------------------------------------------

    def select_random_vertices(self, random_state: int, num_vertices: int) -> DataFrame:
        """simpleGraph.py:932 — uniform vertex sample."""
        out = (
            self._vertices.orderBy(F.xxhash64(F.col("vertex"), F.lit(random_state)))
            .limit(num_vertices)
        )
        return self.unrenumber(out, "vertex")

    def _restore(self, edges: DataFrame, vertices: DataFrame,
                 vertex_map: Optional[DataFrame], meta: dict,
                 already_partitioned: bool = False) -> "Graph":
        """Adopt a pre-built edge table written by ``sources.save_graph``
        without re-running renumber/symmetrize/dedup — the build shuffle
        is paid once at save time, not per session. Repartitions by src
        (data-sized, cores/4 floor — same rule as from_edgelist) to
        restore the co-located/co-sorted cache contract every iterative
        operator relies on."""
        from pyspark.sql import types as T

        p = self.properties
        for k in ("multi_edge", "renumbered", "symmetrized", "weighted",
                  "node_count", "edge_count", "store_transposed"):
            setattr(p, k, meta[k])
        spark = edges.sparkSession
        if already_partitioned:
            # bucketed-table source (sources.save_graph_table): the
            # catalog bucketing spec already hash-distributes and sorts
            # on src — caching it as-is preserves that layout, no shuffle
            self._edges = edges.persist(iterloop.storage_level())
        else:
            n_rows = meta["edge_count"] or edges.count()
            row_bytes = 8 * len(edges.columns) + 16
            ideal = max(1, -(-n_rows * row_bytes // _EDGE_PARTITION_TARGET_BYTES))
            ideal = max(ideal, max(1, spark_parallelism(spark) // 4))
            self._edges = (
                edges.repartition(int(ideal), SRC)
                .sortWithinPartitions(SRC, DST)
                .persist(iterloop.storage_level())
            )
        self._vertices = vertices.persist(iterloop.storage_level())
        ext_types = [T._parse_datatype_string(s) for s in meta["external_types"]]
        self._nm = NumberMap(
            map_df=vertex_map,
            external_cols=meta["external_cols"],
            external_types=ext_types,
            identity=meta["identity"],
        )
        self._spark = spark
        return self

    def to_directed(self) -> "Graph":
        g = Graph(directed=True)
        g._edges, g._nm, g._vertices, g._spark = self._edges, self._nm, self._vertices, self._spark
        g.properties.renumbered = self.properties.renumbered
        g.properties.weighted = self.properties.weighted
        return g

    def to_undirected(self) -> "Graph":
        g = Graph(directed=False)
        g._nm, g._spark = self._nm, self._spark
        g._edges = symmetrize_df(self._edges, multi=self.properties.multi_edge)
        g._vertices = self._vertices
        g.properties.renumbered = self.properties.renumbered
        g.properties.weighted = self.properties.weighted
        g.properties.symmetrized = True
        return g

    def unpersist(self):
        if self._edges is not None:
            self._edges.unpersist()
        if self._vertices is not None:
            self._vertices.unpersist()


class MultiGraph(Graph):
    """Parallel edges kept (graph_classes.py:837)."""

    def __init__(self, directed: bool = False):
        super().__init__(directed=directed)
        self.properties.multi_edge = True


class Tree(Graph):
    """graph_classes.py:867 — thin subclass."""


class NPartiteGraph(Graph):
    """graph_classes.py:877 — n vertex partition sets tracked via
    ``add_nodes_from(nodes, partition=...)``."""

    def __init__(self, directed: bool = False):
        super().__init__(directed=directed)
        self._partitions: dict[str, DataFrame] = {}

    def add_nodes_from(self, nodes: DataFrame, partition: str):
        self._partitions[partition] = nodes

    def sets(self):
        return self._partitions

    def is_multipartite(self) -> bool:
        return True


class BiPartiteGraph(NPartiteGraph):
    """graph_classes.py:1045 — vertex partition sets tracked via a column."""

    def add_nodes_from(self, nodes: DataFrame, bipartite: str):
        self._partitions[bipartite] = nodes

    def is_bipartite(self) -> bool:
        return True


def is_directed(G: Graph) -> bool:
    """Module-level form (reference exports these at top level alongside
    the Graph methods)."""
    return G.is_directed()


def is_multigraph(G: Graph) -> bool:
    return G.is_multigraph()


def is_weighted(G: Graph) -> bool:
    return G.is_weighted()


def is_bipartite(G: Graph) -> bool:
    return G.is_bipartite()


def is_multipartite(G: Graph) -> bool:
    return G.is_multipartite()


def select_random_vertices(G: Graph, random_state: int, num_vertices: int) -> DataFrame:
    """Module-level form of ``Graph.select_random_vertices``
    (structure/select_random_vertices_impl.cuh via simpleGraph.py:932)."""
    return G.select_random_vertices(random_state, num_vertices)
