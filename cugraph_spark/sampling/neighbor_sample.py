"""GNN minibatch neighbor sampling (homogeneous / heterogeneous).

Reference: sampling/homogeneous_neighbor_sample.py:44 (output columns
``majors, minors, weight, edge_id, edge_type, batch_id, hop_id``,
homogeneous_neighbor_sample.py:143-171), heterogeneous_neighbor_sample.py:44
(per-edge-type fanouts); C++ sampling/neighbor_sampling_impl.cuh.

Spark mapping (SURVEY §2.G): per hop, join the frontier with the
src-partitioned edge table and keep ``fanout[hop]`` neighbors per
(batch, seed vertex) via a window ``row_number`` ordered by a seeded
xxhash64 — deterministic sampling, no Python in the loop.
``with_replacement=True`` draws k independent hash orderings by exploding
a k-sequence. Temporal variant: pass ``time_column`` and per-seed
``seed_times`` to only follow edges with time < seed time (the reference's
temporal_sampling_impl.cuh behavior).
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame, Window, functions as F

from ..constants import SRC, DST, WEIGHT, EDGE_ID, EDGE_TYPE
from ..plans import iterloop
from ..structure.graph import Graph


def homogeneous_neighbor_sample(
    G: Graph,
    start_list: DataFrame | list,
    fanout_vals: Sequence[int],
    with_replacement: bool = False,
    random_state: int = 42,
    with_batch_ids: bool = False,
    time_column: Optional[str] = None,
    seed_times: Optional[DataFrame] = None,
    starting_vertex_label_offsets: Optional[Sequence[int]] = None,
    with_biases: bool = False,
    return_hops: bool = True,
    deduplicate_sources: bool = True,
    prior_sources_behavior: Optional[str] = None,
    renumber: bool = False,
    retain_seeds: bool = False,
    return_offsets: bool = False,
    compression: str = "COO",
    compress_per_hop: bool = False,
):
    """Returns (majors, minors[, weight][, edge_id][, edge_type],
    batch_id, hop_id) with external ids.

    Reference-parity kwargs (sampling/homogeneous_neighbor_sample.py):

    - ``starting_vertex_label_offsets``: batches the flat start list —
      batch b = start_list[offs[b]:offs[b+1]].
    - ``with_biases``: neighbors drawn proportionally to edge weight via
      exponential-race keys (Efraimidis-Spirakis weighted sampling,
      public algorithm): pick the ``fanout`` smallest -ln(u)/w keys, u
      seeded xxhash64 — deterministic like the uniform path.
    - ``prior_sources_behavior``: 'exclude' never re-expands a previously
      expanded source; 'carryover' re-expands all prior sources each hop.
    - ``deduplicate_sources=False`` keeps frontier multiplicity (a vertex
      sampled twice expands twice).
    - ``renumber``: additionally returns a per-batch dense renumber map
      (batch_id, renumbered_id, vertex); ``retain_seeds`` keeps seeds in
      the map even when they sampled no edges.
    - ``return_offsets``: additionally returns (batch_id, n_rows) counts
      — the DataFrame-native form of the reference's offsets array.
    - ``compression``: only 'COO' (a DataFrame IS the COO form; the
      reference's CSR variants are GPU-array packing).

    Return value: the sample DataFrame, or a tuple extended with the
    renumber map and/or offsets frame when requested.
    """
    if compression != "COO":
        raise ValueError("only COO compression is supported (a DataFrame is COO)")
    if compress_per_hop:
        raise ValueError("compress_per_hop applies only to CSR compression")
    if prior_sources_behavior not in (None, "exclude", "carryover"):
        raise ValueError("prior_sources_behavior must be None, 'exclude' or 'carryover'")
    if with_biases and not G.is_weighted():
        raise ValueError("with_biases requires a weighted graph")
    spark = G.edgelist.sparkSession
    if isinstance(start_list, list):
        ids = G.lookup_internal_vertex_id(start_list)
        if starting_vertex_label_offsets is not None:
            offs = list(starting_vertex_label_offsets)
            batch_of = {}
            for b in range(len(offs) - 1):
                for i in range(offs[b], offs[b + 1]):
                    batch_of[i] = b
            seeds = iterloop.local_table(
                spark,
                [(int(v), batch_of.get(i, 0)) for i, v in enumerate(ids)],
                "vertex long, batch_id int",
            )
        else:
            seeds = iterloop.local_table(
                spark,
                [(int(v), i if with_batch_ids else 0) for i, v in enumerate(ids)],
                "vertex long, batch_id int",
            )
    else:
        cols = start_list.columns
        seeds = start_list.select(
            F.col(cols[0]).alias("vertex"),
            (F.col(cols[1]) if with_batch_ids and len(cols) > 1 else F.lit(0)).cast("int").alias("batch_id"),
        )
        seeds = G.renumber_vertices(seeds, "vertex")

    extra = [c for c in (WEIGHT, EDGE_ID, EDGE_TYPE) if c in G.edgelist.columns]
    ecols = [SRC, DST, *extra] + ([time_column] if time_column else [])
    edges = iterloop.persist(G.edgelist.select(*ecols))

    if time_column and seed_times is not None:
        st = G.renumber_vertices(seed_times, "vertex")
        seeds = seeds.join(st, "vertex", "left")
    frontier = seeds
    out = None

    # The loop state scales with n_seeds × cumulative fanout product, not
    # |V|: a small-vertex graph with many seed batches can carry
    # far-larger-than-|V| candidate shuffles, so the forced AQE-off /
    # few-partition regime must be gated on the frontier bound.
    if isinstance(start_list, list):
        n_seeds = len(start_list)
    else:
        n_seeds = seeds.count()
    frontier_bound = n_seeds
    for f_ in fanout_vals:
        frontier_bound *= max(int(f_), 1)
    def _order_key(h):
        if not with_biases:
            return F.asc(h)
        # exponential race: smaller -ln(u)/w wins more often for larger w
        u = (F.pmod(h, F.lit(1 << 30)).cast("double") + 0.5) / float(1 << 30)
        return F.asc(-F.log(u) / F.col(WEIGHT).cast("double"))

    prior = None  # cumulative expanded sources, for prior_sources_behavior
    with iterloop.small_plan(spark, min(G.number_of_vertices(), frontier_bound),
                             shuffled_rows=frontier_bound):
      for hop, fanout in enumerate(fanout_vals):
        if prior_sources_behavior == "exclude" and prior is not None:
            frontier = frontier.join(prior, ["vertex", "batch_id"], "left_anti")
        elif prior_sources_behavior == "carryover" and prior is not None:
            frontier = frontier.unionByName(prior, allowMissingColumns=True).distinct()
        cand = edges.join(frontier.withColumnRenamed("vertex", SRC), SRC)
        if time_column and seed_times is not None:
            cand = cand.filter(F.col(time_column) < F.col("seed_time"))
        h = F.xxhash64(SRC, DST, F.lit(hop), F.lit(random_state), F.col("batch_id"))
        if with_replacement and fanout > 0:
            cand = cand.withColumn("_k", F.explode(F.sequence(F.lit(1), F.lit(int(fanout)))))
            h = F.xxhash64(SRC, DST, F.lit(hop), F.lit(random_state), F.col("batch_id"), F.col("_k"))
            w = Window.partitionBy("batch_id", SRC, "_k").orderBy(_order_key(h))
        else:
            w = Window.partitionBy("batch_id", SRC).orderBy(_order_key(h))
        picked = cand.withColumn("_rn", F.row_number().over(w))
        picked = picked.filter(F.col("_rn") <= 1 if with_replacement else F.col("_rn") <= fanout)
        layer = picked.select(
            F.col(SRC).alias("majors"), F.col(DST).alias("minors"), *extra,
            F.col("batch_id"), F.lit(hop).cast("int").alias("hop_id"),
            *( [F.col("seed_time")] if (time_column and seed_times is not None) else [] ),
        )
        layer = iterloop.materialize(layer)
        out = layer if out is None else out.unionByName(layer)
        if prior_sources_behavior is not None:
            expanded = frontier.select("vertex", "batch_id")
            prior = expanded if prior is None else prior.unionByName(expanded).distinct()
        frontier = layer.select(F.col("minors").alias("vertex"), "batch_id",
                                *( ["seed_time"] if (time_column and seed_times is not None) else [] )
                                )
        if deduplicate_sources:
            frontier = frontier.distinct()

    edges.unpersist()
    if out is None:
        out = iterloop.local_table(
            spark, [], "majors long, minors long, batch_id int, hop_id int"
        )
    if "seed_time" in out.columns:
        out = out.drop("seed_time")
    renumber_map = None
    if renumber:
        sampled = out.select(F.col("majors").alias("v"), "batch_id").unionByName(
            out.select(F.col("minors").alias("v"), "batch_id")
        )
        if retain_seeds:
            sampled = sampled.unionByName(
                seeds.select(F.col("vertex").alias("v"), "batch_id")
            )
        sampled = sampled.distinct()
        wmap = Window.partitionBy("batch_id").orderBy("v")
        renumber_map = sampled.select(
            "batch_id",
            (F.row_number().over(wmap) - 1).alias("renumbered_id"),
            F.col("v").alias("vertex"),
        )
        renumber_map = G.unrenumber(renumber_map, "vertex")
    out = G.unrenumber(out, "majors")
    out = G.unrenumber(out, "minors")
    if not return_hops:
        out = out.drop("hop_id")
    offsets_df = None
    if return_offsets:
        offsets_df = out.groupBy("batch_id").count().withColumnRenamed("count", "n_rows")
    extras = [x for x in (renumber_map, offsets_df) if x is not None]
    if extras:
        return (out, *extras)
    return out


def heterogeneous_neighbor_sample(
    G: Graph,
    start_list: DataFrame | list,
    fanout_vals: dict[int, Sequence[int]] | Sequence[int],
    num_edge_types: Optional[int] = None,
    vertex_type_offsets=None,
    **kwargs,
) -> DataFrame:
    """Per-edge-type fanouts: ``fanout_vals`` maps edge_type -> per-hop
    fanout list, or — reference layout
    (sampling/heterogeneous_neighbor_sample.py) — a flat array of
    ``n_hops * num_edge_types`` entries, fanout for (hop h, type t) at
    ``h * num_edge_types + t``. Falls back to homogeneous behavior when
    given a flat list without ``num_edge_types``. ``vertex_type_offsets``
    (typed-vertex renumbering) is not supported — vertex types are not
    part of this engine's graph model (carry a type column instead)."""
    if vertex_type_offsets is not None:
        raise NotImplementedError(
            "vertex_type_offsets is not supported: model vertex types as a "
            "vertex DataFrame column instead"
        )
    if not isinstance(fanout_vals, dict) and num_edge_types is not None:
        flat = list(fanout_vals)
        if len(flat) % num_edge_types:
            raise ValueError("len(fanout_vals) must be a multiple of num_edge_types")
        n_hops = len(flat) // num_edge_types
        fanout_vals = {
            t: [flat[h * num_edge_types + t] for h in range(n_hops)]
            for t in range(num_edge_types)
        }
    if not isinstance(fanout_vals, dict):
        return homogeneous_neighbor_sample(G, start_list, fanout_vals, **kwargs)
    if EDGE_TYPE not in G.edgelist.columns:
        raise ValueError("graph has no edge_type column")
    spark = G.edgelist.sparkSession
    n_hops = max(len(v) for v in fanout_vals.values())
    frames = []
    for et, fans in fanout_vals.items():
        sub = Graph(directed=G.is_directed())
        sub._edges = G.edgelist.filter(F.col(EDGE_TYPE) == et)
        sub._nm, sub._vertices, sub._spark = G._nm, G._vertices, G._spark
        sub.properties.renumbered = G.properties.renumbered
        sub.properties.weighted = G.properties.weighted
        frames.append(
            homogeneous_neighbor_sample(sub, start_list, fans, **kwargs)
        )
    out = frames[0]
    for fdf in frames[1:]:
        out = out.unionByName(fdf)
    return out
