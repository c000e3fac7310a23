"""Entity resolution over id-mapping graphs (J12).

The reference attempted a GraphX Pregel walk over the id-mapping graph
(star/CustomerResolver.scala:26-100) and shipped it self-described as
"not ready" (line 14). Rebuild implements the *intent* — resolve every
id to a canonical entity across mapping tables — as connected
components labelled by the minimum id, in two phases and with no graph
library:

1. **Local phase** — one Arrow-batched pass. The edges go through a
   REBALANCE shuffle keyed by source id, which AQE may coalesce (or
   split where one id is skewed); each partition runs a
   numpy union-find over its own edges and emits a star
   `(node, local_min)` for every node it holds. The star frame is
   materialized once.
2. **Global phase** — only when some node carries two different local
   minima, i.e. its component straddles partitions. Rounds over the
   contracted star edges: a min-label step, a hook of each node's old
   label under its new one, and a pointer jump, with one
   materialization and one in-row change probe per round. A
   10^4-node path over four partitions took 14 rounds with its ids in
   order and 13 with them shuffled; without the hook, shuffled ids
   moved the minimum about one hop per round.

The one-pass case depends on AQE: it coalesces a small edge shuffle
into one partition, and then the local output is the answer (on
`local[4]` with four shuffle partitions, 200k int64 edges still
coalesced, 400k did not). Larger edge lists split over the cores; a
component whose edges all share their source id (a crosswalk from one
entity to its ids) still settles locally, others take global rounds.
Spark ignores the REBALANCE hint with AQE off, so the edges are then
hash-partitioned into one partition per core and never reach the
one-pass case unless the session has a single core.
"""

from __future__ import annotations

import logging
import warnings

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from featurestore_spark.operators.materialize import materialize

log = logging.getLogger(__name__)


def _min_roots(n: int, u, v):
    """Union-find over dense node indices 0..n-1: returns `root` with
    root[i] = the smallest index in i's component. Each pass hooks the
    larger root of every unsettled edge under the smaller one, then
    pointer-jumps until every node points at a root; pointers only
    ever decrease, so the root of a tree is its minimum. Every tree
    with an unsettled edge merges in each pass, so the tree count at
    least halves per pass."""
    import numpy as np

    root = np.arange(n, dtype=np.int64)
    while u.size:
        ru, rv = root[u], root[v]
        live = ru != rv
        u, v, ru, rv = u[live], v[live], ru[live], rv[live]
        np.minimum.at(root, np.maximum(ru, rv), np.minimum(ru, rv))
        while True:
            jumped = root[root]
            if np.array_equal(jumped, root):
                break
            root = jumped
    return root


def _local_stars(batches):
    """mapInArrow body: one partition's (a, b) edges → one
    (id, component) row per node, component = the smallest node that
    the partition's own edges connect it to. Nodes are sorted in
    Arrow's binary order, which is Spark's `min` order for numbers
    and UTF8_BINARY strings. A NULL endpoint is no edge: the other
    endpoint stays a node, and the partition emits one (NULL, NULL)
    row."""
    import pyarrow as pa
    import pyarrow.compute as pc

    batches = list(batches)
    if not batches:
        return
    t = pa.Table.from_batches(batches).combine_chunks()
    a, b = t.column("a").chunk(0), t.column("b").chunk(0)
    nodes = pc.unique(pa.concat_arrays([a, b]).drop_null())
    nodes = nodes.take(pc.sort_indices(nodes))
    both = pc.and_(a.is_valid(), b.is_valid())
    u = pc.index_in(a.filter(both), value_set=nodes)
    v = pc.index_in(b.filter(both), value_set=nodes)
    root = _min_roots(
        len(nodes),
        u.to_numpy(zero_copy_only=False),
        v.to_numpy(zero_copy_only=False),
    )
    ids, comps = nodes, nodes.take(root)
    if a.null_count or b.null_count:
        null = pa.nulls(1, type=nodes.type)
        ids = pa.concat_arrays([ids, null])
        comps = pa.concat_arrays([comps, null])
    yield pa.RecordBatch.from_arrays([ids, comps], names=["id", "component"])


def _changed(frame: DataFrame) -> bool:
    return bool(frame.where(F.col("_chg")).limit(1).count())


def connected_components(
    edges: DataFrame,
    *,
    src_col: str = "src",
    dst_col: str = "dst",
    max_iterations: int = 20,
) -> DataFrame:
    """(id, component) — one row per id seen in any edge, component =
    the minimum id of its connected component. A NULL endpoint adds
    no edge: the other endpoint is still a node, and NULL itself gets
    one (NULL, NULL) row.

    The local phase counts as round 1 of `max_iterations`; it is the
    only round when every node comes out of it with one local minimum
    (always the case when the local phase ran as one partition). Each
    further round is one global min-label step, a hook (the node of
    u's old label takes u's new label if smaller) and a pointer jump
    comp(u) ← comp(comp(u)), materialized and probed for change.

    Warns if `max_iterations` is exhausted while labels were still
    changing: the returned labels are then PARTIAL — ids in one
    component may carry different labels. The probe compares each
    round with the one before it, so a graph that converges exactly on
    the final round is not reported as partial.

    Logs one INFO record per call: local-phase partitions, whether the
    local phase settled the graph, rounds run and convergence (also as
    the record attributes `cc_partitions`, `cc_settled`, `cc_rounds`,
    `cc_converged`)."""
    id_type = edges.select(
        F.array(F.col(src_col), F.col(dst_col)).alias("_t")
    ).schema["_t"].dataType.elementType
    star_schema = StructType(
        [StructField("id", id_type), StructField("component", id_type)]
    )
    # Round 1: the local phase. The REBALANCE shuffle has no fixed
    # partition count: AQE coalesces a small edge list into one
    # partition — where the local answer is the global one — and
    # splits a hub id's oversized partition instead of handing it to
    # one Python worker. Spark drops the hint when AQE is off; the
    # edges then go to one partition per core.
    spark = edges.sparkSession
    local_in = edges.select(
        F.col(src_col).cast(id_type).alias("a"),
        F.col(dst_col).cast(id_type).alias("b"),
    )
    if spark.conf.get("spark.sql.adaptive.enabled").lower() == "true":
        local_in = local_in.hint("rebalance", "a")
    else:
        local_in = local_in.repartition(
            spark.sparkContext.defaultParallelism, "a"
        )
    stars = materialize(local_in.mapInArrow(_local_stars, star_schema))
    partitions = stars.rdd.getNumPartitions()
    rounds = 1
    if partitions == 1:
        labels, settled, converged = stars, True, True
    else:
        # One id per row again, and the settled test in the same
        # aggregation: the stars are final iff no id got two local
        # minima. Along every edge both ends share a local root, so a
        # single label per id is constant on each component; the
        # component minimum is its own root wherever it appears.
        labels = materialize(
            stars.groupBy("id").agg(
                F.min("component").alias("component"),
                (F.min("component") < F.max("component")).alias("_chg"),
            )
        )
        settled = converged = not _changed(labels)
    if not settled:
        # NULL is no node of the star graph; it rejoins at the end
        null_row = labels.where(F.col("id").isNull()).select("id", "component")
        # Contracted graph: node — local minimum, both directions. The
        # stars are materialized, so this is a narrow scan per round.
        sym = (
            stars.where(F.col("id") != F.col("component"))
            .select(
                F.explode(
                    F.array(
                        F.struct(F.col("id").alias("a"),
                                 F.col("component").alias("b")),
                        F.struct(F.col("component").alias("a"),
                                 F.col("id").alias("b")),
                    )
                ).alias("_e")
            )
            .select("_e.a", "_e.b")
        )
        labels = labels.where(F.col("id").isNotNull())
        while not converged and rounds < max_iterations:
            rounds += 1
            # each node adopts the min component among itself and its
            # neighbours; the self rows carry their current component
            # in `_old` so the change flag falls out of the same
            # aggregation
            neighbor_labels = sym.join(
                labels.select(F.col("id").alias("b"), "component"), "b"
            ).select(
                F.col("a").alias("id"),
                "component",
                F.lit(None).cast(id_type).alias("_old"),
            )
            hop = (
                labels.select(
                    "id", "component", F.col("component").alias("_old")
                )
                .unionByName(neighbor_labels)
                .groupBy("id")
                .agg(
                    F.min("component").alias("component"),
                    F.min("_old").alias("_old"),
                )
            )
            # hook: each node also hands its new label to the node of
            # its old label, so a whole label tree moves with its
            # root. Min-label alone carries a minimum one hop per
            # round, which on a path with shuffled ids pointer jumping
            # barely shortens.
            hooked = (
                hop.select(
                    F.explode(
                        F.array(
                            F.struct("id", "component", "_old"),
                            F.struct(
                                F.col("_old").alias("id"),
                                "component",
                                F.lit(None).cast(id_type).alias("_old"),
                            ),
                        )
                    ).alias("_h")
                )
                .select("_h.*")
                .groupBy("id")
                .agg(
                    F.min("component").alias("component"),
                    F.min("_old").alias("_old"),
                )
            )
            # pointer jump: every label is itself a node id with a
            # label row, so the join is total; the jump target lies in
            # u's component and is ≤ the current label (monotone)
            labels = materialize(
                hooked.join(
                    hooked.select(
                        F.col("id").alias("component"),
                        F.col("component").alias("_jump"),
                    ),
                    "component",
                ).select(
                    "id",
                    F.col("_jump").alias("component"),
                    (F.col("_jump") < F.col("_old")).alias("_chg"),
                )
            )
            # one-round-exact: labels only ever decrease, so a round
            # that changes nothing is the fixed point
            converged = not _changed(labels)
        labels = labels.select("id", "component").unionByName(null_row)
    log.info(
        "connected_components: local phase on %d partition(s), "
        "settled=%s, %d round(s) including the local phase, converged=%s",
        partitions, settled, rounds, converged,
        extra={
            "cc_partitions": partitions,
            "cc_settled": settled,
            "cc_rounds": rounds,
            "cc_converged": converged,
        },
    )
    if not converged:
        warnings.warn(
            f"connected_components: max_iterations={max_iterations} "
            "exhausted before convergence — returned labels are partial "
            "(some components carry multiple labels); raise "
            "max_iterations for graphs with larger diameter",
            RuntimeWarning,
            stacklevel=2,
        )
    return labels.select("id", "component")


def resolve_entities(
    mappings: DataFrame,
    *,
    src_col: str = "src_entity_id",
    dst_col: str = "dst_entity_id",
    confidence_col: str | None = "confidence",
    min_confidence: float = 0.0,
    max_iterations: int = 20,
) -> DataFrame:
    """Canonical entity per id across mapping tables: edges above the
    confidence floor, components labeled by min entity id.

    Returns (entity_id, canonical_id) for every id seen in a mapping
    (CustomerResolver intent: find the target id of type X reachable
    with confidence ≥ c; here: canonical representative + join back).
    """
    edges = mappings
    if confidence_col is not None and confidence_col in mappings.columns:
        edges = edges.where(F.col(confidence_col) >= min_confidence)
    comp = connected_components(
        edges.select(src_col, dst_col), src_col=src_col, dst_col=dst_col,
        max_iterations=max_iterations,
    )
    return comp.select(
        F.col("id").alias("entity_id"), F.col("component").alias("canonical_id")
    )
