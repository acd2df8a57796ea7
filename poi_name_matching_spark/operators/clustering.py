"""Transitive clustering: match edges → connected components.

The reference stops at pairwise decisions; the north rule adds entity
clusters via connected components. GraphFrames is out (no external deps).

Small graphs (at most ``DRIVER_MAX_EDGES`` edges, which ``components``
learns from one bounded collect) are solved on the driver: the edges
come back through Arrow, min-root union-find labels them, and the
(conv_id, component_id) map goes back as an Arrow-built DataFrame that
is broadcast-joined to the nodes. The star rounds launch Spark jobs
every round (19 jobs in all for the 672 edges of a 600-conversation
batch), so below the bound this one collect is far cheaper.

Larger graphs run the **alternating large-star / small-star** algorithm of
Kiveris et al., "Connected Components in MapReduce and Beyond" (SOCC'13),
expressed purely as DataFrame joins/aggregations:

* ``large-star(u)``: connect every neighbor ``v > u`` to
  ``m = min(Γ(u) ∪ {u})``.
* ``small-star(u)``: orient edges toward the smaller endpoint; connect
  every ``v ∈ Γ⁻(u) ∪ {u}`` (v ≤ u, v ≠ m) to ``m = min(Γ⁻(u) ∪ {u})``.

Each round is two shuffles (one groupBy + one join per star op). The edge
set converges to disjoint stars rooted at the component minimum in
O(log² n) rounds; node ids need only a total order (string ids are fine).

Scale notes:

* ``localCheckpoint(eager=True)`` after every round truncates the join
  lineage — without it the plan doubles per iteration and the driver
  OOMs on plan serialization long before data is a problem. On a real
  cluster with an HA requirement use reliable ``checkpoint()`` into the
  job's checkpoint dir instead (the pipeline driver wires that).
* Convergence is detected from (edge_count, xor-of-hashes) — one tiny
  aggregate per round, no ``except()`` anti-join.
* Components are emitted as ``component_id = min(conv_id in component)``
  — deterministic labeling, stable across runs/partitionings.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: largest edge count ``components`` solves on the driver. At the bound,
#: 2^18 pairs of 17-character ids are 11 MB of Arrow and about 1.2 s of
#: union-find on one core of a 4-vCPU VM — against Spark jobs for every
#: one of the star path's O(log² n) rounds
DRIVER_MAX_EDGES = 1 << 18


def _symmetrize(edges: DataFrame) -> DataFrame:
    return edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )


def _large_star(edges: DataFrame) -> DataFrame:
    und = _symmetrize(edges)
    mins = und.groupBy("src").agg(F.min("dst").alias("_mn"))
    mins = mins.select("src", F.least(F.col("src"), F.col("_mn")).alias("m"))
    return (
        und.join(mins, "src")
        .filter(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    oriented = edges.select(
        F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
    ).filter(F.col("src") != F.col("dst"))
    mins = oriented.groupBy("src").agg(F.min("dst").alias("m"))
    neighbor_links = (
        oriented.join(mins, "src")
        .filter(F.col("dst") != F.col("m"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
    )
    self_links = mins.select(F.col("src"), F.col("m").alias("dst"))
    return (
        neighbor_links.unionByName(self_links)
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def _signature(edges: DataFrame) -> tuple[int, int]:
    # bit_xor, not sum: ANSI-mode safe (no overflow) and a valid set
    # signature because the edge set is distinct
    row = edges.agg(
        F.count("*").alias("n"),
        F.coalesce(F.bit_xor(F.xxhash64("src", "dst")), F.lit(0)).alias("h"),
    ).first()
    return (row["n"], row["h"])


def connected_components_edges(edges: DataFrame, max_iter: int = 25) -> DataFrame:
    """Run star rounds to convergence; returns the converged (star) edge
    set. Raises if ``max_iter`` rounds don't converge (log² n bound makes
    that an input error, not a tuning knob)."""
    e = (
        edges.select("src", "dst")
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    prev = None
    for _ in range(max_iter):
        # LAZY checkpoint: the signature aggregate below is the round's
        # single action — it materializes the checkpoint AND computes
        # convergence in one job (eager=True would burn a second full
        # job per round purely on scheduling overhead)
        e = _small_star(_large_star(e)).localCheckpoint(eager=False)
        sig = _signature(e)
        if sig == prev:
            return e
        prev = sig
    raise RuntimeError(f"connected components did not converge in {max_iter} rounds")


def _driver_mapping(spark: SparkSession, edges: pa.Table) -> DataFrame:
    """(conv_id, component_id) for every endpoint of ``edges``, by
    min-root union-find on the driver. Null endpoints and self-loops
    are dropped, as the star rounds' ``src != dst`` filter drops them."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for a, b in zip(edges.column("src").to_pylist(), edges.column("dst").to_pylist()):
        if a is None or b is None or a == b:
            continue
        ra, rb = find(parent.setdefault(a, a)), find(parent.setdefault(b, b))
        if ra != rb:
            # the smaller root wins, so every root is its component's min
            parent[max(ra, rb)] = min(ra, rb)
    ids = list(parent)
    id_type = edges.schema.field("src").type
    # from an Arrow table, not a Python list: a list goes through a
    # Python-worker job, which starts a second worker daemon
    return spark.createDataFrame(
        pa.table(
            {
                "conv_id": pa.array(ids, type=id_type),
                "component_id": pa.array([find(x) for x in ids], type=id_type),
            }
        )
    )


def incremental_components(
    old_components: DataFrame,
    new_nodes: DataFrame,
    new_edges: DataFrame,
    max_iter: int = 25,
) -> DataFrame:
    """Update a components table with a batch of NEW nodes and edges by
    CONTRACTION, never re-running CC over historical edges — the
    O(increment) clustering step for the incremental pipeline.

    Sound because (a) every old component is transitively closed under
    the old edges, so contracting it to one supernode preserves
    connectivity of the union graph, and (b) labels are
    ``min(conv_id)`` per component, so an old component's id is itself
    the minimum member id and min-labeling composes exactly: the result
    is bit-identical to a full ``components`` run over
    (old ∪ new nodes, old ∪ new edges). Requires that the OLD edge set
    is unchanged (the default incremental path retains historical
    scores; a rescore or threshold change invalidates this — run the
    full ``components`` instead).

    ``old_components``: (conv_id, component_id) as previously emitted.
    ``new_nodes``: conv_ids of the new conversations (they appear in
    the output even when edge-less). ``new_edges``: src/dst pairs; each
    must touch ≥1 new node or old node (old×old edges are fine too —
    they contract to a self-loop or a supernode merge, both handled)."""
    # contract both endpoints via two left joins against the old
    # component map (an endpoint missing from it is a new conv and
    # stays itself)
    contracted = (
        new_edges.join(
            old_components.select(
                F.col("conv_id").alias("src"),
                F.col("component_id").alias("_sc"),
            ),
            "src",
            "left",
        )
        .join(
            old_components.select(
                F.col("conv_id").alias("dst"),
                F.col("component_id").alias("_dc"),
            ),
            "dst",
            "left",
        )
        .select(
            F.coalesce("_sc", "src").alias("src"),
            F.coalesce("_dc", "dst").alias("dst"),
        )
    )
    mini_nodes = (
        new_nodes.select("conv_id")
        .unionByName(contracted.select(F.col("src").alias("conv_id")))
        .unionByName(contracted.select(F.col("dst").alias("conv_id")))
        .distinct()
    )
    mini = components(mini_nodes, contracted, max_iter=max_iter)
    # expand: old convs inherit their supernode's (possibly merged)
    # label; untouched old components keep their label (left join miss)
    relabel = mini.select(
        F.col("conv_id").alias("component_id"),
        F.col("component_id").alias("_new_label"),
    )
    old_out = old_components.join(relabel, "component_id", "left").select(
        "conv_id",
        F.coalesce("_new_label", "component_id").alias("component_id"),
    )
    new_out = new_nodes.select("conv_id").join(mini, "conv_id")
    return old_out.unionByName(new_out)


def components(nodes: DataFrame, edges: DataFrame, max_iter: int = 25) -> DataFrame:
    """components(conv_id, component_id) for every node in ``nodes``
    (singletons map to themselves). ``nodes`` must have column
    ``conv_id``; ``edges`` columns ``src``/``dst``. Up to
    ``DRIVER_MAX_EDGES`` edges, the components are found on the driver;
    above it, by the star rounds."""
    # one collect: the sentinel row past the bound says "too big"
    # without a separate count()
    small = edges.select("src", "dst").limit(DRIVER_MAX_EDGES + 1).toArrow()
    if small.num_rows <= DRIVER_MAX_EDGES:
        mapping = F.broadcast(_driver_mapping(edges.sparkSession, small))
    else:
        und = _symmetrize(connected_components_edges(edges, max_iter=max_iter))
        mapping = (
            und.groupBy("src")
            .agg(F.min("dst").alias("_mn"))
            .select(
                F.col("src").alias("conv_id"),
                F.least(F.col("src"), F.col("_mn")).alias("component_id"),
            )
        )
    return (
        nodes.select("conv_id")
        .distinct()
        .join(mapping, "conv_id", "left")
        .select(
            "conv_id",
            F.coalesce("component_id", "conv_id").alias("component_id"),
        )
    )
