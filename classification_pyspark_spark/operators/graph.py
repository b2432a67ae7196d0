"""Connected components — the pairs-to-clusters step of every dedup
pipeline (north-star extension; no reference counterpart:
`abhirup77/classification-pyspark` has no graph ops).

Near-dup detection (minhash / simhash / jaccard / cosine) emits PAIRS;
deduplication needs CLUSTERS (one canonical doc per transitive group).
That closure is a connected-components computation on the similarity
graph; every vertex is labeled with the minimum vertex id of its
component.

``connected_components`` picks one of two paths from the size of the
symmetrized edge frame, the way SystemML (VLDB 2016) picks single-node
or distributed execution from a size estimate:

- **Local** (at most ``LOCAL_MAX_EDGES`` directed edges): one bounded
  collect (``operators/local.py``) brings the edges to the
  driver, a vectorised numpy union-find labels them, and the labels
  come back as a ``createDataFrame`` local relation. Dedup graphs are
  this size: the sf0.1 curation graph has ~1,100 edges, on which the
  distributed rounds ran ~70 Spark jobs.
- **Distributed** (above it): iterative min-label propagation on
  DataFrames. Every vertex starts labeled with its own id; each round
  takes the min of its neighbors' labels; it converges when no label
  changes. Plain propagation needs rounds = eccentricity of the
  component min (LSH band buckets CHAIN: the sf0.1 curation graph
  measured diameter 9), so from round 3 on each round also contracts
  labels through themselves (pointer jumping, ``component <-
  label(component)``, Kiveris et al.'s shortcutting): 9 -> 6 rounds on
  that graph. Each round is one edge-frame join + one union-agg, and
  lineage is truncated with ``localCheckpoint`` each round so actions
  don't re-execute prior rounds.

Both paths return the same ``(vertex, component)`` set; tests force a
path by monkeypatching ``LOCAL_MAX_EDGES``.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .local import collect_if_small

# Directed rows of the symmetrized edge frame (each undirected edge
# counts twice) at or under which CC runs on the driver. Measured on
# local[4], CC plus one aggregate over its output: a 1M-edge chain
# (2M directed rows, minimum at the far end) took 2.9-3.6s on the
# local path against 48-52s distributed; the sf0.1 curation graph
# (1,148 edges) 0.20s against 2.6-2.8s. The bound also caps what the
# driver holds: 2M rows of two longs is ~32 MB of Arrow.
LOCAL_MAX_EDGES = 2_000_000


def _release(checkpointed: DataFrame) -> None:
    """Drop the blocks of a ``localCheckpoint``. ``DataFrame.unpersist``
    does not: the checkpoint persists the RDD under the frame's
    ``LogicalRDD`` leaf, not a cached plan. A reliable checkpoint
    persists nothing, so this is a no-op for it."""
    checkpointed._jdf.queryExecution().logical().rdd().unpersist(False)


def _local_labels(a: np.ndarray, b: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Union-find over the symmetric edge list ``a -> b``. Returns
    ``(vertices, labels)`` as indices into the sorted distinct ids, so
    the smallest index of a component is its minimum id.

    Every round hooks each root onto the smallest root across its
    edges (``np.minimum.at``; parents only ever point to smaller
    indices, so the forest stays acyclic), then jumps pointers until
    every vertex points at its root. A tree with an edge to another
    tree merges every round, so rounds are O(log V)."""
    ids, inv = np.unique(np.concatenate([a, b]), return_inverse=True)
    u, v = inv[: len(a)], inv[len(a) :]
    parent = np.arange(len(ids))
    while True:
        ru, rv = parent[u], parent[v]
        if np.array_equal(ru, rv):
            return ids, parent
        np.minimum.at(parent, ru, rv)
        while True:
            jumped = parent[parent]
            if np.array_equal(jumped, parent):
                break
            parent = jumped


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iterations: int = 50,
    checkpoint_dir: str | None = None,
    shortcut_from: int = 3,
) -> DataFrame:
    """Label every vertex of the undirected edge list with the minimum
    vertex id reachable from it. Returns ``(vertex, component)`` with
    the input id type.

    The edge list is symmetrized in ONE pass over the caller's pair
    pipeline (explode of both orientations; a two-branch union would
    re-run the pipeline per branch) and truncated, so the caller's
    pipeline runs once whichever path follows. One bounded collect
    (``local.collect_if_small(sym, LOCAL_MAX_EDGES)``) then decides the
    path:

    - **Local** (at most ``LOCAL_MAX_EDGES`` rows, no null ids):
      ``_local_labels`` on the collected columns; the labels return
      as a local relation, so no further Spark job runs, and the
      edge checkpoint is released at once. ``max_iterations`` and
      ``shortcut_from`` do not apply (the union-find always reaches
      its fixpoint).
    - **Distributed**: rounds of label propagation, below.

    The threshold was set by timing both paths on the sf0.1 curation
    graph and on a synthetic 1M-edge chain (2M directed rows) on
    ``local[4]``; the local path won on both by 13-15x (timings at
    ``LOCAL_MAX_EDGES``). Above it the driver would hold the whole
    edge list.

    Distributed rounds: every round materializes the vertex-sized
    label frame with an eager ``localCheckpoint``: iterative DataFrame
    loops otherwise re-execute the entire accumulated lineage at EVERY
    action (measured 74s for a job that runs in ~8s with per-round
    truncation at sf0.1). Each superseded round's checkpoint is
    released once the next one has materialized; the edge checkpoint
    when the loop ends. The final labels' checkpoint stays: the
    returned frame reads it.

    - Each round is a single union-aggregate: ``min(component)`` over
      {own label} ∪ {in-neighbor labels}, with the old label carried
      as ``min(component) over own rows`` — no second vertex-keyed
      left join per round, and the convergence flag is
      ``new < old`` on the already-materialized frame.
    - From round ``shortcut_from`` on, labels are additionally
      contracted through themselves (``component <- label(component)``
      — pointer jumping), so chain-shaped graphs converge in
      O(log D) rounds instead of D. Graphs that converge earlier never
      pay the extra join; measured 9 -> 6 rounds, ~4.3s -> ~2.8s on
      the curation graph, identical labels.

    ``localCheckpoint`` stores the truncated lineage in EXECUTOR
    block-manager memory/disk — losing an executor mid-run loses
    blocks with no lineage to recompute them. Fine single-node / at
    sandbox scale; on a real cluster where a long CC run must survive
    executor churn, pass ``checkpoint_dir`` (an HDFS/S3 path) to
    switch every truncation to a RELIABLE ``checkpoint`` persisted to
    that fault-tolerant storage — same labels, one distributed write
    per round as the insurance premium.

    Correctness of the shortcut: every label is always the id of a
    vertex in the same component (init: itself; neighbor-min and
    label-of-label both stay inside the component), and labels only
    decrease, so the fixpoint where nothing changes is exactly the
    per-component minimum — the same fixpoint plain propagation
    reaches, just fewer rounds away.
    """
    if checkpoint_dir is not None:
        edges.sparkSession.sparkContext.setCheckpointDir(checkpoint_dir)

    def _truncate(df: DataFrame) -> DataFrame:
        if checkpoint_dir is not None:
            return df.checkpoint(eager=True)
        return df.localCheckpoint(eager=True)

    # symmetrize in ONE evaluation of the caller's (often expensive)
    # pair pipeline: each input row explodes into both orientations,
    # so no second branch re-runs posting joins / LSH scoring and no
    # pre-symmetrization materialization barrier is needed
    sym = _truncate(
        edges.select(
            F.explode(
                F.array(
                    F.struct(F.col(src).alias("a"), F.col(dst).alias("b")),
                    F.struct(F.col(dst).alias("a"), F.col(src).alias("b")),
                )
            ).alias("e")
        )
        .select("e.a", "e.b")
        .distinct()
    )

    small = collect_if_small(sym, LOCAL_MAX_EDGES)
    if small is not None and small["a"].null_count == 0:
        _release(sym)
        a = small["a"]
        ids, labels = _local_labels(a.to_numpy(), small["b"].to_numpy())
        vertex = pa.array(ids, type=a.type)
        schema = sym.select(
            F.col("a").alias("vertex"), F.col("a").alias("component")
        ).schema
        return sym.sparkSession.createDataFrame(
            pa.table([vertex, vertex.take(labels)], names=["vertex", "component"]),
            schema,
        )

    labels = _truncate(
        sym.select(F.col("a").alias("vertex"))
        .distinct()
        .select("vertex", F.col("vertex").alias("component"))
    )
    checkpoint = labels
    for i in range(max_iterations):
        # one union-aggregate replaces join-then-left-join: the new
        # label is min over {own} ∪ {neighbors}, and the OLD label
        # rides along as the min over own rows (exactly one per vertex)
        nbr = sym.join(labels, sym.b == labels.vertex).select(
            F.col("a").alias("vertex"), "component", F.lit(False).alias("own")
        )
        own = labels.select("vertex", "component", F.lit(True).alias("own"))
        upd = (
            nbr.unionByName(own)
            .groupBy("vertex")
            .agg(
                F.min("component").alias("component"),
                F.min(F.when(F.col("own"), F.col("component"))).alias("__old"),
            )
        )
        round_persist = None
        if i + 1 >= shortcut_from:
            # pointer jumping: component <- label(component), a self-
            # join of the round aggregate. Persist upd first: the
            # lookup side would otherwise RE-DERIVE the edge-frame
            # join + union-aggregate (exchange reuse is
            # canonicalization-sensitive and does not reliably fire
            # for the aliased lookup projection), doubling the
            # round's edge-frame work. The persist is lazy — zero
            # extra jobs — and best-effort: when the lookup
            # side is broadcast, its build fills the cache before the
            # probe side reads it; under a sort-merge join both scans
            # run in one job and may each compute a partition the
            # other has not cached yet (extra work, same labels).
            round_persist = upd = upd.persist()
            lk = upd.select(
                F.col("vertex").alias("__cv"), F.col("component").alias("__cc")
            )
            upd = upd.join(lk, upd.component == lk.__cv, "left").select(
                "vertex",
                F.least(
                    F.col("component"), F.coalesce("__cc", F.col("component"))
                ).alias("component"),
                "__old",
            )
        new_labels = _truncate(
            upd.select(
                "vertex",
                "component",
                (F.col("component") < F.col("__old")).alias("__changed"),
            )
        )
        # the new round is materialized: the superseded labels and the
        # cached round aggregate are dead weight from here on
        _release(checkpoint)
        checkpoint = new_labels
        if round_persist is not None:
            round_persist.unpersist()
        changed = new_labels.filter("__changed").limit(1).count()
        labels = new_labels.drop("__changed")
        if changed == 0:
            break
    _release(sym)
    return labels


def triangle_counts(
    edges: DataFrame, max_degree: int | None = None
) -> DataFrame:
    """Per-vertex triangle counts + local clustering coefficient over
    an undirected simple edge list ``(u, v)`` with ``u < v`` (distinct)
    — Suri & Vassilvitskii's degree-oriented MapReduce algorithm
    (WWW 2011): orient each edge toward the higher (degree, id)
    endpoint, enumerate wedges only at each edge's designated apex
    (out-degrees are O(sqrt E)-bounded under this orientation, so no
    hub explodes the wedge join), and close wedges against the
    undirected edge set — every triangle counted exactly once at its
    minimum-order vertex.

    Output: (x, n_triangles, degree, clustering_coeff rounded 6), one
    row per vertex in >= 1 triangle. The edge, degree, and oriented
    frames are tracked persists (each feeds >= 2 consumers).

    WARNING: triangle counting is Theta(k^3) on a k-clique no matter
    the algorithm, and near-dup graphs CONTAIN cliques by construction
    (every pair in an LSH bucket collides — a template family of 2000
    docs is 1.3e9 triangles that each say the same thing:
    clustering = 1). ``max_degree`` is the standard skew valve
    (high-degree vertex removal): edges touching a vertex with degree
    above the cap are dropped BEFORE wedge enumeration, bounding work
    at |E|·max_degree while keeping the interesting (sparse-
    neighborhood) vertices exact — a mega-cluster's cohesion is
    already known without counting its triangles. None = exact; the
    per-vertex degree column always reports the FULL degree so capped
    runs remain interpretable."""
    from .caching import track

    e = track(edges.select("u", "v"))
    deg = track(
        e.select(F.col("u").alias("x"))
        .unionByName(e.select(F.col("v").alias("x")))
        .groupBy("x")
        .agg(F.count(F.lit(1)).cast("long").alias("d"))
    )
    if max_degree is not None:
        keep = deg.filter(F.col("d") <= int(max_degree)).select("x")
        e = track(
            e.join(keep.withColumnRenamed("x", "u"), "u", "left_semi")
            .join(keep.withColumnRenamed("x", "v"), "v", "left_semi")
            .select("u", "v")
        )
    da = deg.select(F.col("x").alias("u"), F.col("d").alias("du"))
    db = deg.select(F.col("x").alias("v"), F.col("d").alias("dv"))
    o = track(
        e.join(da, "u").join(db, "v").select(
            F.when(F.col("du") <= F.col("dv"), F.col("u")).otherwise(F.col("v")).alias("src"),
            F.when(F.col("du") <= F.col("dv"), F.col("v")).otherwise(F.col("u")).alias("dst"),
        )
    )
    o2 = o.select(F.col("src"), F.col("dst").alias("dst2"))
    tri = (
        o.join(o2, on="src")
        .filter(F.col("dst") < F.col("dst2"))
        .join(
            e,
            (F.col("u") == F.col("dst")) & (F.col("v") == F.col("dst2")),
            "left_semi",
        )
        .select(
            F.col("src").alias("a"), F.col("dst").alias("b"), F.col("dst2").alias("c")
        )
    )
    per_v = (
        tri.select(F.col("a").alias("x"))
        .unionByName(tri.select(F.col("b").alias("x")))
        .unionByName(tri.select(F.col("c").alias("x")))
        .groupBy("x")
        .agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
    )
    return per_v.join(deg, "x").select(
        "x",
        "n_triangles",
        F.col("d").alias("degree"),
        F.round(
            F.col("n_triangles") * 2.0 / (F.col("d") * (F.col("d") - 1)), 6
        ).alias("clustering_coeff"),
    )
