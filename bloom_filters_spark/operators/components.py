"""Connected components via iterative hash-min label propagation.

Catalyst has no fixpoint operator (SURVEY.md §4.3), so the loop lives on
the driver: each iteration propagates the current minimum label across
edges and keeps the elementwise min; ``localCheckpoint`` truncates
lineage every iteration (``checkpoint.py`` passes its own store to the
same loop instead).  Dedup clusters are star-like → expect <= ~5
iterations; ``max_iter`` caps pathological chains.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


#: Largest edge set the driver solve collects; above it (or for non-
#: integral ids) components fall back to distributed label propagation.
DRIVER_EDGE_THRESHOLD = 2_000_000


def collect_edges(edges: DataFrame, n_edges: int | None = None):
    """The (id1, id2) edge list as one Arrow table when the driver solve
    can take it, else None.

    The size check and the collect are one round trip: up to
    :data:`DRIVER_EDGE_THRESHOLD` + 1 edges arrive in a single Arrow
    collect, and one edge too many means None.  A caller that already
    knows the edge count passes ``n_edges`` to skip the collect when it
    is above the threshold.  A threshold of 0 always answers None.
    """
    threshold = DRIVER_EDGE_THRESHOLD  # read per call: tests patch it
    # the Arrow driver solve assumes int64-castable ids; any other id
    # type (string urls, decimals) takes the type-agnostic labelprop
    # path regardless of edge count
    integral = all(
        t in ("bigint", "int", "smallint", "tinyint")
        for _, t in edges.select("id1", "id2").dtypes
    )
    if (
        not integral
        or threshold <= 0
        or (n_edges is not None and n_edges > threshold)
    ):
        return None
    tbl = edges.select("id1", "id2").limit(threshold + 1).toArrow()
    return tbl if tbl.num_rows <= threshold else None


def connected_components(
    edges: DataFrame,
    vertices: DataFrame | None = None,
    max_iter: int = 20,
    id_col: str = "doc_id",
    n_edges: int | None = None,
) -> DataFrame:
    """edges(id1, id2) → (doc_id, cluster_id = min id in component).

    If ``vertices`` is given (one column ``id_col``), isolated vertices
    appear in the output as their own singleton cluster.

    Adaptive execution: the verified-pair edge set is usually tiny
    relative to the corpus, so when it fits (<=
    :data:`DRIVER_EDGE_THRESHOLD` rows) we collect it
    (:func:`collect_edges`) and run union-find on the driver —
    O(E α(E)) with zero shuffles — and broadcast the label map back.
    Otherwise the fallback is distributed hash-min label propagation
    (O(diameter) shuffled iterations).  Setting the threshold to 0
    forces the distributed path.
    """
    tbl = collect_edges(edges, n_edges)
    if tbl is not None:
        return _components_driver(tbl, edges.sparkSession, vertices, id_col)
    return label_propagation(edges, vertices, max_iter, id_col)[0]


def _components_driver(tbl, spark, vertices: DataFrame | None,
                       id_col: str) -> DataFrame:
    """Driver-side solve, Arrow end to end: the edge list arrives as two
    int64 Arrow columns (16 bytes/edge — 32 MB at the 2M-edge threshold,
    vs several hundred MB of Row objects), and the solve is vectorized
    hash-min + pointer jumping over dense numpy arrays (O(E) per pass,
    O(log diameter) passes) — no per-edge Python."""
    import numpy as np
    import pandas as pd

    # a null id would arrive as float64 NaN and astype(int64) turns it
    # into an arbitrary value (typically INT64_MIN), which np.unique
    # then treats as a real node that can win min-label for a whole
    # component — refuse loudly instead of emitting wrong clusters
    if tbl.column("id1").null_count or tbl.column("id2").null_count:
        raise ValueError(
            "connected_components: edge ids contain NULLs — filter them "
            "out upstream (a null endpoint has no meaning in the graph)"
        )
    a = tbl.column("id1").to_numpy(zero_copy_only=False).astype(np.int64)
    b = tbl.column("id2").to_numpy(zero_copy_only=False).astype(np.int64)
    # dense re-index; np.unique sorts, so smaller index == smaller id and
    # min-index per component == min-id per component
    nodes, inv = np.unique(np.concatenate([a, b]), return_inverse=True)
    ia, ib = inv[: len(a)], inv[len(a):]
    lab = np.arange(len(nodes), dtype=np.int64)
    while True:
        prev = lab.copy()
        # relax every edge both ways (min label wins)
        np.minimum.at(lab, ia, lab[ib])
        np.minimum.at(lab, ib, lab[ia])
        # pointer jumping: labels point at smaller-id nodes, so chasing
        # two hops per pass halves remaining chain depth
        lab = np.minimum(lab, lab[lab])
        lab = np.minimum(lab, lab[lab])
        if np.array_equal(lab, prev):
            break
    pdf = pd.DataFrame({id_col: nodes, "cluster_id": nodes[lab]})
    if len(pdf):
        lbl_df = spark.createDataFrame(pdf)
    else:
        lbl_df = spark.createDataFrame([], f"{id_col} long, cluster_id long")
    if vertices is not None:
        from pyspark.sql.functions import broadcast

        return (
            vertices.select(id_col)
            .join(broadcast(lbl_df), id_col, "left")
            .select(
                id_col,
                F.coalesce("cluster_id", F.col(id_col)).alias("cluster_id"),
            )
        )
    return lbl_df


def _materialize_in_memory(stepped: DataFrame, it: int):
    stepped = stepped.localCheckpoint()  # one materialization per iteration
    # whether any label changed is all the loop needs: stop at the first
    changed = stepped.filter(F.col("label") < F.col("old_label"))
    return stepped, len(changed.take(1))


def label_propagation(
    edges: DataFrame,
    vertices: DataFrame | None = None,
    max_iter: int = 20,
    id_col: str = "doc_id",
    materialize=_materialize_in_memory,
    labels: DataFrame | None = None,
    start_iter: int = 0,
):
    """Distributed hash-min label propagation with pointer jumping →
    ``(clusters(id_col, cluster_id), last iteration)``.

    ``materialize(stepped, it)`` stores iteration ``it``'s labels
    ``(id_col, old_label, label)`` and returns them re-read together
    with the number of labels that changed (the loop only tests it for
    0): by default a ``localCheckpoint`` that stops counting at 1, or a
    table write plus manifest in a checkpoint store.
    ``labels``/``start_iter`` resume from a stored iteration; a
    ``start_iter`` of ``max_iter`` runs no iteration.
    """
    sym = edges.select(
        F.col("id1").alias("src"), F.col("id2").alias("dst")
    ).unionByName(edges.select(F.col("id2").alias("src"), F.col("id1").alias("dst")))
    # lazy: the first job that reads it stores it, so a resume from a
    # converged iteration, which runs none, never builds it
    sym = sym.dropDuplicates(["src", "dst"]).localCheckpoint(eager=False)

    if labels is None:
        labels = (
            sym.select(F.col("src").alias(id_col))
            .distinct()
            .withColumn("label", F.col(id_col))
            .localCheckpoint()
        )
    labels = labels.select(id_col, "label")

    it, converged = start_iter, False
    while it < max_iter and not converged:
        it += 1
        # min label among each vertex's neighbors
        msgs = (
            sym.join(labels, sym.src == labels[id_col])
            .groupBy(F.col("dst").alias(id_col))
            .agg(F.min("label").alias("nbr_label"))
        )
        relaxed = labels.join(msgs, id_col, "left").select(
            id_col,
            F.col("label").alias("old_label"),
            F.least(F.col("label"), F.coalesce("nbr_label", "label")).alias(
                "label"
            ),
        )
        # pointer jumping: follow label -> label(label) once per
        # iteration, so chains shortcut and convergence is
        # O(log diameter) instead of O(diameter) — one extra join on
        # the (narrow) label table
        hop = relaxed.select(
            F.col(id_col).alias("_jid"), F.col("label").alias("_jlabel")
        )
        stepped, changed = materialize(
            relaxed.join(hop, relaxed["label"] == hop["_jid"], "left").select(
                id_col,
                "old_label",
                F.least(
                    F.col("label"), F.coalesce("_jlabel", "label")
                ).alias("label"),
            ),
            it,
        )
        labels = stepped.select(id_col, "label")
        converged = changed == 0
    if not converged and start_iter < max_iter:
        # with pointer jumping this needs component diameter > 2^max_iter
        # — if it ever fires, the labels are WRONG (split components)
        import warnings

        warnings.warn(
            f"label propagation did not converge within "
            f"max_iter={max_iter} iterations; returned clusters may be "
            f"split — raise max_iter",
            RuntimeWarning,
            stacklevel=2,
        )

    out = labels.select(id_col, F.col("label").alias("cluster_id"))
    if vertices is not None:
        out = (
            vertices.select(id_col)
            .join(out, id_col, "left")
            .select(
                id_col,
                F.coalesce("cluster_id", F.col(id_col)).alias("cluster_id"),
            )
        )
    return out, it
