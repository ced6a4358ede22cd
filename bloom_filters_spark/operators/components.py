"""Connected components via iterative hash-min label propagation.

Catalyst has no fixpoint operator (SURVEY.md §4.3), so the loop lives on
the driver: each iteration propagates the current minimum label across
edges and keeps the elementwise min; ``localCheckpoint`` truncates
lineage every iteration.  Dedup clusters are star-like → expect <= ~5
iterations; ``max_iter`` caps pathological chains.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def connected_components(
    edges: DataFrame,
    vertices: DataFrame | None = None,
    max_iter: int = 20,
    id_col: str = "doc_id",
    driver_edge_threshold: int = 2_000_000,
    n_edges: int | None = None,
) -> DataFrame:
    """edges(id1, id2) → (doc_id, cluster_id = min id in component).

    If ``vertices`` is given (one column ``id_col``), isolated vertices
    appear in the output as their own singleton cluster.

    Adaptive execution: the verified-pair edge set is usually tiny
    relative to the corpus, so when it fits (<= driver_edge_threshold
    rows) we collect it and run union-find on the driver — O(E α(E))
    with zero shuffles — and broadcast the label map back.  The size
    check and the collect are one round trip: up to
    ``driver_edge_threshold + 1`` edges arrive in a single Arrow
    collect, and one edge too many means the fallback, distributed
    hash-min label propagation (O(diameter) shuffled iterations).  A
    caller that already knows the edge count passes ``n_edges`` to skip
    the collect when it is above the threshold.  Set the threshold to 0
    to force the distributed path.
    """
    # the Arrow driver solve assumes int64-castable ids; any other id
    # type (string urls, decimals) takes the type-agnostic labelprop
    # path regardless of edge count
    integral = all(
        t in ("bigint", "int", "smallint", "tinyint")
        for c, t in edges.select("id1", "id2").dtypes
    )
    if (
        integral
        and driver_edge_threshold > 0
        and (n_edges is None or n_edges <= driver_edge_threshold)
    ):
        tbl = (
            edges.select("id1", "id2")
            .limit(driver_edge_threshold + 1)
            .toArrow()
        )
        if tbl.num_rows <= driver_edge_threshold:
            return _components_driver(
                tbl, edges.sparkSession, vertices, id_col
            )
    return _components_labelprop(edges, vertices, max_iter, id_col)


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


def _components_labelprop(
    edges: DataFrame,
    vertices: DataFrame | None,
    max_iter: int,
    id_col: str,
) -> DataFrame:
    sym = edges.select(
        F.col("id1").alias("src"), F.col("id2").alias("dst")
    ).unionByName(edges.select(F.col("id2").alias("src"), F.col("id1").alias("dst")))
    sym = sym.dropDuplicates(["src", "dst"]).localCheckpoint()

    labels = (
        sym.select(F.col("src").alias(id_col))
        .distinct()
        .withColumn("label", F.col(id_col))
        .localCheckpoint()
    )

    converged = False
    for _ in range(max_iter):
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
        stepped = (
            relaxed.join(hop, relaxed["label"] == hop["_jid"], "left")
            .select(
                id_col,
                "old_label",
                F.least(
                    F.col("label"), F.coalesce("_jlabel", "label")
                ).alias("label"),
            )
            .localCheckpoint()  # one materialization per iteration
        )
        has_changes = (
            len(stepped.filter(F.col("label") < F.col("old_label")).take(1)) > 0
        )
        labels = stepped.select(id_col, "label")
        if not has_changes:
            converged = True
            break
    if not converged:
        # with pointer jumping this needs component diameter > 2^max_iter
        # — if it ever fires, the labels are WRONG (split components)
        import warnings

        warnings.warn(
            f"connected_components label propagation did not converge "
            f"within max_iter={max_iter} iterations; returned clusters "
            f"may be split — raise max_iter",
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
    return out
