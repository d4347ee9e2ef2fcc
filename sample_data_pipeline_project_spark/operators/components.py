"""Connected components over an edge DataFrame (dedup clustering).

Collapses near-duplicate PAIRS (the output of the Jaccard / MinHash /
SimHash operators in `operators/dedup.py`) into duplicate GROUPS: every
vertex gets `component_id` = the smallest vertex id reachable through
the near-dup relation — the canonical representative a dedup pipeline
keeps, everything else being dropped as a duplicate.

Algorithm: iterative min-label propagation (the hash-to-min family,
Rastogi et al., "Finding Connected Components in Map-Reduce in
Logarithmic Rounds", ICDE'13) with a POINTER-JUMPING shortcut: each
round every vertex takes the min label among itself and its neighbors,
then follows its label one hop down the label forest
(comp := comp[comp]) — the jump collapses label chains geometrically,
so chain-shaped components (embedding near-dup graphs produce them)
converge in far fewer rounds than plain propagation's O(diameter)
(measured 17 -> 11 rounds on the sf0.1 embedding graph; a second jump
per round re-expands the self-joined plan enough to cost MORE — one is
the sweet spot). Each round is one edge-sized shuffle join + aggregate
plus one label-sized hash join — at 100 TB corpus scale the edge list
is the near-dup pair set, orders of magnitude smaller than the corpus.
Rounds run through `materialize.iterate`, which stops at the first
round that changes no label.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sample_data_pipeline_project_spark.operators.materialize import (
    iterate,
    materialize,
)


def connected_components(
    edges: DataFrame,
    vertices: DataFrame,
    id_col: str = "id",
    a_col: str = "a",
    b_col: str = "b",
    max_iter: int = 50,
) -> DataFrame:
    """Label each vertex with the min vertex id in its connected component.

    edges: undirected pair list with columns (a_col, b_col); endpoints
    are expected to be drawn from `vertices` (endpoints outside it still
    relay labels during propagation but are excluded from the output).
    vertices: the complete vertex set (one column, id_col) — vertices
    touching no edge come back as their own singleton component.
    Returns columns (id_col, component_id), exactly one row per vertex.

    max_iter bounds the PROPAGATION rounds and must exceed the graph
    diameter by one: confirming convergence inherently costs a final
    zero-change round. Extra budget is free — the loop exits on the
    first zero-change round — so the default is generous; too little
    raises RuntimeError (the labels would not be component minima).
    """
    # Materialize the edge list BEFORE symmetrizing: the union reads it in
    # both branches, so checkpointing after the union would execute the
    # whole upstream pair-generation pipeline (e.g. a prefix-filtered
    # similarity join) twice; checkpointing first runs it once and the
    # swap is two narrow scans of the materialized result. Every round
    # then joins the materialized symmetric list, never the upstream
    # plan. DISK_ONLY (round 11): the edge list is DATA-proportional —
    # the sf100 embeddings probe OOMed the heap exactly here when the
    # noise-quadratic 0.4-threshold pair set hit ~10^8 edges under the
    # default deserialized in-memory level; disk blocks cost one
    # sequential read per round and cannot kill the JVM.
    edge_mat = materialize(
        edges.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst")),
        "capped_disk",
    )
    sym = edge_mat.unionByName(
        edge_mat.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    # Propagate only over vertices that touch an edge: in a dedup graph
    # the overwhelming majority of the corpus is singletons, and keeping
    # them out of the loop shrinks every round's shuffle from |V| to
    # |edge endpoints|. Singletons rejoin as their own component at the end.
    active = materialize(
        sym.select(F.col("src").alias("vid")).distinct(),
        "capped_disk",
    )

    def step(labels: DataFrame) -> DataFrame:
        labels = labels.select("vid", "comp")
        nbr_min = (
            sym.join(labels, sym["src"] == labels["vid"])
            .select(F.col("dst").alias("vid"), "comp")
            .groupBy("vid")
            .agg(F.min("comp").alias("nbr_comp"))
        )
        stepped = labels.join(nbr_min, "vid", "left").select(
            "vid",
            F.col("comp").alias("old_comp"),
            F.least(F.col("comp"), F.coalesce("nbr_comp", "comp")).alias("comp"),
        )
        # Pointer jump: comp := comp[comp]. Labels are always ids of
        # active vertices (initially self; then a neighbor's label or a
        # jumped label — both drawn from the same label table), so the
        # inner self-join keeps every row. Monotone: the jumped label can
        # only be <= the current one.
        jumped = stepped.select(
            F.col("vid").alias("jvid"), F.col("comp").alias("jcomp")
        )
        return stepped.join(jumped, stepped["comp"] == jumped["jvid"]).select(
            "vid", "old_comp", F.col("jcomp").alias("comp")
        )

    labels = iterate(
        active.select("vid", F.col("vid").alias("comp")),
        step,
        max_iter,
        name="connected_components",
        changed=F.when(F.col("comp") < F.col("old_comp"), 1).otherwise(0),
    ).select("vid", "comp")
    v = vertices.select(F.col(id_col).alias("vid"))
    singletons = v.join(active, "vid", "left_anti")
    # Restrict to the caller's vertex set: stray edge endpoints relayed
    # labels above but must not appear as output rows.
    return (
        labels.join(v, "vid", "left_semi")
        .unionByName(singletons.select("vid", F.col("vid").alias("comp")))
        .select(F.col("vid").alias(id_col), F.col("comp").alias("component_id"))
    )
