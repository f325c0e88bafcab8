"""Connected components over candidate-duplicate pairs.

Near-dup pipelines end with clustering: LSH/Jaccard emit PAIRS, but
dedup policy needs GROUPS ("keep one representative per component").
This is min-label propagation (the dataframe-native form of the
large-star/small-star CC algorithm): every node repeatedly takes the
minimum component id among itself and its neighbors until fixpoint.

Scale notes:
  * each iteration is one join + one aggregate on (node, comp) pairs —
    shuffle keys are node ids (uniform);
  * iteration count is bounded by the graph diameter of the largest
    component; near-dup graphs are shallow (clusters are cliques-ish),
    so 3-5 iterations typically converge;
  * `localCheckpoint` truncates the lineage each round so plans don't
    grow exponentially (mandatory for iterative DataFrame algorithms).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from .textstats import const_expr


def connected_components(
    edges: DataFrame,
    a_col: str = "a",
    b_col: str = "b",
    max_iter: int = 25,
) -> DataFrame:
    """(node, comp): comp = min node id reachable from node.

    Nodes are the union of both edge endpoints; isolated nodes (absent
    from `edges`) are absent from the result by construction. Endpoint
    columns of different types are cast to their common type first
    (int and bigint -> bigint); same-typed endpoints get no cast.
    """
    edges = with_common_endpoint_type(edges, a_col, b_col)
    c = _cc_columns(a_col, b_col)
    # both edge directions from ONE pass over `edges`: the former
    # unionByName of two selects restated the whole upstream pair
    # pipeline (LSH banding, signature aggregation) once per branch —
    # the explode derives (a->b, b->a) per input row map-side, so the
    # edge subtree is evaluated exactly once (r7; values identical)
    adj = (
        edges.select(c["directions"])
        .select("e.src", "e.dst")
        .distinct()
        .localCheckpoint(eager=True)
    )
    # initial labels stay LAZY: one shallow agg over the checkpointed
    # adjacency — the first round's checkpoint materializes it, saving
    # a whole driver job (r7; these are all sub-second jobs whose cost
    # is scheduling, not data)
    labels = adj.select(*c["init"]).groupBy("node").agg(c["min_comp"])

    for _ in range(max_iter):
        neigh = (
            adj.join(labels, adj["dst"] == labels["node"])
            .groupBy("src")
            .agg(c["min_ncomp"])
        )
        # convergence detection is folded into the label update AND
        # into the checkpoint job itself: an Observation on the frame
        # collects the changed count while the eager checkpoint
        # materializes it, so each iteration is exactly ONE driver job
        # (the former any-changed probe was a second job per round).
        # (r7 note: batching two propagation steps per checkpoint was
        # tried and A/B-measured SLOWER here — the deeper per-round
        # plan costs more than the saved driver jobs on shallow
        # near-dup graphs.)
        obs = Observation()
        new_labels = (
            labels.join(neigh, labels["node"] == neigh["src"], "left")
            .select(*c["update"])
            .observe(obs, c["n_changed"])
            .localCheckpoint(eager=True)
        )
        labels = new_labels.drop("_changed")
        # sum over an empty frame surfaces as None — converged either way
        if not obs.get["n"]:
            break
    return labels


def with_common_endpoint_type(
    edges: DataFrame, a_col: str, b_col: str
) -> DataFrame:
    """``edges`` with both endpoint columns cast to their common type
    (the type Spark widens them to, e.g. int and bigint -> bigint);
    ``edges`` itself when the types already match."""
    types = {f.name: f.dataType for f in edges.schema.fields}
    if types[a_col] == types[b_col]:
        return edges
    common = edges.select(F.array(a_col, b_col)).schema[0].dataType
    return edges.withColumns(
        {c: F.col(c).cast(common.elementType) for c in (a_col, b_col)}
    )


@const_expr
def _cc_columns(a_col: str, b_col: str) -> dict:
    """The constant expressions of :func:`connected_components`."""
    ncomp = F.coalesce(F.col("ncomp"), F.col("comp"))
    return {
        "directions": F.explode(
            F.array(
                F.struct(F.col(a_col).alias("src"), F.col(b_col).alias("dst")),
                F.struct(F.col(b_col).alias("src"), F.col(a_col).alias("dst")),
            )
        ).alias("e"),
        "init": (F.col("src").alias("node"), F.col("src").alias("comp")),
        "min_comp": F.min("comp").alias("comp"),
        "min_ncomp": F.min("comp").alias("ncomp"),
        "update": (
            F.col("node"),
            F.least(F.col("comp"), ncomp).alias("comp"),
            (ncomp < F.col("comp")).alias("_changed"),
        ),
        "n_changed": F.sum(F.col("_changed").cast("long")).alias("n"),
    }


def dedup_groups(
    edges: DataFrame, a_col: str = "a", b_col: str = "b"
) -> DataFrame:
    """Cluster candidate pairs: (comp, members, keep) — keep = min id."""
    comps = connected_components(edges, a_col, b_col)
    return (
        comps.groupBy("comp")
        .agg(
            F.count("*").alias("members"),
            F.min("node").alias("keep"),
        )
    )
