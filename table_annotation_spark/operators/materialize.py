"""Stage 5 — materialize: the annotated triples, canonicalized.

The triples (subject = CEA of the head cell, predicate = the pair's CPA,
object = CEA of the tail cell or the literal cell value) are assembled per
table inside the annotation kernel (``annotation._triples``), as the
reference assembles them at the end of its per-table loop
(annotation/table_annotation.py:114-132, CEA/CPA dicts → URIs). This stage
is the engine's "graph materialization" (north_star) over them.

Canonicalization: mention-level sha256 dedupe + connected components over the
(mention ↔ entity) bipartite graph, computed with an iterative hash-min
small-join loop (no GraphFrames dependency; converges in ≤ log(diameter)
iterations; each iteration is one join + one groupBy).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 20,
    check_every: int = 1,
    checkpoint=None,
) -> DataFrame:
    """Hash-min connected components over an undirected edge list.

    Returns (node, component) where component = min node id in the component.
    Iterative small-join: each round propagates the current minimum label one
    hop across edges, so convergence needs O(component diameter) rounds (NOT
    log-rounds — single-hop min propagation moves the minimum label one edge
    per round). Mention↔entity bipartite graphs have tiny diameters (a chain
    of k co-referring mentions has diameter 2k), so the default cap is ample;
    if a pathological graph exhausts ``max_iter`` a warning is raised rather
    than silently returning split components.

    ``check_every`` bounds driver-side actions: the per-node change flag is
    FOLDED into the round's own label groupBy (``changed`` = the round
    lowered this node's label), so each round stays exactly one
    shuffle+checkpoint job; the every-k-th-round convergence probe is then a
    join-free ``limit(1)`` scan of the just-checkpointed RDD instead of the
    old labels⋈previous shuffle join + count. Labels only ever decrease, so
    one round with no lowered label is a fixpoint. The probe (one task over
    the checkpointed labels) is far cheaper than a round (full
    shuffle+checkpoint), so the default probes EVERY round — on the
    tiny-diameter mention↔entity graphs this engine builds, a sparser
    cadence just runs up to ``check_every − 1`` wasted rounds past the
    fixpoint (measured 0.3 s/invocation at sf0.1 with check_every=2);
    raise it only for long-chain graphs where most probes would fail. ``checkpoint`` lets
    callers route per-round lineage truncation through reliable storage (the
    pipeline's parquet checkpoint path) instead of executor-memory
    localCheckpoint.
    """
    import warnings

    from ..session import ckpt as _sckpt

    ckpt = checkpoint if checkpoint is not None else (
        lambda df: _sckpt(df, eager=True)
    )
    sym = ckpt(
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).unionByName(
            edges.select(F.col(dst).alias("a"), F.col(src).alias("b"))
        )
    )
    labels = ckpt(
        sym.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
    )
    converged = False
    for i in range(1, max_iter + 1):
        # candidate labels from neighbors; rows tagged so the groupBy can
        # recover "own previous label" (exactly one own-row per node) and
        # emit the change flag in the same aggregation
        own = labels.select("node", "component", F.lit(True).alias("own"))
        neigh = (
            sym.join(labels.withColumnRenamed("node", "b").select("b", "component"), "b")
            .select(F.col("a").alias("node"), "component")
            .withColumn("own", F.lit(False))
        )
        labels = ckpt(
            own.unionByName(neigh)
            .groupBy("node")
            .agg(
                F.min("component").alias("component"),
                (
                    F.min(F.when(F.col("own"), F.col("component")))
                    > F.min("component")
                ).alias("changed"),
            )
        )
        if i % check_every == 0 or i == max_iter:
            if labels.where("changed").limit(1).count() == 0:
                converged = True
                break
    labels = labels.select("node", "component")
    if not converged:
        warnings.warn(
            f"connected_components: max_iter={max_iter} exhausted without "
            "convergence — components with diameter > max_iter are split; "
            "raise max_iter for long chains",
            RuntimeWarning,
            stacklevel=2,
        )
    return labels


def canonicalize(
    triples: DataFrame,
    cea: DataFrame,
    min_score: float = 0.5,
    checkpoint=None,
) -> DataFrame:
    """Mention-dedupe canonicalization (north_star): cluster entities that
    share a normalized mention (sha256-keyed) via connected components, map
    every subject/object to its canonical component id, then distinct.

    cea must carry (mention_norm, entity, score) — the final CEA assignments
    are the co-reference evidence. Over-merge guard: a (mention, entity) edge
    enters the CC graph only when CEA assigned that entity to the mention with
    confidence ≥ ``min_score`` somewhere. Two entities therefore merge only
    when the SAME surface form was confidently resolved to both (duplicate
    ids for one real-world entity); a low-confidence stray assignment of a
    shared name ("Paris" the person picked at 0.1 in one junk row) cannot
    collapse unrelated entities into one canonical component. Pinned by
    tests/test_canonicalize.py."""
    mention_edges = (
        cea.where(F.col("score") >= min_score)
        .select(
            F.sha2(F.col("mention_norm"), 256).alias("src"),
            F.col("entity").alias("dst"),
        )
        .distinct()
    )
    cc = connected_components(mention_edges, checkpoint=checkpoint)
    ent_canon = cc.withColumnRenamed("node", "entity").withColumnRenamed(
        "component", "canon"
    )
    # canonical id of an entity cluster = the minimum ENTITY id in the
    # component (components may be labeled by a mention hash; remap)
    # CC nodes mix sha256 mention keys and entity ids; the canonical
    # representative is the minimum Wikidata-shaped id in the component
    rep = ent_canon.groupBy("canon").agg(
        F.min(F.when(F.col("entity").rlike("^[PQ]\\d+$"), F.col("entity"))).alias("rep")
    )
    ent_map = (
        ent_canon.join(rep, "canon")
        .where(F.col("rep").isNotNull())
        .select("entity", "rep")
    )
    # ent_map is bounded by the entities inside merge components (tiny next
    # to the triple stream) but derives from checkpointed CC labels with no
    # stats — without the size-gated hint both remap joins sort-merge the
    # full triple stream (guide §3.1; large posture: AQE decides instead)
    from ..session import bcast

    t = (
        triples.join(
            bcast(ent_map.withColumnRenamed("entity", "subj").withColumnRenamed("rep", "subj_rep")),
            "subj",
            "left",
        )
        .join(
            bcast(ent_map.withColumnRenamed("entity", "obj").withColumnRenamed("rep", "obj_rep")),
            "obj",
            "left",
        )
        .select(
            F.coalesce("subj_rep", "subj").alias("subj"),
            "pred",
            F.when(F.col("obj_kind") == "entity", F.coalesce("obj_rep", "obj"))
            .otherwise(F.col("obj"))
            .alias("obj"),
            "obj_kind",
            "table_id", "row_idx", "score",
        )
    )
    return t


def with_uris(triples: DataFrame) -> DataFrame:
    """Q→/entity/, P→/prop/direct/ prefixing (knowledge_bases.py:194-203),
    JVM-side; composite '::' predicate ids keep their structure."""
    def prefix(col, is_pred=False):
        base = F.col(col)
        if is_pred:
            return F.regexp_replace(
                F.regexp_replace(base, r"(?<![\w/])P(\d+)",
                                 r"http://www.wikidata.org/prop/direct/P$1"),
                r"(?<![\w/])Q(\d+)", r"http://www.wikidata.org/entity/Q$1",
            )
        return F.when(
            base.rlike("^Q\\d+$"),
            F.concat(F.lit("http://www.wikidata.org/entity/"), base),
        ).otherwise(base)

    return triples.select(
        prefix("subj").alias("subj_uri"),
        prefix("pred", is_pred=True).alias("pred_uri"),
        F.when(
            (F.col("obj_kind") == "entity") & F.col("obj").rlike("^Q\\d+$"),
            F.concat(F.lit("http://www.wikidata.org/entity/"), F.col("obj")),
        ).otherwise(F.col("obj")).alias("obj_uri"),
        "*",
    )
