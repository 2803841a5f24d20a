"""Stage 4a — KG context joins: everything the annotation kernel needs from
the knowledge graph, computed as global DataFrame joins.

The reference materializes a per-candidate subgraph dict in process memory
(G_memory, /root/reference/annotation/annot_scripts/annotation_models.py:306-350)
and intersects dicts per candidate pair. Here every KG access is a join
against ``kg_edges`` keyed on entity id, and every memo-dict becomes a
DISTINCT-then-join — each (head, tail) pair or entity is computed once
GLOBALLY across all tables (the reference's caches are per-process; ours are
the dataflow itself). Only facts keyed by entity or entity pair are computed
here; everything keyed by table — including the C7 literal matching, whose
scalar rule ``_match_literal`` lives here — runs in the annotation kernel.

Scale notes (100 TB posture):
- All joins against kg_edges hit the bucket key (subj) — co-located if the
  edge table is bucketed at build time.
- The 2-hop self-join is restricted to candidate entities on BOTH sides
  before joining on the shared neighbor, and hub damping uses the
  pre-aggregated degree table (broadcast), mirroring the reference's
  popularity damping rather than pruning (annotation_models.py:499-503).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import typing_fns as tf
from ..functions.similarity import textual_similarity
from ..session import bcast
from ..sources.kg_build import TRANSITIVE_PIDS, TYPE_PIDS

MIXED_DIRECTION_PENALTY = 1.75  # annotation_models.py:524-527


def _rel_col():
    """Edge pid with the reference's '(-)' reverse marker re-encoded from the
    boolean column (wd_hashmap_indexing.py:66-75)."""
    return F.when(F.col("reverse"), F.concat(F.lit("(-)"), F.col("pred"))).otherwise(
        F.col("pred")
    )


def entity_edges(edges: DataFrame) -> DataFrame:
    """(subj, rel, obj) over entity-valued edges, rel carrying the direction
    marker."""
    return edges.where(F.col("obj_kind") == "entity").select(
        "subj", _rel_col().alias("rel"), "obj"
    )


def literal_edges(edges: DataFrame) -> DataFrame:
    """(subj, pid, obj, obj_type) over literal-valued forward edges."""
    return edges.where((F.col("obj_kind") == "literal") & (~F.col("reverse"))).select(
        F.col("subj"), F.col("pred").alias("pid"), F.col("obj"), F.col("obj_type")
    )


def direct_relations(pairs: DataFrame, edges: DataFrame) -> DataFrame:
    """C4: (head_ent, tail_ent, rel, prox=1.0) for directly connected pairs
    (annotation_models.py:480-488)."""
    e = entity_edges(edges)
    return (
        pairs.join(e, (pairs["head_ent"] == e["subj"]) & (pairs["tail_ent"] == e["obj"]))
        .select("head_ent", "tail_ent", "rel", F.lit(1.0).alias("prox"))
        .distinct()
    )


def twohop_relations(
    pairs: DataFrame, edges: DataFrame, degrees: DataFrame
) -> DataFrame:
    """C5: 2-hop paths via a shared neighbor (annotation_models.py:489-529).

    rel id = relH::relT(reversed); proximity = node popularity
    1/(2+log10(2+deg)), transitive same-pid paths = 1.0, mixed-direction ÷1.75;
    per (pair, rel) the MIN proximity is kept (reference dict update rule).
    """
    e = entity_edges(edges)
    eh = e.select(F.col("subj").alias("head_ent"), F.col("rel").alias("rel_h"),
                  F.col("obj").alias("node"))
    et = e.select(F.col("subj").alias("tail_ent"), F.col("rel").alias("rel_t"),
                  F.col("obj").alias("node"))
    j = (
        pairs.join(eh, "head_ent")
        .join(et, ["tail_ent", "node"])
        .join(
            bcast(degrees.select(F.col("entity").alias("node"), "degree")),
            "node",
            "left",
        )
    )
    pop = F.when(
        F.col("degree").isNotNull() & (F.col("degree") > 0),
        1.0 / (2.0 + F.log10(2.0 + F.col("degree"))),
    ).otherwise(F.lit(0.0))
    rel_t_rev = F.when(
        F.col("rel_t").startswith("(-)"), F.expr("substring(rel_t, 4)")
    ).otherwise(F.concat(F.lit("(-)"), F.col("rel_t")))
    j = j.withColumn("pop", pop).where(F.col("pop") > 0).withColumn(
        "rel_t_rev", rel_t_rev
    )
    same = F.col("rel_h") == F.col("rel_t_rev")
    base_h = F.regexp_replace("rel_h", r"^\(\-\)", "")
    transitive = base_h.isin(TRANSITIVE_PIDS)
    mixed = F.col("rel_h").startswith("(-)") != F.col("rel_t_rev").startswith("(-)")
    rel_id = F.when(same & transitive, F.col("rel_h")).otherwise(
        F.concat(F.col("rel_h"), F.lit("::"), F.col("rel_t_rev"))
    )
    prox = (
        F.when(same & transitive, F.lit(1.0))
        .when(mixed, F.col("pop") / MIXED_DIRECTION_PENALTY)
        .otherwise(F.col("pop"))
    )
    return (
        j.select("head_ent", "tail_ent", rel_id.alias("rel"), prox.alias("prox"))
        .groupBy("head_ent", "tail_ent", "rel")
        .agg(F.min("prox").alias("prox"))
    )


def pair_relations_for_pairs(
    pairs: DataFrame, edges: DataFrame, degrees: DataFrame
) -> DataFrame:
    """All relations per DISTINCT (head_ent, tail_ent) pair: direct pairs use
    ONLY their direct relations (the reference's elif at
    annotation_models.py:489); 2-hop applies only to pairs with no direct
    edge."""
    direct = direct_relations(pairs, edges)
    direct_keys = direct.select("head_ent", "tail_ent").distinct()
    nondirect = pairs.join(direct_keys, ["head_ent", "tail_ent"], "left_anti")
    return direct.unionByName(twohop_relations(nondirect, edges, degrees))


# ------------------------------------------------------------------ literal
def _match_literal(
    obj: str, obj_type: str, cell: str, col_class: str, unit_symbol: str | None
) -> float:
    """C7 matching rules (annotation_models.py:599-666). Returns 0.0 on no
    match. Quantity-without-unit comparison is DISABLED in the reference
    (commented out, :634-641) — kept disabled here for parity."""
    kind = obj_type.split("-")[0]
    if kind == "DateTime" and col_class == "date":
        if obj_type.split("-")[1] != "Period":
            if tf.date_similarity(obj, cell):
                return 1.0
            y1, y2 = tf.get_year(obj), tf.get_year(cell)
            if y1 is not None and y1 == y2:
                return 0.8
            return 0.0
        start_end = obj.split(":")
        cleaned = (
            cell.replace("[", "").replace("]", "").replace("(", "").replace(")", "")
        )
        parts = cleaned.replace("–", "-").replace("—", "-").split("-")
        if len(start_end) == 2 and len(parts) == 2:
            if tf.date_similarity(start_end[0], parts[0]) and tf.date_similarity(
                start_end[1], parts[1]
            ):
                return 1.0
        return 0.0
    if kind == "String" and col_class == "textual":
        sim = textual_similarity(obj, cell)
        return sim if sim > 0.9 else 0.0
    if kind == "Quantity" and col_class == "numeral_unit":
        unit_q = obj_type.split("-", 1)[1]
        if unit_q == "1":
            return 0.0
        if not unit_symbol:
            return 0.0
        std_obj = tf.standardize_to_base_unit(f"{obj} {unit_symbol}")
        std_cell = tf.standardize_to_base_unit(cell)
        if not std_obj or not std_cell or std_obj[1] != std_cell[1]:
            return 0.0
        sim = tf.dimensionless_quantity_similarity(std_obj[0], std_cell[0])
        threshold = 0.75 if std_obj[1] == "MONEY" else 0.95
        return sim if sim > threshold else 0.0
    return 0.0


def unit_symbols(edges: DataFrame) -> DataFrame:
    """(unit_qid, unit_symbol) via P5061 — F7 effective behavior
    (knowledge_bases.py:103-120; the currency branch is dead in the reference
    and intentionally not implemented)."""
    return (
        literal_edges(edges)
        .where(F.col("pid") == "P5061")
        .groupBy(F.col("subj").alias("unit_qid"))
        .agg(F.min("obj").alias("unit_symbol"))
    )


def entity_literal_edges(ents: DataFrame, edges: DataFrame) -> DataFrame:
    """(entity, pid, obj, obj_type, unit_symbol) — the forward literal edges
    of the candidate entities, the C7 domain's KG side. A Quantity-<unitQID>
    object carries its unit's symbol (null when the unit has none); the
    kernel pairs these edges with each row's literal cells."""
    le = literal_edges(edges)
    unit_q = F.when(
        F.col("obj_type").startswith("Quantity-"),
        F.regexp_replace(
            F.expr("substring(obj_type, 10)"),
            "http://www.wikidata.org/entity/",
            "",
        ),
    )
    return (
        ents.join(le, ents["entity"] == le["subj"])
        .withColumn("unit_qid", unit_q)
        .join(bcast(unit_symbols(edges)), "unit_qid", "left")
        .select("entity", "pid", "obj", "obj_type", "unit_symbol")
    )


# ------------------------------------------------------------------ types
def entity_types(cand_entities: DataFrame, edges: DataFrame) -> DataFrame:
    """3-level type hierarchy per entity (knowledge_bases.py:136-180):
    level 1 = non-P31 type-predicate objects if any, else P31 objects;
    levels 2-3 = P279 parents of the previous level. Rank carried from the
    introducing edge. Returns (entity, type, level, rank)."""
    e = edges.where(
        (~F.col("reverse")) & (F.col("obj_kind") == "entity")
    ).select("subj", "pred", "obj", "obj_type")

    typed = (
        cand_entities.join(e, cand_entities["entity"] == e["subj"])
        .where(F.col("pred").isin(TYPE_PIDS))
        .select(
            "entity", "pred", F.col("obj").alias("type"),
            F.col("obj_type").alias("rank_str"),
        )
    )
    has_other = typed.where(F.col("pred") != "P31").select("entity").distinct()
    others = typed.where(F.col("pred") != "P31")
    p31_only = typed.where(F.col("pred") == "P31").join(
        has_other, "entity", "left_anti"
    )
    rank_int = (
        F.when(F.col("rank_str") == "PREFERRED", 2)
        .when(F.col("rank_str") == "NORMAL", 1)
        .otherwise(0)
    )
    lvl1 = (
        others.unionByName(p31_only)
        .select("entity", "type", rank_int.alias("rank"))
        .groupBy("entity", "type")
        .agg(F.max("rank").alias("rank"))
        .withColumn("level", F.lit(1))
    )

    p279 = e.where(F.col("pred") == "P279").select(
        F.col("subj").alias("child"), F.col("obj").alias("parent"),
        F.col("obj_type").alias("rank_str"),
    ).withColumn("p_rank", rank_int).drop("rank_str")

    out = lvl1
    prev = lvl1
    for lv in (2, 3):
        nxt = (
            prev.join(p279, prev["type"] == p279["child"])
            .select("entity", F.col("parent").alias("type"), F.col("p_rank").alias("rank"))
            .groupBy("entity", "type")
            .agg(F.max("rank").alias("rank"))
            .withColumn("level", F.lit(lv))
        )
        out = out.unionByName(nxt)
        prev = nxt
    return out


def supertypes(types: DataFrame, edges: DataFrame) -> DataFrame:
    """(type, supertype) — 1-hop P279 parents (knowledge_bases.py:126-134)."""
    p279 = edges.where(
        (F.col("pred") == "P279") & (~F.col("reverse")) & (F.col("obj_kind") == "entity")
    ).select(F.col("subj").alias("type"), F.col("obj").alias("supertype"))
    # the distinct type set is tiny (bounded by the corpus's CTA vocabulary)
    # but derived from a lazily-checkpointed frame — no stats, so without the
    # size-gated hint this join SHUFFLES the whole P279 edge projection
    return bcast(types.select("type").distinct()).join(p279, "type")


def type_neighbors(cta_types: DataFrame, edges: DataFrame) -> DataFrame:
    """C14 type-graph: (type, neighbor) — 1-hop entity neighbors of each CTA
    type, excluding the (-)P31 instance fan-in (annotation_models.py:954-965)."""
    e = entity_edges(edges).where(~((F.col("rel") == "(-)P31")))
    # same stats-less-small-side shape as supertypes: hint the distinct CTA
    # type set so the edge store streams map-side instead of shuffling
    return (
        bcast(cta_types.select(F.col("type")).distinct())
        .join(e, F.col("type") == e["subj"])
        .select("type", F.col("obj").alias("neighbor"))
        .distinct()
    )


def entity_pids(cand_entities: DataFrame, edges: DataFrame) -> DataFrame:
    """(entity, pid-with-direction-marker) distinct — the reference's
    G_memory[id]["pids"] set (annotation_models.py:330), used by the loop-4
    potential-candidates rule."""
    e = edges.select("subj", _rel_col().alias("pid"))
    return (
        cand_entities.join(e, cand_entities["entity"] == e["subj"])
        .select("entity", "pid")
        .distinct()
    )
