"""Stage 4 — annotate: CEA / CTA / CPA via the reference's exactly-4-pass
dataflow (the reference's annotation/table_annotation.py:51-112), and the
triples assembled from them (table_annotation.py:114-132).

Two halves:

- ``build_inputs`` — the GLOBAL KG-side joins, as lazily checkpointed
  DataFrames that the kernel job computes: the per-table co-occurring entity
  pairs, the entity types, pid sets and literal edges, and the 1/2-hop
  relations of every distinct co-occurring pair. Every frame here is keyed
  by entity or entity pair (``table_pairs`` only picks each table's slice);
  each table's slice of them is packed with its candidates and cells into
  the one kernel input.
- ``annotate_tables`` — everything per table, as ONE pandas kernel call per
  Spark partition (``repartition("table_id").mapInPandas``): literal
  matching (C7, each distinct value tuple scored once per call), context
  scoring (C6/C10, the row pair gates, context entries and relation sets),
  passes 1–4 and the table's triples. Nothing in them crosses tables, so
  each table's candidates and its slice of the KG-side inputs travel to one
  partition, and the passes run as vectorized pandas (merge / groupby /
  sort, no per-row Python; only the C7 matcher runs per distinct tuple) over
  all of the partition's tables at once, with ``table_id`` as the leading
  key of every frame, join, group and sort:

    pass 1: entity_scores¹ = 0.1·sim (context weights not yet known)
            CEA¹ (all candidates) → CPA¹ (voting, all pairs)
    pass 2: soft re-weighting (C10) + entity_scores² (CPA-scaled context)
            CEA² (all) → CTA² (all)
    pass 3: CEA³ (only_one, CTA²-boosted) → CTA³ (only_one) → CPA³ (from CEA³)
    pass 4: literal-context restriction (C10 onlyLiteralContext) +
            entity_scores³ (last_step: contextless cells, potential candidates)
            CEA⁴ → CTA⁴ → CPA⁴ (all only_one)
    triples: rank-1 CPA⁴ × rank-1 CEA⁴ of the head and tail cells
             (or the tail's literal cell)

Where the reference breaks ties by dict/stable-sort order we add
deterministic tie-breaks (entity / rel / type ascending; rank 1 = output) —
documented deviation, SURVEY §3.1. Sums run in row / context-column order,
so equal vote sequences give bit-equal totals and ties stay ties; with
``table_id`` leading, a table's output does not depend on which tables share
its partition.

Limit: one shuffle partition's annotation state (candidates × context
columns of its tables, and candidates × their literal edges × the literal
cells at or right of their column) must fit in one Python worker — see
RUNBOOK.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import reduce

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..session import ckpt, job_group
from . import annotation_context as ctx

SEMANTIC_W = 1.0   # annotation_models.py:110
LITERAL_W = 0.3    # annotation_models.py:111
CTA_LEVEL_W = {1: 1.0, 2: 0.7, 3: 0.2}  # annotation_models.py:151
LIT_CLASSES = ("date", "numeral_unit", "numeral", "textual")


# --------------------------------------------------------------------- inputs
def build_inputs(
    cand: DataFrame,
    body: DataFrame,
    col_classes: DataFrame,
    edges: DataFrame,
    degrees: DataFrame,
) -> DataFrame:
    """The kernel input: each table's candidates, cells and shape plus its
    slice of the pass-invariant KG-side inputs (the scale-heavy global
    joins), as the tagged union the kernel reads (``KERNEL_PARTS``).
    Per-table work is left to ``annotate_tables``.

    Each multi-consumer intermediate is a LAZY ``ckpt``: downstream plans see
    a LogicalRDD leaf, so analyzer cost stays bounded instead of accreting
    across the input DAG (a lazy ``persist()`` re-analyzes the full tree), and
    the frame is computed once, inside the first job that reads it, then
    reused by every other consumer."""
    # ONE upfront exchange on table_id: the per-table pair join below
    # clusters on table_id and reuses it
    cand = cand.select(
        "table_id", "row_idx", "col_idx", "cell", "entity",
        F.col("score").alias("sim"),
    ).repartition("table_id")

    # the per-table co-occurring pair set (C6 domain): it seeds the global
    # pair_rel and picks each table's slice of pair_rel for the kernel.
    # Lookup emits candidates only in entity-class columns, so every ordered
    # column pair of a row is an entity-entity pair.
    h = cand.select(
        "table_id", "row_idx", F.col("col_idx").alias("head_col"),
        F.col("entity").alias("head_ent"),
    )
    t = cand.select(
        "table_id", "row_idx", F.col("col_idx").alias("tail_col"),
        F.col("entity").alias("tail_ent"),
    )
    table_pairs = ckpt(
        h.join(t, ["table_id", "row_idx"])
        .where(F.col("head_col") < F.col("tail_col"))
        .where(F.col("head_ent") != F.col("tail_ent"))
        .select("table_id", "head_ent", "tail_ent")
        .distinct()
    )

    ents = cand.select("entity").distinct()
    types = ckpt(ctx.entity_types(ents, edges))
    ent_pids = ckpt(ctx.entity_pids(ents, edges))

    # supertypes and type neighbours, once over the candidate type
    # vocabulary; a neighbour only ever counts when it is a level-1/2 type of
    # some candidate (cea neighbour credit), so the fan-in of hub types
    # (e.g. every holder of an occupation) never leaves this join
    vocab = types.select("type").distinct()
    super_t = ctx.supertypes(types, edges)
    type_nb = ctx.type_neighbors(vocab, edges).join(
        types.where(F.col("level").isin(1, 2)).select(F.col("type").alias("neighbor")),
        "neighbor", "left_semi",
    )

    # pair relations over the distinct co-occurring pair set
    pair_rel = ckpt(
        ctx.pair_relations_for_pairs(
            table_pairs.select("head_ent", "tail_ent").distinct(), edges, degrees,
        )
    )

    lcols = col_classes.where(F.col("col_class").isin(*LIT_CLASSES))
    tbl_ents = cand.select("table_id", "entity").distinct()
    tbl_types = tbl_ents.join(types, "entity")
    tbl_type_set = tbl_types.select("table_id", "type").distinct()
    parts = {
        "cand": cand.withColumn("cell_len", F.length("cell")),
        "col": col_classes,
        "shape": body.groupBy("table_id").agg(
            (F.max("col_idx") + 1).alias("n_cols"),
            F.countDistinct("row_idx").alias("n_data_rows"),
        ),
        "lit_cell": body.withColumnRenamed("cell", "lit_cell")
        .join(lcols.select("table_id", "col_idx"), ["table_id", "col_idx"])
        .withColumnRenamed("col_idx", "lit_col"),
        # one consumer, so no checkpoint
        "lit_edge": tbl_ents.join(ctx.entity_literal_edges(ents, edges), "entity")
        .withColumnRenamed("pid", "rel"),
        "pair_rel": table_pairs.join(pair_rel, ["head_ent", "tail_ent"]),
        "type": tbl_types,
        "supertype": tbl_type_set.join(super_t, "type"),
        "type_nb": tbl_type_set.join(type_nb, "type"),
        "pid": tbl_ents.join(ent_pids, "entity").withColumnRenamed("pid", "rel"),
    }
    frames = [
        df.select(
            "table_id", F.lit(kind).alias("kind"),
            *[F.col(c).cast(_PACK_TYPES[c]) for c in KERNEL_PARTS[kind]],
        )
        for kind, df in parts.items()
    ]
    return reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), frames)


# --------------------------------------------------------------------- packing
# The kernel input is a long frame keyed by table_id whose ``kind`` column
# names the part a row belongs to and which columns it sets (the others are
# null); every row of a table lands in the same partition.
KERNEL_PARTS = {
    "cand": ("row_idx", "col_idx", "entity", "sim", "cell_len"),
    "col": ("col_idx", "col_class"),
    "shape": ("n_cols", "n_data_rows"),
    "lit_cell": ("row_idx", "lit_col", "lit_cell"),
    "lit_edge": ("entity", "rel", "obj", "obj_type", "unit_symbol"),
    "pair_rel": ("head_ent", "tail_ent", "rel", "prox"),
    "type": ("entity", "type", "level", "rank"),
    "supertype": ("type", "supertype"),
    "type_nb": ("type", "neighbor"),
    "pid": ("entity", "rel"),
}
_INT = ("row_idx", "col_idx", "lit_col", "cell_len", "n_cols", "n_data_rows",
        "level", "rank")
_DOUBLE = ("sim", "prox")
_PANDAS_DTYPE = {
    c: "int64" if c in _INT else "float64" if c in _DOUBLE else object
    for part in KERNEL_PARTS.values() for c in part
}
_PACK_TYPES = {
    c: T.IntegerType() if c in _INT else
    T.DoubleType() if c in _DOUBLE else T.StringType()
    for part in KERNEL_PARTS.values() for c in part
}

CEA_COLS = ["row_idx", "col_idx", "entity", "sim", "score", "rank"]
CTA_COLS = ["col_idx", "type", "score", "coverage", "rank"]
CPA_COLS = ["head_col", "tail_col", "rel", "score", "coverage", "prox", "rank"]
TRIPLE_COLS = ["row_idx", "head_col", "tail_col", "subj", "pred", "obj", "obj_kind",
               "score"]
_OUT_TYPES = {
    "kind": T.StringType(), "row_idx": T.IntegerType(),
    "col_idx": T.IntegerType(), "head_col": T.IntegerType(),
    "tail_col": T.IntegerType(), "entity": T.StringType(),
    "type": T.StringType(), "rel": T.StringType(), "sim": T.DoubleType(),
    "score": T.DoubleType(), "coverage": T.DoubleType(),
    "prox": T.DoubleType(), "rank": T.IntegerType(),
    "subj": T.StringType(), "pred": T.StringType(), "obj": T.StringType(),
    "obj_kind": T.StringType(),
}


# --------------------------------------------------------------------- kernel
# Every kernel frame carries table_id as its leading key, so one call
# annotates a batch of tables and each table's sorts and sums run exactly as
# they would alone. The per-entity frames (types, supertypes, type
# neighbours, pids, literal edges) are the same for every table: the batch
# shares one de-duplicated copy, joined on entity or type alone.
TID = "table_id"
PAIR = [TID, "head_col", "tail_col"]
CELL = [TID, "row_idx", "col_idx"]
CAND_KEY = CELL + ["entity"]
ENTRY_KEY = CAND_KEY + ["ctx_col"]
_SHARED = ("type", "supertype", "type_nb", "pid", "lit_edge")
LIT_KEY = ["obj", "obj_type", "lit_cell", "lit_class", "unit_symbol"]


@dataclass
class _Batch:
    """A batch of tables' kernel state: pandas frames keyed by table_id, but
    for the shared per-entity frames."""
    cand: pd.DataFrame        # table_id,row_idx,col_idx,entity,sim,cell_len,n_cols
    n_rows: pd.Series         # table_id → data rows (CTA/CPA denominator)
    ecols: pd.DataFrame       # table_id,col_idx — entity columns
    lcols: pd.DataFrame       # table_id,col_idx — literal columns
    ecol_pairs: pd.DataFrame  # table_id,head_col,tail_col
    el_pairs: pd.DataFrame    # table_id,head_col,tail_col
    lit_cells: pd.DataFrame   # table_id,row_idx,tail_col,lit_cell
    lit_cpa: pd.DataFrame     # table_id,head_ent,lit_cell,rel
    types: pd.DataFrame       # entity,type,level,rank
    super_t: pd.DataFrame     # type,supertype
    type_nb: pd.DataFrame     # type,neighbor
    ent_pids: pd.DataFrame    # entity,pid
    cached_rel: pd.DataFrame = None  # table_id,head_ent,tail_ent,rel,prox (reliable pairs)
    entries: pd.DataFrame = None     # ENTRY_KEY,is_ent,score,head_col,tail_col
    ctx_rels: pd.DataFrame = None    # ENTRY_KEY,rel,head_col,tail_col


def _typed(df: pd.DataFrame) -> pd.DataFrame:
    """Output dtypes: nullable ints, floats, objects (strings); table_id is
    left as it came."""
    return df.astype({
        c: "Int32" if isinstance(_OUT_TYPES[c], T.IntegerType) else
        "float64" if isinstance(_OUT_TYPES[c], T.DoubleType) else object
        for c in df.columns if c in _OUT_TYPES
    })


def _parts(pdf: pd.DataFrame) -> dict:
    """The packed batch split into its KERNEL_PARTS frames; the shared parts
    lose table_id and their per-table copies."""
    by_kind = dict(tuple(pdf.groupby("kind", sort=False)))
    out = {}
    for kind, cols in KERNEL_PARTS.items():
        p = by_kind.get(kind, pdf.iloc[0:0]).reindex(columns=[TID, *cols])
        p = p.astype({c: _PANDAS_DTYPE[c] for c in cols})
        if kind in _SHARED:
            p = p[list(cols)].drop_duplicates()
        out[kind] = p.reset_index(drop=True)
    return out


def _cols(df: pd.DataFrame, **named: str) -> pd.DataFrame:
    """Projection with renames, allowing one source column under two names;
    table_id, when df has it, is kept as the first column."""
    keep = {TID: df[TID].to_numpy()} if TID in df.columns else {}
    return pd.DataFrame({**keep, **{new: df[old].to_numpy() for new, old in named.items()}})


def _anti(df: pd.DataFrame, other: pd.DataFrame, keys: list) -> pd.DataFrame:
    """Rows of df whose keys do not occur in other (left anti join)."""
    k = pd.MultiIndex.from_frame(df[keys])
    return df[~k.isin(pd.MultiIndex.from_frame(other[keys]))]


def _agg(df: pd.DataFrame, keys: list, **named: tuple) -> pd.DataFrame:
    """groupBy(keys).agg(name=(column, func), ...) with the keys as columns,
    in key order — so a later groupby over a key prefix sums its groups in
    the order of the remaining keys."""
    g = df.groupby(keys, sort=True)
    return pd.DataFrame(
        {name: getattr(g[col], fn)() for name, (col, fn) in named.items()}
    ).reset_index()


def _ranked(df: pd.DataFrame, part: list, order: list, desc: list) -> pd.DataFrame:
    """row_number() over (partition by part order by order) plus the rank-1
    row's cnt/ct as top_cnt/top_ct (the reference's thresholds come from the
    TOP-ranked entry, annotation_models.py:869-898 / 1108-1130)."""
    df = df.sort_values(
        part + order, ascending=[True] * len(part) + [not d for d in desc],
        kind="mergesort",
    )
    g = df.groupby(part, sort=False)
    df["rank"] = g.cumcount() + 1
    df["top_cnt"] = g["cnt"].transform("first")
    df["top_ct"] = g["ct"].transform("first")
    return df


def _col_pairs(heads: pd.DataFrame, tails: pd.DataFrame) -> pd.DataFrame:
    """(table_id, head_col, tail_col) of one table's columns, head < tail."""
    j = _cols(heads, head_col="col_idx").merge(_cols(tails, tail_col="col_idx"), on=TID)
    return j[j["head_col"] < j["tail_col"]].reset_index(drop=True)


def _unpack(pdf: pd.DataFrame) -> _Batch | None:
    p = _parts(pdf)
    cand = p["cand"]
    if cand.empty:
        return None
    shape = p["shape"].set_index(TID)
    cand["n_cols"] = cand[TID].map(shape["n_cols"])
    cols = p["col"].sort_values([TID, "col_idx"])
    ecols = cols.loc[cols["col_class"] == "entity", [TID, "col_idx"]]
    lcols = cols.loc[cols["col_class"].isin(LIT_CLASSES), [TID, "col_idx"]]
    lit_match = _literal_matches(p)
    t = _Batch(
        cand=cand,
        n_rows=shape["n_data_rows"],
        ecols=ecols,
        lcols=lcols,
        ecol_pairs=_col_pairs(ecols, ecols),
        el_pairs=_col_pairs(ecols, lcols),
        lit_cells=p["lit_cell"].rename(columns={"lit_col": "tail_col"}),
        # the literal CPA cache: (entity, mention) → matched pids
        lit_cpa=_cols(lit_match, head_ent="entity", lit_cell="lit_cell", rel="rel")
        .drop_duplicates(),
        types=p["type"],
        super_t=p["supertype"],
        type_nb=p["type_nb"],
        ent_pids=p["pid"].rename(columns={"rel": "pid"}),
    )
    _context(t, p["pair_rel"], lit_match)
    return t


def _literal_matches(p: dict) -> pd.DataFrame:
    """C7 (annotation_models.py:568-676): each candidate × its entity's
    literal edges × its row's literal cells at or right of its column, kept
    where the edge matches the cell (match_score > 0). The score is a pure
    function of the value tuple (LIT_KEY), so each distinct tuple of the
    batch is scored once. Missing values reach the matcher as "" — but a
    missing unit symbol as None: NaN is truthy."""
    cls = _cols(p["col"], lit_col="col_idx", lit_class="col_class")
    j = (
        p["cand"][CAND_KEY].merge(p["lit_edge"], on="entity")
        .merge(p["lit_cell"], on=[TID, "row_idx"])
    )
    j = j[j["lit_col"] >= j["col_idx"]].merge(cls, on=[TID, "lit_col"])
    keys = j[LIT_KEY].fillna("")
    u = keys.drop_duplicates()
    u = u.assign(match_score=[
        ctx._match_literal(o, ot, c, cl, us or None)
        for o, ot, c, cl, us in u.itertuples(index=False)
    ])
    j["match_score"] = keys.merge(u, on=LIT_KEY, how="left")["match_score"].to_numpy()
    return j[j["match_score"] > 0.0].reset_index(drop=True)


def _context(t: _Batch, pair_rel: pd.DataFrame, lit_match: pd.DataFrame) -> None:
    """C6/C7 context scoring (annotation_models.py:536-556): per-row
    candidate pair gates, the context entries of every candidate, their
    relation sets, and the reliably-connected pair relations (cached_rel)."""
    c = t.cand
    ents = [TID, "head_ent", "tail_ent"]
    rp = (
        _cols(c, row_idx="row_idx", head_col="col_idx", head_ent="entity",
              head_sim="sim", head_len="cell_len")
        .merge(_cols(c, row_idx="row_idx", tail_col="col_idx", tail_ent="entity",
                     tail_sim="sim", tail_len="cell_len"), on=[TID, "row_idx"])
        .merge(t.ecol_pairs, on=PAIR)
    )
    rp = rp[rp["head_ent"] != rp["tail_ent"]]
    best = _agg(pair_rel, ents, best=("prox", "max"))
    rp = rp.merge(best, on=ents, how="left")
    known = rp["best"].notna()
    thr_tail = np.where(rp["tail_len"] > 5, 0.7, 0.9)
    thr_head = np.where(rp["head_len"] > 5, 0.7, 0.9)
    rp["head_score"] = np.where(
        known & (rp["tail_sim"] >= thr_tail),
        np.maximum(0.1, rp["best"] * rp["tail_sim"]), 0.1,
    )
    rp["tail_score"] = np.where(
        known & (rp["head_sim"] >= thr_head),
        np.maximum(0.1, rp["best"] * rp["head_sim"]), 0.1,
    )
    reliable = rp[(rp["head_score"] > 0.1) | (rp["tail_score"] > 0.1)]
    t.cached_rel = pair_rel.merge(reliable[ents].drop_duplicates(), on=ents)

    # context entries: candidate × other entity cols ∪ literal cols ≥ col
    cells = c[CAND_KEY]
    dom_e = cells.merge(_cols(t.ecols, ctx_col="col_idx"), on=TID)
    dom_e = dom_e[dom_e["ctx_col"] != dom_e["col_idx"]]
    sides = pd.concat([
        _cols(rp, row_idx="row_idx", col_idx="head_col", entity="head_ent",
              ctx_col="tail_col", s="head_score"),
        _cols(rp, row_idx="row_idx", col_idx="tail_col", entity="tail_ent",
              ctx_col="head_col", s="tail_score"),
    ])
    ent = dom_e.merge(_agg(sides, ENTRY_KEY, s=("s", "max")), on=ENTRY_KEY, how="left")
    dom_l = cells.merge(_cols(t.lcols, ctx_col="col_idx"), on=TID)
    dom_l = dom_l[dom_l["ctx_col"] >= dom_l["col_idx"]]
    lit_s = _cols(lit_match, row_idx="row_idx", col_idx="col_idx", entity="entity",
                  ctx_col="lit_col", s="match_score")
    lit = dom_l.merge(_agg(lit_s, ENTRY_KEY, s=("s", "max")), on=ENTRY_KEY, how="left")
    e = pd.concat([ent.assign(is_ent=True), lit.assign(is_ent=False)], ignore_index=True)
    e["score"] = e["s"].fillna(0.1)
    # orientation of the (candidate col, context col) pair: (o,c) when o<c
    # and o is an entity col, else (c,o) (annotation_models.py:725-728)
    flip = e["is_ent"] & (e["ctx_col"] < e["col_idx"])
    e["head_col"] = np.where(flip, e["ctx_col"], e["col_idx"])
    e["tail_col"] = np.where(flip, e["col_idx"], e["ctx_col"])
    t.entries = e.drop(columns="s")

    # relation set per entry, carrying the entry's oriented pair
    rr = reliable.merge(pair_rel, on=ents)
    t.ctx_rels = pd.concat([
        _cols(rr, row_idx="row_idx", col_idx="head_col", entity="head_ent",
              ctx_col="tail_col", rel="rel", head_col="head_col", tail_col="tail_col"),
        _cols(rr, row_idx="row_idx", col_idx="tail_col", entity="tail_ent",
              ctx_col="head_col", rel="rel", head_col="head_col", tail_col="tail_col"),
        _cols(lit_match, row_idx="row_idx", col_idx="col_idx", entity="entity",
              ctx_col="lit_col", rel="rel", head_col="col_idx", tail_col="lit_col"),
    ]).drop_duplicates()


def _weights(t: _Batch, cpa: pd.DataFrame) -> pd.DataFrame:
    """C10 soft re-weighting (annotation_models.py:352-379): per ctx entry,
    weight = max(floor, base·coverage·proximity·df) from the TOP CPA of the
    oriented pair; floor 0.05 (entity ctx) / 0.01 (literal ctx). The
    distance decay runs from the table's first entity column; a table with
    no entity column has no weighted entries."""
    top = cpa.loc[cpa["rank"] == 1, PAIR + ["coverage", "prox"]]
    origin = _agg(t.ecols, [TID], min_e=("col_idx", "min"))
    e = t.entries.merge(origin, on=TID).merge(top, on=PAIR, how="left")
    df_col = 1.0 / (1.0 + 4.0 * np.minimum(
        (e["ctx_col"] - e["min_e"]).abs(), (e["col_idx"] - e["min_e"]).abs()
    ))
    base = np.where(e["is_ent"], SEMANTIC_W, LITERAL_W)
    floor = np.where(e["is_ent"], 0.05, 0.01)
    e["weight"] = np.where(
        e["coverage"].notna(),
        np.maximum(floor, base * e["coverage"] * e["prox"] * df_col), floor,
    )
    return e.drop(columns=["coverage", "prox", "min_e"])


def _soft_scores(t: _Batch, we: pd.DataFrame, cpa: pd.DataFrame,
                 unrelated: pd.DataFrame | None = None, last_step: bool = False):
    """entity_scoring_task(first_step=False) (annotation_models.py:714-798).

    Only ctx entries whose oriented pair IS in cpa (and not unrelated)
    participate. scale = (coverage·proximity) of the lowest-ranked CPA of the
    pair whose rel is in the entry's relation set, else 0;
    scaled = max(0.1, scale·score); numerator Σ weight·scaled, denominator
    Σ base_weight; final = ctx̄·σ(sim) when max weight>0.1 else 0.1·sim.

    Returns (scores, contextless, potential) — the last two only when
    last_step (loop 4, annotation_models.py:743-765)."""
    e = we if unrelated is None else _anti(we, unrelated, PAIR)
    considered = e.merge(cpa[PAIR].drop_duplicates(), on=PAIR)
    rel_match = (
        t.ctx_rels.merge(cpa[PAIR + ["rel", "coverage", "prox", "rank"]],
                         on=PAIR + ["rel"])
        .sort_values(ENTRY_KEY + ["rank"])
        .drop_duplicates(ENTRY_KEY)
    )
    rel_match["scale"] = rel_match["coverage"] * rel_match["prox"]
    scored = considered.merge(rel_match[ENTRY_KEY + ["scale"]], on=ENTRY_KEY,
                              how="left").sort_values(ENTRY_KEY)
    scored["scaled"] = np.maximum(0.1, scored["scale"].fillna(0.0) * scored["score"])
    scored["wx"] = scored["weight"] * scored["scaled"]
    scored["base"] = np.where(scored["is_ent"], SEMANTIC_W, LITERAL_W)
    agg = _agg(scored, CAND_KEY, num=("wx", "sum"), den=("base", "sum"),
               max_w=("weight", "max"))
    s = t.cand[CAND_KEY + ["sim", "n_cols"]].merge(agg, on=CAND_KEY, how="left")
    ctx_score = np.where(s["den"].notna() & (s["den"] > 0), s["num"] / s["den"], 0.01)
    logistic = 1.0 / (1.0 + np.exp(-(s["sim"] ** 2.5 / 0.5 - 1.0) / 0.2))
    s["score"] = np.where(
        s["n_cols"] <= 1, s["sim"],
        np.where(s["max_w"].fillna(0.0) > 0.1, ctx_score * logistic, 0.1 * s["sim"]),
    )
    s = s[CAND_KEY + ["sim", "score"]]
    if not last_step:
        return s, None, None

    # contextless cells: max scaled per CELL; cells with no considered entries → 0.1.
    # The reference judges a table's contextlessness only once some cell of
    # it has recorded a value — a considered entry, or a candidate without
    # any entry; a table where none has gets no rows (no cell is contextless).
    recorded = pd.concat([scored[TID], _anti(t.cand, t.entries, CAND_KEY)[TID]]).unique()
    cells = t.cand[CELL].drop_duplicates()
    ctxless = cells[cells[TID].isin(recorded)].merge(
        _agg(scored, CELL, ctxless=("scaled", "max")), on=CELL, how="left",
    )
    ctxless["ctxless"] = ctxless["ctxless"].fillna(0.1)

    # potential candidates: candidate has a (direction-adjusted) CPA pid in its
    # pid set (annotation_models.py:750-765); composite "::" ids never match
    pc = scored[ENTRY_KEY + ["is_ent", "head_col", "tail_col"]].drop_duplicates().merge(
        cpa[PAIR + ["rel", "coverage"]], on=PAIR
    )
    pc = pc[~pc["rel"].str.contains("::", regex=False)]
    is_tail = pc["is_ent"] & (pc["ctx_col"] < pc["col_idx"])
    rev = pc["rel"].str.startswith("(-)")
    pc = pc.assign(pid=np.where(
        is_tail & rev, pc["rel"].str[3:],
        np.where(is_tail, "(-)" + pc["rel"], pc["rel"]),
    ).astype(object))
    potential = _agg(pc.merge(t.ent_pids, on=["entity", "pid"]), CAND_KEY,
                     cpa_coeff=("coverage", "max"), n_potential=("coverage", "size"))
    return s, ctxless, potential


def _cea(t: _Batch, s: pd.DataFrame, cta: pd.DataFrame | None = None,
         only_one: bool = True, ctxless: pd.DataFrame | None = None,
         potential: pd.DataFrame | None = None) -> pd.DataFrame:
    """C12 (annotation_models.py:904-1031): per-cell ranked candidates
    (table_id + CEA_COLS); only_one keeps the cell's top-score ties. A cell
    without a ctxless row (its table recorded no context) is not
    contextless."""
    s = s.assign(n_potential=np.nan)
    if cta is not None:
        # per (column, candidate): best level-weighted CTA match — the
        # candidate's own 3-level types, or a CTA type's neighbour among its
        # level-1/2 types (one level down)
        col, col_ent = [TID, "col_idx"], [TID, "col_idx", "entity"]
        cta_c = cta.rename(columns={"type": "cta_type", "score": "cta_score",
                                    "coverage": "cta_cov"})
        cmatch = s[col_ent].drop_duplicates().merge(
            cta_c[col + ["cta_type", "cta_score"]], on=col
        )
        own = _cols(t.types, entity="entity", cta_type="type", own_level="level")
        lvl12 = t.types[t.types["level"].isin([1, 2])]
        nb = (
            cmatch.merge(_cols(t.type_nb, cta_type="type", neighbor="neighbor"),
                         on="cta_type")
            .merge(_cols(lvl12, entity="entity", neighbor="type", nb_level="level"),
                   on=["entity", "neighbor"])
        )
        nb = _agg(nb, col_ent + ["cta_type"], nb_level=("nb_level", "min"))
        j = cmatch.merge(own, on=["entity", "cta_type"], how="left").merge(
            nb, on=col_ent + ["cta_type"], how="left"
        )
        own_l, nb_l = j["own_level"].fillna(0), j["nb_level"].fillna(0)
        lvl_w = np.select(
            [own_l == 1, (own_l == 2) | (nb_l == 1), (own_l == 3) | (nb_l == 2)],
            [CTA_LEVEL_W[1], CTA_LEVEL_W[2], CTA_LEVEL_W[3]], np.nan,
        )
        j["cta_d"] = lvl_w * j["cta_score"]
        disamb = _agg(j, col_ent, cta_d=("cta_d", "max"))
        cov_mean = _agg(cta_c, col, cta_cov=("cta_cov", "mean"))
        s = s.merge(disamb, on=col_ent, how="left").merge(cov_mean, on=col, how="left")
        s["cta_d"] = s["cta_d"].fillna(0.0)
        if ctxless is None:
            coeff = s["cta_cov"] / 2.0
        else:
            s = s.drop(columns="n_potential").merge(
                ctxless, on=CELL, how="left"
            ).merge(potential, on=CAND_KEY, how="left")
            is_ctxless = s["ctxless"] <= 0.1
            s["score"] = np.where(
                is_ctxless & s["cpa_coeff"].notna(),
                np.minimum(1.0, s["score"] * (1.0 + s["cpa_coeff"])), s["score"],
            )
            coeff = np.where(is_ctxless, s["cta_cov"], s["cta_cov"] / 2.0)
        s["score"] = np.where(
            s["cta_cov"].notna(), (s["score"] + coeff * s["cta_d"]) / (1.0 + coeff),
            s["score"],
        )
    s["npot"] = s["n_potential"].fillna(0)
    s = s.sort_values(
        CELL + ["score", "npot", "sim", "entity"],
        ascending=[True] * len(CELL) + [False, False, False, True], kind="mergesort",
    )
    s["rank"] = s.groupby(CELL, sort=False).cumcount() + 1
    if only_one:
        s = s[s["score"] == s.groupby(CELL)["score"].transform("max")]
    return s[[TID, *CEA_COLS]]


def _cpa(t: _Batch, cea: pd.DataFrame, only_one: bool,
         unrelated: pd.DataFrame | None = None) -> pd.DataFrame:
    """C13 voting (annotation_models.py:1033-1131) over entity-entity pairs
    (cached relations) and entity-literal pairs (the literal CPA cache keyed
    (entity, mention), tail confidence 0). Returns kept CPAs
    (table_id + CPA_COLS)."""
    ent_pairs, lit_pairs = t.ecol_pairs, t.el_pairs
    if unrelated is not None:
        ent_pairs = _anti(ent_pairs, unrelated, PAIR)
        lit_pairs = _anti(lit_pairs, unrelated, PAIR)
    head = _cols(cea, row_idx="row_idx", head_col="col_idx", head_ent="entity",
                 head_conf="score")
    tail = _cols(cea, row_idx="row_idx", tail_col="col_idx", tail_ent="entity",
                 tail_conf="score")
    je = (
        head.merge(ent_pairs, on=[TID, "head_col"])
        .merge(tail, on=[TID, "row_idx", "tail_col"])
        .merge(t.cached_rel, on=[TID, "head_ent", "tail_ent"])
    )
    je["pair_score"] = je["prox"] * np.maximum(je["head_conf"], je["tail_conf"])
    jl = (
        head.merge(lit_pairs, on=[TID, "head_col"])
        .merge(t.lit_cpa, on=[TID, "head_ent"])
        .merge(t.lit_cells, on=[TID, "row_idx", "tail_col", "lit_cell"])
    )
    jl["prox"] = 1.0
    jl["pair_score"] = 1.0 * np.maximum(jl["head_conf"], 0.0)
    vote = PAIR + ["rel", "row_idx"]
    votes = pd.concat([je[vote + ["prox", "pair_score"]], jl[vote + ["prox", "pair_score"]]])
    if votes.empty:
        return _typed(pd.DataFrame(columns=CPA_COLS)).assign(**{TID: cea[TID].iloc[0:0]})
    per_row = _agg(votes, vote, row_score=("pair_score", "max"), row_prox=("prox", "min"))
    agg = _agg(per_row, PAIR + ["rel"], cnt=("row_score", "size"),
               total=("row_score", "sum"), prox=("row_prox", "min"))
    agg["ct"] = agg["cnt"] * agg["total"]
    agg["direct"] = ~agg["rel"].str.contains("::", regex=False)
    agg["forward"] = ~agg["rel"].str.contains("(-)", regex=False)
    agg = _ranked(agg, PAIR, ["ct", "cnt", "prox", "direct", "forward", "rel"],
                  [True, True, True, True, True, False])
    kept = agg[agg["ct"] >= agg["top_ct"]] if only_one else agg[agg["cnt"] >= agg["top_cnt"]]
    n_rows = kept[TID].map(t.n_rows)
    kept = kept.assign(score=kept["total"] / n_rows, coverage=kept["cnt"] / n_rows)
    return kept[[TID, *CPA_COLS]]


def _cta(t: _Batch, cea: pd.DataFrame, only_one: bool) -> pd.DataFrame:
    """C11 voting (annotation_models.py:800-902). Returns kept CTAs
    (table_id + CTA_COLS); only_one keeps the top-score ties plus their
    supertypes."""
    col, col_type = [TID, "col_idx"], [TID, "col_idx", "type"]
    j = cea[CAND_KEY + ["score"]].merge(t.types, on="entity")
    j["w"] = np.select(
        [j["level"] == 1, j["level"] == 2], [CTA_LEVEL_W[1], CTA_LEVEL_W[2]],
        CTA_LEVEL_W[3],
    ) * j["score"]
    per_row = _agg(j, col_type + ["row_idx"], row_score=("w", "max"),
                   row_rank=("rank", "max"))
    agg = _agg(per_row, col_type, cnt=("row_score", "size"),
               total=("row_score", "sum"), total_ranks=("row_rank", "sum"))
    agg["ct"] = agg["cnt"] * agg["total"]
    agg = _ranked(agg, col, ["ct", "total_ranks", "type"], [True, True, False])
    if only_one:
        top = agg[agg["ct"] >= agg["top_ct"]]
        sups = _cols(top.merge(t.super_t, on="type"), col_idx="col_idx",
                     type="supertype")
        extra = _anti(agg.merge(sups.drop_duplicates(), on=col_type), top, col_type)
        kept = pd.concat([top, extra])
    else:
        kept = agg[agg["cnt"] >= agg["top_cnt"]]
    n_rows = kept[TID].map(t.n_rows)
    kept = kept.assign(score=kept["total"] / n_rows, coverage=kept["cnt"] / n_rows)
    return kept[[TID, *CTA_COLS]]


def _unrelated_pairs(t: _Batch, cpa: pd.DataFrame) -> pd.DataFrame:
    """C10 onlyLiteralContext (annotation_models.py:380-395): per literal col
    keep only the entity col whose TOP CPA has the best coverage (ties → the
    lowest entity col, matching the reference's strict-> scan); every other
    (entity, literal) pair becomes unrelated."""
    top = cpa.loc[cpa["rank"] == 1, PAIR + ["coverage"]]
    j = t.el_pairs.merge(top, on=PAIR, how="left")
    j["coverage"] = j["coverage"].fillna(-1.0)
    j = j.sort_values([TID, "tail_col", "coverage", "head_col"],
                      ascending=[True, True, False, True], kind="mergesort")
    best = j[(j.groupby([TID, "tail_col"]).cumcount() == 0) & (j["coverage"] > 0)]
    return _anti(t.el_pairs, best, PAIR)


def _triples(t: _Batch, cea: pd.DataFrame, cpa: pd.DataFrame) -> pd.DataFrame:
    """Output assembly (table_annotation.py:114-132): for every rank-1 CPA
    pair and row, subject = the head cell's rank-1 CEA, object = the tail
    cell's rank-1 CEA (entity pairs, score = the lower of the two) or the
    tail cell's non-empty literal (literal pairs, score = the subject's).
    Rank 1 is the output (the reference's cea_annot[cell][0]): unique per
    cell and per column pair. Only entity columns have CEA and only literal
    columns have literal cells, so the tail merge alone tells the two kinds
    apart (table_id + TRIPLE_COLS)."""
    cea = cea[cea["rank"] == 1]
    cpa = cpa[cpa["rank"] == 1]
    head = _cols(cpa, head_col="head_col", tail_col="tail_col", pred="rel").merge(
        _cols(cea, row_idx="row_idx", head_col="col_idx", subj="entity",
              subj_score="score"), on=[TID, "head_col"],
    )
    tail_key = [TID, "row_idx", "tail_col"]
    ent = head.merge(_cols(cea, row_idx="row_idx", tail_col="col_idx", obj="entity",
                           obj_score="score"), on=tail_key)
    lit = head.merge(_cols(t.lit_cells, row_idx="row_idx", tail_col="tail_col",
                           obj="lit_cell"), on=tail_key)
    lit = lit[lit["obj"].str.len() > 0]
    out = pd.concat([
        ent.assign(obj_kind="entity", score=np.minimum(ent["subj_score"], ent["obj_score"])),
        lit.assign(obj_kind="literal", score=lit["subj_score"]),
    ], ignore_index=True)
    return out[[TID, *TRIPLE_COLS]]


def annotate_tables(pdf: pd.DataFrame) -> pd.DataFrame:
    """The kernel: a batch of tables' packed inputs (``KERNEL_PARTS``) →
    their final CEA / CTA / CPA rows and their triples, tagged by ``kind``.
    Each table's output is the same whichever tables share its batch."""
    t = _unpack(pdf)
    if t is None:
        return _output([])
    # pass 1: CEA¹ (only_one=False, no CTA) is the identity on the candidate
    # set plus a rank that CPA voting never reads
    c = t.cand
    s1 = c[CAND_KEY + ["sim"]].assign(
        score=np.where(c["n_cols"] > 1, 0.1 * c["sim"], c["sim"])
    )
    cpa1 = _cpa(t, s1, only_one=False)
    # pass 2: soft re-weighting; the weights from CPA¹ also serve pass 4.
    # Same identity: CTA² votes straight over the scores.
    we = _weights(t, cpa1)
    s2, _, _ = _soft_scores(t, we, cpa1)
    cta2 = _cta(t, s2, only_one=False)
    # pass 3: disambiguation
    cea3 = _cea(t, s2, cta=cta2, only_one=True)
    cta3 = _cta(t, cea3, only_one=True)
    cpa3 = _cpa(t, cea3, only_one=False)
    # pass 4: reinforced disambiguation. The reference's
    # update_context_weight(onlyLiteralContext=True) only populates the
    # unrelated pairs — the entry weights stay the CPA¹ ones; only the CPA
    # used for scale factors advances to CPA³.
    unrelated = _unrelated_pairs(t, cpa3)
    s3, ctxless, potential = _soft_scores(t, we, cpa3, unrelated, last_step=True)
    cea4 = _cea(t, s3, cta=cta3, only_one=True, ctxless=ctxless, potential=potential)
    cta4 = _cta(t, cea4, only_one=True)
    cpa4 = _cpa(t, cea4, only_one=True, unrelated=unrelated)
    return _output([("cea", cea4), ("cta", cta4), ("cpa", cpa4),
                    ("triple", _triples(t, cea4, cpa4))])


def _output(frames: list) -> pd.DataFrame:
    parts = [f.assign(kind=kind) for kind, f in frames if len(f)]
    out = pd.concat(parts, ignore_index=True) if parts else pd.DataFrame()
    return _typed(out.reindex(columns=[TID, *_OUT_TYPES]))


def _annotate_partition(batches):
    """mapInPandas body: all of a partition's tables in one kernel call."""
    pdfs = list(batches)
    if pdfs:
        out = annotate_tables(pd.concat(pdfs, ignore_index=True))
        if len(out):
            yield out


# --------------------------------------------------------------------- driver
@dataclass
class AnnotationResult:
    cea: DataFrame   # final only_one CEA (all kept ties, rank 1 = output)
    cta: DataFrame
    cpa: DataFrame
    triples: DataFrame  # one per annotated (column pair, row)


def annotate(
    cand: DataFrame,
    body: DataFrame,
    col_classes: DataFrame,
    edges: DataFrame,
    degrees: DataFrame,
    timings: dict | None = None,
) -> DataFrame:
    """Full 4-pass annotation (table_annotation.py:51-112): the global
    KG-side inputs, then one job running every table's passes, one kernel
    call per partition. Returns the kernel's kind-tagged output, eagerly
    checkpointed; ``split`` views it as an ``AnnotationResult``."""
    import time as _t

    timings = timings if timings is not None else {}
    spark = cand.sparkSession

    t0 = _t.time()
    with job_group(spark, "annot_build_inputs"):
        packed = build_inputs(cand, body, col_classes, edges, degrees)
    timings["build_inputs"] = round(_t.time() - t0, 2)

    t0 = _t.time()
    with job_group(spark, "annot_pass1"):
        schema = T.StructType(
            [cand.schema["table_id"]]
            + [T.StructField(c, t) for c, t in _OUT_TYPES.items()]
        )
        out = ckpt(
            packed.repartition("table_id").mapInPandas(_annotate_partition, schema),
            eager=True,
        )
    timings["annotate_kernel"] = round(_t.time() - t0, 2)
    return out


def split(out: DataFrame) -> AnnotationResult:
    """The kernel output's per-kind views."""
    def view(kind: str, cols: list) -> DataFrame:
        return out.where(F.col("kind") == kind).select("table_id", *cols)

    return AnnotationResult(
        cea=view("cea", CEA_COLS), cta=view("cta", CTA_COLS),
        cpa=view("cpa", CPA_COLS), triples=view("triple", TRIPLE_COLS),
    )
