"""Spark-free test of the annotation kernel (``annotation.annotate_tables``,
passes 1–4 as one pandas function over a batch of tables).

Each fixture table is read with plain Python: the CSV grid, column classes
from the cell typer, candidates from a fuzzy label match against the
mini-KG, and the KG-side inputs from ``oracle.KG``. The same inputs are
packed into the kernel's tagged-union frame and handed to
``oracle.TableOracle``; the final CEA tie sets, CTA types and CPA relations
(with their scores) must be identical. The kernel's triples must be the
ones the emission rule gives over its own rank-1 CEA and CPA and the grid's
literal cells. A table's output must also be the same whichever other
tables share its kernel call.
"""

from __future__ import annotations

import csv
import io
import os
import random
import sys

import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from table_annotation_spark import fixtures
from table_annotation_spark.functions import typing_fns as tf
from table_annotation_spark.functions.similarity import ratio
from table_annotation_spark.operators.annotation import annotate_tables
from table_annotation_spark.operators.lookup import DATE_TYPES, NUM_NOUNIT, NUM_UNIT

from oracle import KG, LIT_CLASSES, TableOracle

# candidate floors: the lookup kernel's fuzzy floor, and a noisy one that
# gives most cells several candidates with uneven sims
MIN_SIM = 0.7
NOISY_SIM = 0.4
TOP_K = 5


def _grid(row: dict) -> list[list[str]]:
    text = row["content"]
    delim = "\t" if row["lang"] == "tsv" else (";" if ";" in text.split("\n")[0] else ",")
    rows = [r for r in csv.reader(io.StringIO(text), delimiter=delim) if any(r)]
    width = max(len(r) for r in rows)
    return [r + [""] * (width - len(r)) for r in rows[1:]]


def _labels() -> dict[str, list[str]]:
    out: dict[str, list[str]] = {}
    for r in fixtures.mini_kg()[0]:
        out.setdefault(r["entity"], []).append(tf.normalize_label(r["label"]))
    return out


def _candidates(cell: str, labels: dict, min_sim: float) -> list[tuple[str, float]]:
    m = tf.normalize_label(cell)
    if not m:
        return []
    scored = [(ent, max(ratio(m, lb) for lb in lbs)) for ent, lbs in labels.items()]
    scored = sorted((s for s in scored if s[1] >= min_sim), key=lambda s: (-s[1], s[0]))
    return scored[:TOP_K]


def _column_class(cells: list[str], n_with_cands: int) -> str:
    filled = [c for c in cells if c.strip()]
    if filled and 2 * n_with_cands >= len(filled):
        return "entity"
    types = [tf.type_cell(c) for c in filled]
    top = max(set(types), key=lambda t: (types.count(t), t)) if types else ""
    if top in DATE_TYPES:
        return "date"
    if top in NUM_UNIT:
        return "numeral_unit"
    if top in NUM_NOUNIT:
        return "numeral"
    return "textual"


def _table(grid: list[list[str]], labels: dict, min_sim: float = MIN_SIM):
    """(column classes, {(r, c): [(entity, sim)]}) of one grid."""
    classes, cands = {}, {}
    for c in range(len(grid[0])):
        col = {(r, c): _candidates(grid[r][c], labels, min_sim) for r in range(len(grid))}
        col = {k: v for k, v in col.items() if v}
        classes[c] = _column_class([row[c] for row in grid], len(col))
        if classes[c] == "entity":
            cands.update(col)
    return classes, cands


def _packed(grid, classes, cands, kg: KG, table_id="t") -> pd.DataFrame:
    """One table's kernel input, built from the oracle's KG view: the
    kernel does its own literal matching (C7) over the candidates' literal
    edges."""
    helper = TableOracle(grid, classes, cands, kg)
    ecols = sorted(c for c, k in classes.items() if k == "entity")
    lcols = sorted(c for c, k in classes.items() if k in LIT_CLASSES)
    parts: dict[str, list[dict]] = {k: [] for k in (
        "cand", "col", "shape", "lit_cell", "lit_edge", "pair_rel", "type",
        "supertype", "type_nb", "pid")}
    parts["shape"].append({"n_cols": len(grid[0]), "n_data_rows": len(grid)})
    parts["col"] += [{"col_idx": c, "col_class": k} for c, k in classes.items()]
    for (r, c), lst in cands.items():
        parts["cand"] += [{"row_idx": r, "col_idx": c, "entity": e, "sim": s,
                           "cell_len": len(grid[r][c])} for e, s in lst]
    for lc in lcols:
        parts["lit_cell"] += [{"row_idx": r, "lit_col": lc, "lit_cell": grid[r][lc]}
                              for r in range(len(grid))]
    pairs = set()
    for r in range(len(grid)):
        for i, hc in enumerate(ecols):
            for tc in ecols[i + 1:]:
                pairs |= {(h, t) for h, _ in cands.get((r, hc), [])
                          for t, _ in cands.get((r, tc), []) if h != t}
    for h, t in sorted(pairs):
        parts["pair_rel"] += [{"head_ent": h, "tail_ent": t, "rel": rel, "prox": p}
                              for rel, p in helper._pair_relations(h, t).items()]
    vocab = set()
    for ent in sorted({e for lst in cands.values() for e, _ in lst}):
        for level, types in kg.hierarchical_types(ent).items():
            parts["type"] += [{"entity": ent, "type": ty, "level": level, "rank": rk}
                              for ty, rk in types.items()]
            vocab |= set(types)
        parts["pid"] += [{"entity": ent, "rel": p} for p in sorted(kg.pids.get(ent, ()))]
        for obj, plist in kg.lit_nbrs.get(ent, {}).items():
            for pid, littype in plist:
                unit = littype.split("-", 1)[1] if littype.startswith("Quantity-") else None
                parts["lit_edge"].append({
                    "entity": ent, "rel": pid, "obj": obj, "obj_type": littype,
                    "unit_symbol": kg.unit_symbol.get(unit)})
    for ty in sorted(vocab):
        parts["supertype"] += [{"type": ty, "supertype": s} for s in kg.supertypes(ty)]
        parts["type_nb"] += [{"type": ty, "neighbor": n} for n in kg.type_graph(ty)]
    return pd.concat(
        [pd.DataFrame(rows).assign(kind=kind) for kind, rows in parts.items() if rows],
        ignore_index=True,
    ).assign(table_id=table_id)


_ALONE: dict[str, pd.DataFrame] = {}


def _alone(grid, classes, cands, kg: KG) -> pd.DataFrame:
    """The kernel's output for one table run alone, memoized so that the
    batch test reuses the per-table tests' runs."""
    key = repr((grid, sorted(classes.items()), sorted(cands.items())))
    if key not in _ALONE:
        _ALONE[key] = annotate_tables(_packed(grid, classes, cands, kg))
    return _ALONE[key]


def _run(grid, classes, cands):
    kg = KG(fixtures.mini_kg()[1])
    out = _alone(grid, classes, cands, kg)
    oracle = TableOracle(grid, classes, cands, kg)
    oracle.run()
    return out, oracle


def _assert_same(out: pd.DataFrame, o: TableOracle) -> None:
    cea = out[out["kind"] == "cea"]
    _assert_close(
        {(int(r.row_idx), int(r.col_idx), r.entity): (r.score,) for r in cea.itertuples()},
        {(r, c, cd["ent"]): (cd["score"],) for (r, c), v in o.cea.items() for cd in v},
    )
    for _, g in cea.groupby(["row_idx", "col_idx"]):
        assert sorted(g["rank"]) == list(range(1, len(g) + 1))

    cta = out[out["kind"] == "cta"]
    _assert_close(
        {(int(r.col_idx), r.type): (r.score, r.coverage) for r in cta.itertuples()},
        {(c, a["type"]): (a["score"], a["coverage"]) for c, v in o.cta.items() for a in v},
    )
    cpa = out[out["kind"] == "cpa"]
    _assert_close(
        {(int(r.head_col), int(r.tail_col), r.rel): (r.score, r.coverage, r.prox)
         for r in cpa.itertuples()},
        {(h, t, a["rel"]): (a["score"], a["coverage"], a["prox"])
         for (h, t), v in o.cpa.items() for a in v},
    )
    _assert_triples(out, o)


def _assert_triples(out: pd.DataFrame, o: TableOracle) -> None:
    """The emission rule, row by row: for every rank-1 CPA pair and row with
    a rank-1 CEA head, the object is the tail's rank-1 CEA (score = the
    lower of the two) or its non-empty literal cell (score = the head's)."""
    top = out[out["rank"] == 1]
    cea = {(int(r.row_idx), int(r.col_idx)): (r.entity, r.score)
           for r in top[top["kind"] == "cea"].itertuples()}
    want = {}
    for p in top[top["kind"] == "cpa"].itertuples():
        h, t = int(p.head_col), int(p.tail_col)
        for row in range(o.n_rows):
            if (row, h) not in cea:
                continue
            subj, s_score = cea[(row, h)]
            if t in o.literal_cols:
                if o.grid[row][t]:
                    want[(row, h, t, subj, p.rel, o.grid[row][t], "literal")] = (s_score,)
            elif (row, t) in cea:
                obj, o_score = cea[(row, t)]
                want[(row, h, t, subj, p.rel, obj, "entity")] = (min(s_score, o_score),)
    tr = out[out["kind"] == "triple"]
    got = {(int(r.row_idx), int(r.head_col), int(r.tail_col), r.subj, r.pred, r.obj,
            r.obj_kind): (r.score,) for r in tr.itertuples()}
    assert len(got) == len(tr)
    _assert_close(got, want)


def _assert_close(got: dict, want: dict) -> None:
    assert set(got) == set(want)
    for k, v in want.items():
        assert got[k] == pytest.approx(v), k


TABLES = {r["path"]: r for r in fixtures.source_rows() if r["lang"] in ("csv", "tsv")}


@pytest.mark.parametrize("min_sim", [MIN_SIM, NOISY_SIM], ids=["clean", "noisy"])
@pytest.mark.parametrize("path", sorted(TABLES))
def test_fixture_table_matches_oracle(path, min_sim):
    grid = _grid(TABLES[path])
    classes, cands = _table(grid, _labels(), min_sim)
    out, oracle = _run(grid, classes, cands)
    _assert_same(out, oracle)


def test_fixture_tables_are_annotated():
    """The fixture set exercises every output: some table yields CEA, CTA,
    entity-entity CPA and entity-literal CPA."""
    kinds = set()
    for row in TABLES.values():
        grid = _grid(row)
        classes, cands = _table(grid, _labels())
        out, _ = _run(grid, classes, cands)
        kinds |= set(out["kind"])
        cpa = out[out["kind"] == "cpa"]
        kinds |= {"cpa_" + classes[int(t)] if classes[int(t)] == "entity" else "cpa_literal"
                  for t in cpa["tail_col"]}
    assert kinds >= {"cea", "cta", "cpa", "cpa_entity", "cpa_literal"}


FILMS = {  # film → (cast, genre, publication date) in the mini-KG
    "Q1": ("Q21", "Q31", "1994-10-14"), "Q2": ("Q22", "Q32", "1994-07-06"),
    "Q3": ("Q23", "Q33", "1999-03-31"), "Q4": ("Q24", "Q34", "1997-12-19"),
}
CAPITALS = {"Q90": "Q142", "Q84": "Q145", "Q1490": "Q17", "Q64": "Q183", "Q220": "Q38"}
SIMS = (1.0, 1.0, 0.95, 0.9, 0.8, 0.72, 0.65)


def _random_table(seed: int):
    """A seeded noisy table over the mini-KG: a film table (film, cast,
    genre, release date) or a capitals table, with mostly-right rows, mention
    texts of both length classes, tied and uneven sims, distractor
    candidates and cells without candidates."""
    rng = random.Random(seed)
    labels = {e: lbs[0] for e, lbs in _labels().items()}
    ents = sorted(labels)
    if rng.random() < 0.6:
        truth = [rng.choice(sorted(FILMS)) for _ in range(rng.randint(2, 7))]
        rows = [[f, *FILMS[f][:2], FILMS[f][2]] for f in truth]
        classes = {0: "entity", 1: "entity", 2: "entity", 3: "date"}
    else:
        truth = [rng.choice(sorted(CAPITALS)) for _ in range(rng.randint(2, 7))]
        rows = [[c, CAPITALS[c]] for c in truth]
        classes = {0: "entity", 1: "entity"}
    grid, cands = [], {}
    for r, row in enumerate(rows):
        cells = []
        for c, v in enumerate(row):
            if classes[c] != "entity":
                cells.append(v if rng.random() < 0.8 else "2001-01-01")
                continue
            if rng.random() < 0.15:
                v = rng.choice(ents)
            text = labels[v] if rng.random() < 0.7 else labels[v][:5]
            cells.append(text)
            if rng.random() < 0.1:
                continue
            lst = {v: rng.choice(SIMS)}
            for d in rng.sample(ents, rng.randint(0, 3)):
                lst.setdefault(d, rng.choice(SIMS))
            cands[(r, c)] = sorted(lst.items(), key=lambda s: (-s[1], s[0]))
        grid.append(cells)
    return grid, classes, cands


@pytest.mark.parametrize("seed", range(40))
def test_random_table_matches_oracle(seed):
    grid, classes, cands = _random_table(seed)
    out, oracle = _run(grid, classes, cands)
    _assert_same(out, oracle)


def test_single_column_table():
    grid = [[r[0]] for r in _grid(TABLES["data/capitals.csv"])]
    classes, cands = _table(grid, _labels())
    assert len(grid[0]) == 1 and cands
    out, oracle = _run(grid, classes, cands)
    _assert_same(out, oracle)
    assert not (out["kind"] == "cpa").any()
    assert set(out.loc[out["kind"] == "cea", "entity"]) >= {"Q90", "Q84", "Q220"}


def test_entity_literal_pairs_only():
    grid = _grid(TABLES["data/films_detail.csv"])
    classes, cands = _table(grid, _labels())
    assert [c for c, k in classes.items() if k == "entity"] == [0]
    out, oracle = _run(grid, classes, cands)
    _assert_same(out, oracle)
    cpa = out[out["kind"] == "cpa"]
    assert set(zip(cpa["head_col"], cpa["tail_col"], cpa["rel"])) >= {(0, 1, "P577")}


def test_quantity_with_unit_symbol():
    """C7's base-unit branch: Quantity-Q11573 edges (unit symbol "m" in the
    fixture KG) match "<n> m" cells, exactly or within the 0.95 gate. An
    edge whose unit has no symbol never matches, even against a unit-less
    cell that "<n> nan" would parse as — whether the missing symbol arrives
    as None or as NaN."""
    extra = [
        {"subj": s, "pred": "P2044", "reverse": False, "obj": o,
         "obj_kind": "literal", "obj_type": f"Quantity-{u}"}
        for s, o, u in (("Q90", "35", "Q11573"), ("Q84", "11", "Q11573"),
                        ("Q1490", "40", "Q11573"), ("Q64", "34", "Q99999"))
    ]
    kg = KG(fixtures.mini_kg()[1] + extra)
    assert "Q99999" not in kg.unit_symbol
    grid = [["Paris", "35 m"], ["London", "11 m"], ["Tokyo", "41 m"],
            ["Berlin", "34"], ["Rome", "8848 m"]]
    classes = {0: "entity", 1: "numeral_unit"}
    cands = {(r, 0): _candidates(row[0], _labels(), MIN_SIM) for r, row in enumerate(grid)}
    assert all(cands.values())
    pdf = _packed(grid, classes, cands, kg)
    out = annotate_tables(pdf)
    oracle = TableOracle(grid, classes, cands, kg)
    oracle.run()
    _assert_same(out, oracle)
    assert ("Q1490", "41 m") in oracle.lit_cpa
    assert not any(ent == "Q64" for ent, _ in oracle.lit_cpa)
    cpa = out[out["kind"] == "cpa"]
    assert (0, 1, "P2044") in set(zip(cpa["head_col"], cpa["tail_col"], cpa["rel"]))

    edge = pdf["kind"] == "lit_edge"
    assert pdf.loc[edge, "unit_symbol"].isna().any()
    nan = pdf.assign(unit_symbol=pdf["unit_symbol"].where(~edge | pdf["unit_symbol"].notna(),
                                                         float("nan")))
    pd.testing.assert_frame_equal(annotate_tables(nan), out, check_exact=True)


def test_empty_candidate_set():
    grid = _grid(TABLES["data/readings.csv"])
    classes, cands = _table(grid, _labels())
    assert not cands
    pdf = _packed(grid, classes, cands, KG(fixtures.mini_kg()[1]))
    out = annotate_tables(pdf)
    assert out.empty and list(out.columns)[0] == "table_id"
    oracle = TableOracle(grid, classes, cands, KG(fixtures.mini_kg()[1]))
    oracle.run()
    assert not oracle.cea and not oracle.cta and not oracle.cpa


def _no_context_table():
    """Films next to unrelated capitals: no CPA, so no cell records
    context, and pass 4 must treat no cell as contextless."""
    labels = {e: lbs[0] for e, lbs in _labels().items()}
    grid = [[labels[f], labels[c]] for f, c in zip(sorted(FILMS), sorted(CAPITALS))]
    return (grid, *_table(grid, _labels()))


def _gap_table():
    """Films with their cast and publication date, one empty date cell and
    one cast cell that has no candidate."""
    labels = {e: lbs[0] for e, lbs in _labels().items()}
    grid = [[labels[f], labels[cast], date] for f, (cast, _, date) in sorted(FILMS.items())]
    grid[1][2] = ""
    grid[2][1] = "zzz qqq"
    classes = {0: "entity", 1: "entity", 2: "date"}
    cands = {(r, c): _candidates(grid[r][c], _labels(), MIN_SIM)
             for r in range(len(grid)) for c in (0, 1)}
    return grid, classes, {k: v for k, v in cands.items() if v}


def test_gaps_give_no_triple():
    """An empty literal cell and a tail entity cell without a candidate
    give no triple; the same rows' other pairs still do."""
    grid, classes, cands = _gap_table()
    assert (2, 1) not in cands and len(cands) == 2 * len(grid) - 1
    out, oracle = _run(grid, classes, cands)
    _assert_same(out, oracle)
    tr = out[out["kind"] == "triple"]
    cells = set(zip(tr["row_idx"], tr["tail_col"]))
    assert (1, 2) not in cells and (2, 1) not in cells
    assert {(1, 1), (2, 2)} <= cells
    assert set(tr["pred"]) == {"P161", "P577"}


def _batch_cases() -> list[tuple]:
    """(grid, classes, cands) of every fixture table at both candidate
    floors, the seeded noisy tables and the edge cases: a single-column
    table, entity-to-literal pairs only and an empty candidate set (both
    fixture tables), a table with no recorded context and one with gaps
    (an empty literal cell, an entity cell without candidates)."""
    cases = []
    for path in sorted(TABLES):
        grid = _grid(TABLES[path])
        cases += [(grid, *_table(grid, _labels(), m)) for m in (MIN_SIM, NOISY_SIM)]
    cases += [_random_table(seed) for seed in range(40)]
    single = [[r[0]] for r in _grid(TABLES["data/capitals.csv"])]
    cases += [(single, *_table(single, _labels())), _no_context_table(), _gap_table()]
    return cases


def _canonical(out: pd.DataFrame) -> pd.DataFrame:
    cols = [c for c in out.columns if c != "table_id"]
    return out[cols].sort_values(cols, kind="mergesort").reset_index(drop=True)


def test_no_context_table():
    grid, classes, cands = _no_context_table()
    out, oracle = _run(grid, classes, cands)
    _assert_same(out, oracle)
    assert cands and not oracle.contextless and not (out["kind"] == "cpa").any()


def test_batch_invariance():
    """Every table's output is identical, row for row and bit for bit,
    whether it runs alone, in one batch with all the others, in a shuffled
    batch or in random splits — no per-table flag leaks across tables."""
    kg = KG(fixtures.mini_kg()[1])
    cases = _batch_cases()
    packed = [_packed(g, cl, ca, kg, table_id=i) for i, (g, cl, ca) in enumerate(cases)]
    alone = [_canonical(_alone(g, cl, ca, kg)) for g, cl, ca in cases]
    assert any(o.empty for o in alone)

    rng = random.Random(0)
    order = list(range(len(packed)))
    shuffled = rng.sample(order, len(order))
    batchings = [[order], [shuffled]]
    for _ in range(2):
        ids = rng.sample(order, len(order))
        cuts = sorted(rng.sample(range(1, len(ids)), rng.randint(2, 6)))
        batchings.append([ids[a:b] for a, b in zip([0, *cuts], [*cuts, len(ids)])])
    for n, batches in enumerate(batchings):
        for ids in batches:
            out = annotate_tables(pd.concat([packed[i] for i in ids], ignore_index=True))
            assert set(out["table_id"]) <= set(ids)
            for i in ids:
                pd.testing.assert_frame_equal(
                    _canonical(out[out["table_id"] == i]), alone[i], check_exact=True,
                )
                if n == 0:  # the whole batch in order, also against the oracle
                    oracle = TableOracle(*cases[i], kg)
                    oracle.run()
                    _assert_same(out[out["table_id"] == i], oracle)
