"""P/R of the Spark engine vs the pure-Python reference-semantics oracle
(tests/oracle.py) over all fixture tables — the BASELINE.json quality gate
(CEA/CTA/CPA P/R ≥ 0.95), held here at exact equality (P = R = 1.0), which
pins the engine's tie handling.

Shared inputs (body cells, column classes, lookup candidates) feed both
implementations; everything downstream — pair relations, context scoring,
the 4 passes, the voting — is computed twice: once relationally in Spark,
once with dicts/loops in the oracle.
"""

import os
import sys
from collections import defaultdict

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from pyspark.sql import functions as F

from table_annotation_spark import fixtures
from table_annotation_spark.operators import lookup as lk
from table_annotation_spark.operators.annotation import annotate, split
from table_annotation_spark.operators.preprocessing import (
    body_cells,
    column_meta,
    preprocess,
)
from table_annotation_spark.sources import kg_build

from oracle import KG, TableOracle


@pytest.fixture(scope="module")
def both(spark, src_df, kg):
    labels, edges = kg
    degrees = kg_build.degrees(edges).localCheckpoint(eager=True)
    prep = preprocess(src_df).localCheckpoint(eager=True)
    body = body_cells(prep).localCheckpoint(eager=True)
    classes = lk.classify_columns(column_meta(prep), body).localCheckpoint(eager=True)
    cand, _ = lk.lookup(body, classes, labels, lk.token_idf(labels))
    cand = cand.localCheckpoint(eager=True)
    result = split(annotate(cand, body, classes, edges, degrees))

    # shared inputs → oracle, per table
    body_rows = body.collect()
    class_rows = classes.collect()
    cand_rows = cand.collect()
    grids: dict[str, dict] = defaultdict(
        lambda: {"cells": {}, "classes": {}, "cands": defaultdict(list)}
    )
    for r in body_rows:
        grids[r["table_id"]]["cells"][(r["row_idx"], r["col_idx"])] = r["cell"]
    for r in class_rows:
        grids[r["table_id"]]["classes"][r["col_idx"]] = r["col_class"]
    for r in cand_rows:
        grids[r["table_id"]]["cands"][(r["row_idx"], r["col_idx"])].append(
            (r["entity"], r["score"])
        )

    _, edge_rows = fixtures.mini_kg()
    kg_o = KG(edge_rows)
    oracles: dict[str, TableOracle] = {}
    for tid, g in grids.items():
        if not g["cands"]:
            continue
        n_rows = max(k[0] for k in g["cells"]) + 1
        n_cols = max(k[1] for k in g["cells"]) + 1
        grid = [
            [g["cells"].get((r, c), "") for c in range(n_cols)]
            for r in range(n_rows)
        ]
        o = TableOracle(grid, g["classes"], dict(g["cands"]), kg_o)
        o.run()
        oracles[tid] = o
    return {"result": result, "oracles": oracles}


def _pr(matches: int, spark_total: int, oracle_total: int) -> tuple[float, float]:
    p = matches / spark_total if spark_total else 1.0
    r = matches / oracle_total if oracle_total else 1.0
    return p, r


class TestParity:
    def test_cea_pr(self, both):
        oracles = both["oracles"]
        spark_top: dict[tuple, str] = {}
        for row in both["result"].cea.collect():
            key = (row["table_id"], row["row_idx"], row["col_idx"])
            if key not in spark_top or row["rank"] < spark_top[key][1]:
                spark_top[key] = (row["entity"], row["rank"])
        matches = spark_n = oracle_n = 0
        mismatches = []
        for tid, o in oracles.items():
            for (r, c), kept in o.cea.items():
                oracle_n += 1
                tie_set = {cd["ent"] for cd in kept}
                got = spark_top.get((tid, r, c))
                if got is None:
                    continue
                spark_n += 1
                if got[0] in tie_set:
                    matches += 1
                else:
                    mismatches.append((tid[:8], r, c, got[0], tie_set))
        p, rec = _pr(matches, spark_n, oracle_n)
        assert (p, rec) == (1.0, 1.0), mismatches[:10]

    def test_cta_pr(self, both):
        oracles = both["oracles"]
        spark_cta = defaultdict(set)
        for row in both["result"].cta.collect():
            spark_cta[(row["table_id"], row["col_idx"])].add(row["type"])
        matches = spark_n = oracle_n = 0
        mismatches = []
        for tid, o in oracles.items():
            for c, kept in o.cta.items():
                want = {k["type"] for k in kept}
                got = spark_cta.get((tid, c), set())
                oracle_n += len(want)
                spark_n += len(got)
                matches += len(want & got)
                if want != got:
                    mismatches.append((tid[:8], c, sorted(got), sorted(want)))
        p, rec = _pr(matches, spark_n, oracle_n)
        assert (p, rec) == (1.0, 1.0), mismatches[:10]

    def test_cpa_pr(self, both):
        oracles = both["oracles"]
        spark_cpa = defaultdict(set)
        for row in both["result"].cpa.collect():
            spark_cpa[(row["table_id"], row["head_col"], row["tail_col"])].add(
                row["rel"]
            )
        matches = spark_n = oracle_n = 0
        mismatches = []
        for tid, o in oracles.items():
            for (hc, tc), kept in o.cpa.items():
                want = {k["rel"] for k in kept}
                got = spark_cpa.get((tid, hc, tc), set())
                oracle_n += len(want)
                spark_n += len(got)
                matches += len(want & got)
                if want != got:
                    mismatches.append((tid[:8], hc, tc, sorted(got), sorted(want)))
        p, rec = _pr(matches, spark_n, oracle_n)
        assert (p, rec) == (1.0, 1.0), mismatches[:10]
