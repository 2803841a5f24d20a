"""Golden CEA/CTA/CPA tests over the fixture tables + mini-KG.

Goldens are hand-derived from the reference's semantics (SURVEY.md §2.5):
- movie table: CEA = films/actors/genres (film must beat the soundtrack
  distractor via context), CTA col0 = Q11424 film (+P279 ancestors), CPA
  (0,2) = P161 cast, (0,3) = P136 genre, (0,1) = P577 publication date.
- city table: CEA = cities/countries (Paris the city must beat Paris, Texas),
  CPA (0,1) = P1376 capital-of.
"""

import pytest
from pyspark.sql import functions as F

from table_annotation_spark import fixtures
from table_annotation_spark.operators import lookup as lk
from table_annotation_spark.operators.annotation import annotate, split
from table_annotation_spark.operators.materialize import canonicalize
from table_annotation_spark.operators.preprocessing import (
    body_cells,
    column_meta,
    preprocess,
)
from table_annotation_spark.sources import kg_build

MOVIE_TID = fixtures.table_id_of("acme/movies", "data/films.csv", "a" * 40)
CITY_TID = fixtures.table_id_of("acme/geo", "data/capitals.csv", "b" * 40)
LIT_TID = fixtures.table_id_of("acme/movies", "data/films_detail.csv", "e" * 40)


@pytest.fixture(scope="module")
def annotated(spark, src_df, kg):
    labels, edges = kg
    degrees = kg_build.degrees(edges).localCheckpoint(eager=True)
    prep = preprocess(src_df).localCheckpoint(eager=True)
    body = body_cells(prep).localCheckpoint(eager=True)
    classes = lk.classify_columns(column_meta(prep), body).localCheckpoint(eager=True)
    idf = lk.token_idf(labels)
    cand, _ = lk.lookup(body, classes, labels, idf)
    cand = cand.localCheckpoint(eager=True)
    result = split(annotate(cand, body, classes, edges, degrees))
    return {"result": result, "cand": cand, "body": body}


def _cea_map(result, tid):
    rows = result.cea.where(F.col("table_id") == tid).collect()
    out = {}
    for r in sorted(rows, key=lambda r: r["rank"]):
        out.setdefault((r["row_idx"], r["col_idx"]), r["entity"])
    return out


class TestCEA:
    def test_movie_cea(self, annotated):
        cea = _cea_map(annotated["result"], MOVIE_TID)
        # films (col 0) — context must separate Q1 from soundtrack Q5P
        assert cea[(0, 0)] == "Q1"
        assert cea[(1, 0)] == "Q2"
        assert cea[(2, 0)] == "Q3"
        assert cea[(3, 0)] == "Q4"  # the film, not the ship Q44
        # actors (col 2)
        assert cea[(0, 2)] == "Q21"
        assert cea[(3, 2)] == "Q24"
        # genres (col 3)
        assert cea[(0, 3)] == "Q31"

    def test_city_cea(self, annotated):
        cea = _cea_map(annotated["result"], CITY_TID)
        assert cea[(0, 0)] == "Q90"   # Paris the city, not Paris TX (Q91)
        assert cea[(0, 1)] == "Q142"
        assert cea[(4, 0)] == "Q220"
        assert cea[(4, 1)] == "Q38"


class TestCTA:
    def test_movie_cta(self, annotated):
        cta = annotated["result"].cta.where(
            (F.col("table_id") == MOVIE_TID) & (F.col("col_idx") == 0)
        ).collect()
        types = {r["type"] for r in cta}
        assert fixtures.FILM in types
        top = min(cta, key=lambda r: r["rank"])
        assert top["type"] == fixtures.FILM
        assert top["coverage"] == 1.0

    def test_city_cta(self, annotated):
        cta = annotated["result"].cta.where(
            (F.col("table_id") == CITY_TID) & (F.col("col_idx") == 0)
        ).collect()
        top = min(cta, key=lambda r: r["rank"])
        assert top["type"] == fixtures.CITY


class TestCPA:
    def _cpa_map(self, result, tid):
        rows = result.cpa.where(F.col("table_id") == tid).collect()
        out = {}
        for r in sorted(rows, key=lambda r: r["rank"]):
            out.setdefault((r["head_col"], r["tail_col"]), r["rel"])
        return out

    def test_movie_cpa(self, annotated):
        cpa = self._cpa_map(annotated["result"], MOVIE_TID)
        assert cpa[(0, 2)] == "P161"   # cast member
        assert cpa[(0, 3)] == "P136"   # genre
        assert cpa.get((0, 1)) == "P577"  # Year literal → publication date

    def test_city_cpa(self, annotated):
        # P1376/P131/P17 are all direct city→country edges with identical
        # votes — the reference keeps ALL score-ties (only_one semantics,
        # annotation_models.py:1108-1114) and its [0] is dict-order
        # arbitrary; we assert the tie set.
        rows = annotated["result"].cpa.where(
            (F.col("table_id") == CITY_TID)
            & (F.col("head_col") == 0) & (F.col("tail_col") == 1)
        ).collect()
        kept = {r["rel"] for r in rows}
        assert "P1376" in kept
        assert kept <= {"P1376", "P131", "P17", "(-)P36"}

    def test_literal_date_cpa(self, annotated):
        cpa = self._cpa_map(annotated["result"], LIT_TID)
        assert cpa.get((0, 1)) == "P577"  # exact ISO date match


class TestTriples:
    def test_triples_contain_movie_facts(self, annotated):
        t = annotated["result"].triples
        cea_m = annotated["result"].cea.join(
            annotated["cand"].select(
                "table_id", "row_idx", "col_idx", "entity", "mention_norm"
            ),
            ["table_id", "row_idx", "col_idx", "entity"],
        )
        canon = canonicalize(t, cea_m)
        triples = {(r["subj"], r["pred"], r["obj"]) for r in canon.collect()}
        assert ("Q1", "P161", "Q21") in triples
        assert ("Q1", "P136", "Q31") in triples
        # city→country pred is a score-tie among direct edges (see
        # TestCPA.test_city_cpa) — any tied pred is a faithful emission
        assert any(
            s == "Q90" and o == "Q142" and p in ("P1376", "P131", "P17")
            for (s, p, o) in triples
        )
        # literal triple: publication year/date column
        assert any(s == "Q1" and p == "P577" for (s, p, o) in triples)

    def test_canonicalization_stable_ids(self, annotated):
        t = annotated["result"].triples
        cea_m = annotated["result"].cea.join(
            annotated["cand"].select(
                "table_id", "row_idx", "col_idx", "entity", "mention_norm"
            ),
            ["table_id", "row_idx", "col_idx", "entity"],
        )
        canon = canonicalize(t, cea_m)
        subs = {r["subj"] for r in canon.collect()}
        assert all(s.startswith("Q") for s in subs)
