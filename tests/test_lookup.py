"""Stage 3: blocked fuzzy candidate generation against the mini-KG."""

import pytest
from pyspark.sql import functions as F

from table_annotation_spark import fixtures
from table_annotation_spark.operators import lookup as lk
from table_annotation_spark.operators.preprocessing import (
    body_cells,
    column_meta,
    preprocess,
)


@pytest.fixture(scope="module")
def pipeline(spark, src_df, kg):
    labels, edges = kg
    prep = preprocess(src_df).cache()
    body = body_cells(prep).cache()
    cols = column_meta(prep)
    classes = lk.classify_columns(cols, body).cache()
    idf = lk.token_idf(labels).cache()
    cand, kept = lk.lookup(body, classes, labels, idf)
    return {"body": body, "classes": classes, "cand": cand.cache(), "kept": kept}


class TestColumnClasses:
    def test_movie_columns(self, spark, pipeline):
        tid = fixtures.table_id_of("acme/movies", "data/films.csv", "a" * 40)
        classes = {
            r["col_idx"]: r["col_class"]
            for r in pipeline["classes"].where(F.col("table_id") == tid).collect()
        }
        assert classes[0] == "entity"   # Title
        assert classes[1] == "date"     # Year
        assert classes[2] == "entity"   # Cast
        assert classes[3] == "entity"   # Genre

    def test_noheader_numeric_index(self, spark, pipeline):
        tid = fixtures.table_id_of("acme/metrics", "data/readings.csv", "d" * 40)
        classes = {
            r["col_idx"]: r["col_class"]
            for r in pipeline["classes"].where(F.col("table_id") == tid).collect()
        }
        assert classes[0] == "index"


class TestCandidates:
    def test_top_candidate_exact(self, spark, pipeline):
        cand = pipeline["cand"]
        tid = fixtures.table_id_of("acme/movies", "data/films.csv", "a" * 40)
        top = (
            cand.where((F.col("table_id") == tid) & (F.col("mention_norm") == "pulp fiction"))
            .orderBy(F.desc("score"))
            .first()
        )
        assert top["entity"] == "Q1"  # film outranks the soundtrack (PR + origin)

    def test_fuzzy_match_survives_typo(self, spark, kg):
        labels, _ = kg
        spark_ = labels.sparkSession
        m = spark_.createDataFrame([("pulp fictoin",)], ["mention_norm"])
        pairs = lk.candidate_pairs(m, labels)
        idf = lk.token_idf(labels)
        out = lk.score_candidates(pairs, idf).collect()
        assert any(r["entity"] == "Q1" for r in out)

    def test_alias_weighting(self, spark, kg):
        labels, _ = kg
        spark_ = labels.sparkSession
        m = spark_.createDataFrame([("mufc",)], ["mention_norm"])
        pairs = lk.candidate_pairs(m, labels)
        out = lk.score_candidates(pairs, lk.token_idf(labels)).collect()
        best = max(out, key=lambda r: r["score"])
        assert best["entity"] == "Q18656"  # the MUFC golden (README.md:40-47)

    def test_adaptive_threshold_prunes(self, spark, kg):
        labels, _ = kg
        spark_ = labels.sparkSession
        m = spark_.createDataFrame([("paris",)], ["mention_norm"])
        out = lk.score_candidates(
            lk.candidate_pairs(m, labels), lk.token_idf(labels)
        ).collect()
        ents = {r["entity"] for r in out}
        assert "Q90" in ents and "Q91" in ents
        best = max(out, key=lambda r: r["score"])
        assert best["entity"] == "Q90"  # PR separates Paris from Paris, Texas

    def test_hot_gram_dropped_exact_path_survives(self, spark, kg):
        labels, _ = kg
        spark_ = labels.sparkSession
        m = spark_.createDataFrame([("usa",)], ["mention_norm"])
        pairs = lk.candidate_pairs(m, labels, max_gram_df=0)  # drop ALL grams
        out = lk.score_candidates(pairs, lk.token_idf(labels)).collect()
        assert any(r["entity"] == "Q30" for r in out)

    def test_coverage_demotion(self, spark, pipeline):
        # every kept entity column must have coverage >= 0.3
        for r in pipeline["kept"].collect():
            assert r["coverage"] >= 0.3
