"""Stage 0: KG build from JSONL dumps (S5/S6) + derived tables."""

import json

import pytest
from pyspark.sql import functions as F

from table_annotation_spark.sources import kg_build

LABELS_JSONL = [
    {"entity": "Q1", "label": "Pulp Fiction", "main_aliases": ["Pulp fiction"],
     "sub_aliases": ["PF"], "pr": 0.6},
    {"entity": "Q2", "label": "Forrest Gump", "main_aliases": [],
     "sub_aliases": None, "pr": 0.5},
]

EDGES_JSONL = [
    {"subj": "Q1", "pred": "P31", "obj": "Q11424", "obj_kind": "entity",
     "obj_type": "PREFERRED"},
    {"subj": "Q1", "pred": "P577", "obj": "1994-00-00", "obj_kind": "literal",
     "obj_type": "DateTime-9"},
    {"subj": "Q1", "pred": "P1889", "obj": "Q999", "obj_kind": "entity",
     "obj_type": "NORMAL"},  # different-from → dropped
    {"subj": "Q11424", "pred": "P279", "obj": "Q2431196", "obj_kind": "entity",
     "obj_type": "NORMAL"},
    {"subj": "Q2431196", "pred": "P279", "obj": "Q386724", "obj_kind": "entity",
     "obj_type": "NORMAL"},
]


@pytest.fixture(scope="module")
def jsonl_paths(tmp_path_factory):
    d = tmp_path_factory.mktemp("kg")
    lp = d / "labels.jsonl"
    lp.write_text("\n".join(json.dumps(r) for r in LABELS_JSONL))
    ep = d / "edges.jsonl"
    ep.write_text("\n".join(json.dumps(r) for r in EDGES_JSONL))
    return str(lp), str(ep)


class TestKgBuild:
    def test_labels_from_jsonl(self, spark, jsonl_paths):
        lp, _ = jsonl_paths
        labels = kg_build.labels_from_jsonl(spark, lp)
        rows = {(r["entity"], r["label"], r["origin"]) for r in labels.collect()}
        assert ("Q1", "Pulp Fiction", "LABEL") in rows
        assert ("Q1", "Pulp fiction", "MAIN_ALIAS") in rows
        assert ("Q1", "PF", "SUB_ALIAS") in rows
        assert ("Q2", "Forrest Gump", "LABEL") in rows
        # normalized key present and lowercase
        norm = {r["label_norm"] for r in labels.collect()}
        assert "pulp fiction" in norm

    def test_edges_from_jsonl(self, spark, jsonl_paths):
        _, ep = jsonl_paths
        edges = kg_build.edges_from_jsonl(spark, ep)
        rows = edges.collect()
        # P1889 dropped
        assert not any(r["pred"] == "P1889" for r in rows)
        # reverse edge materialized for entity objects
        assert any(
            r["subj"] == "Q11424" and r["pred"] == "P31" and r["reverse"]
            and r["obj"] == "Q1"
            for r in rows
        )
        # -00-00 date suffix normalized
        assert any(r["obj"] == "1994-01-01" for r in rows if r["pred"] == "P577")
        # literal edges get no reverse
        assert not any(r["reverse"] for r in rows if r["obj_kind"] == "literal")

    def test_degrees_and_closure(self, spark, jsonl_paths):
        _, ep = jsonl_paths
        edges = kg_build.edges_from_jsonl(spark, ep)
        deg = {r["entity"]: r["degree"] for r in kg_build.degrees(edges).collect()}
        assert deg["Q1"] >= 2  # P31 fwd + P577 literal
        # the 3-level type closure that annotation reads
        from table_annotation_spark.operators.annotation_context import entity_types

        ents = spark.createDataFrame([("Q1",)], ["entity"])
        closure = entity_types(ents, edges).collect()
        got = {(r["entity"], r["type"], r["level"]) for r in closure}
        assert ("Q1", "Q11424", 1) in got
        assert ("Q1", "Q2431196", 2) in got
        assert ("Q1", "Q386724", 3) in got
