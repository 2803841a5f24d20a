"""Stages 1-2: embedded-table extraction + preprocessing over the fixtures."""

import json

import pytest
from pyspark.sql import functions as F

from table_annotation_spark import fixtures
from table_annotation_spark.operators import table_analysis as ta
from table_annotation_spark.operators.preprocessing import (
    PREP_SCHEMA,
    body_cells,
    preprocess,
    table_meta,
)
from table_annotation_spark.sources.embedded_tables import (
    document_tables,
    extract_cells,
    extract_manifest,
    parse_content_to_grid,
)


class TestGridParse:
    def test_csv(self):
        g = parse_content_to_grid("a.csv", "csv", fixtures.MOVIE_CSV)
        assert g[0] == ["Title", "Year", "Cast", "Genre"]
        assert len(g) == 5

    def test_tsv(self):
        g = parse_content_to_grid("a.tsv", "tsv", fixtures.TSV_CAPITALS)
        assert g[0] == ["country", "capital"]

    def test_json_records(self):
        g = parse_content_to_grid(
            "a.json", "json", '[{"a": 1, "b": "x"}, {"a": 2, "b": "y"}]'
        )
        assert g == [["a", "b"], ["1", "x"], ["2", "y"]]

    def test_non_table(self):
        assert parse_content_to_grid("m.py", "python", fixtures.PY_SOURCE) is None

    def test_semicolon_sniff(self):
        g = parse_content_to_grid("r.csv", "csv", fixtures.RAGGED_CSV)
        assert g[0] == ["name", "country", "note"]


class TestExtract:
    def test_cells_and_manifest(self, spark, src_df):
        cells = extract_cells(src_df)
        man = extract_manifest(src_df)
        assert man.count() == len(fixtures.source_rows())
        kinds = {r["path"]: r["kind"] for r in man.collect()}
        assert kinds["src/main.py"] == "skipped"
        assert kinds["data/films.csv"] == "table"
        # sha256(content) invariant per input row
        expected = {
            fixtures.content_sha(r["content"]) for r in fixtures.source_rows()
        }
        got = {r["content_sha256"] for r in man.collect()}
        assert got == expected
        # movie table grid: 5 rows x 4 cols
        movie_tid = fixtures.table_id_of("acme/movies", "data/films.csv", "a" * 40)
        mv = cells.where(F.col("table_id") == movie_tid)
        assert mv.count() == 20

    def test_cell_values(self, spark, src_df):
        cells = extract_cells(src_df)
        movie_tid = fixtures.table_id_of("acme/movies", "data/films.csv", "a" * 40)
        row1 = {
            (r["col_idx"]): r["cell"]
            for r in cells.where(
                (F.col("table_id") == movie_tid) & (F.col("row_idx") == 1)
            ).collect()
        }
        assert row1 == {0: "Pulp Fiction", 1: "1994", 2: "John Travolta", 3: "Gangster"}


class TestTableAnalysis:
    """Pure-Python decision trees on fixture grids (unit-level)."""

    def _grid(self, content, path="x.csv", lang="csv"):
        return parse_content_to_grid(path, lang, content)

    def test_movie_horizontal_header(self):
        a = ta.analyze_table(self._grid(fixtures.MOVIE_CSV))
        assert a.orientation == "HORIZONTAL"
        assert a.has_header
        assert a.key_col == 0

    def test_city_table(self):
        a = ta.analyze_table(self._grid(fixtures.CITY_CSV))
        assert a.orientation == "HORIZONTAL"
        assert a.has_header
        assert a.key_col == 0

    def test_vertical_table_transposed(self):
        a = ta.analyze_table(self._grid(fixtures.CITY_VERTICAL_CSV))
        assert a.orientation == "VERTICAL"
        # after transpose the grid is attributes-as-columns
        assert a.grid[0] == ["city", "country", "population"]
        assert ["Paris", "France", "2148000"] in a.grid

    def test_noheader_numeric(self):
        a = ta.analyze_table(self._grid(fixtures.NOHEADER_NUMERIC_CSV))
        assert not a.has_header
        # ORDINAL index column detected on col 0
        assert a.col_typing[0][0]["type"] == "ORDINAL"

    def test_ragged_cleaning(self):
        g = self._grid(fixtures.RAGGED_CSV)
        a = ta.analyze_table(g)
        # empty row dropped: header + 3 data rows
        assert len(a.grid) == 4
        # mojibake repaired
        flat = [c for row in a.grid for c in row]
        assert "café" in flat
        # short row padded
        assert all(len(r) == 3 for r in a.grid)

    def test_clean_grid_drops_empty_column(self):
        g = [["a", "", "b"], ["c", "", "d"]]
        assert ta.clean_grid(g) == [["a", "b"], ["c", "d"]]


class TestPreprocessStage:
    def test_preprocess_meta(self, spark, src_df):
        prep = preprocess(src_df).cache()
        meta = {r["table_id"]: r.asDict() for r in table_meta(prep).collect()}
        movie_tid = fixtures.table_id_of("acme/movies", "data/films.csv", "a" * 40)
        vert_tid = fixtures.table_id_of(
            "acme/geo", "data/capitals_vertical.csv", "c" * 40
        )
        assert meta[movie_tid]["orientation"] == "HORIZONTAL"
        assert meta[movie_tid]["has_header"]
        assert meta[movie_tid]["key_col"] == 0
        assert meta[vert_tid]["orientation"] == "VERTICAL"
        # python file not present (skipped)
        py_tid = fixtures.table_id_of("acme/code", "src/main.py", "0" * 40)
        assert py_tid not in meta

    def test_body_cells_reindexed(self, spark, src_df):
        prep = preprocess(src_df)
        body = body_cells(prep)
        movie_tid = fixtures.table_id_of("acme/movies", "data/films.csv", "a" * 40)
        rows = body.where(F.col("table_id") == movie_tid).collect()
        assert min(r["row_idx"] for r in rows) == 0
        assert {r["cell"] for r in rows if r["row_idx"] == 0 and r["col_idx"] == 0} == {
            "Pulp Fiction"
        }


def reference_prep(rows: list[dict]) -> list[dict]:
    """Spark-free reference of the prep stage, shaped like the reference's
    per-table pass (table_preprocessing.py:29-99): parse each document, type
    the distinct cells of the FULL cleaned grid of each table, analyze it,
    and append one PREP_SCHEMA row per cell. The engine types only the
    decision sample and emits whole columns by repetition, so agreement
    checks both."""
    out = []
    none = [{"type": None, "score": None}]
    for r in rows:
        for tid, sha, grid in document_tables(
            r["repo"], r["path"], r["commit"], r["lang"], r["content"]
        ):
            typing, datatype = ta.build_typing_maps(ta.clean_grid(grid))
            a = ta.analyze_table(grid, typing=typing, datatype=datatype, table_id=tid)
            if a is None:
                continue
            g = a.grid
            for ri, row in enumerate(g):
                for ci, cell in enumerate(row):
                    top_t = a.col_typing.get(ci, none)[0]
                    top_d = a.col_datatype.get(ci, none)[0]
                    out.append({
                        "table_id": tid,
                        "content_sha256": sha,
                        "row_idx": ri,
                        "col_idx": ci,
                        "cell": cell,
                        "is_header": bool(a.has_header and ri == 0),
                        "orientation": a.orientation,
                        "orientation_score": float(a.orientation_score),
                        "has_header": bool(a.has_header),
                        "header_score": float(a.header_score),
                        "key_col": a.key_col,
                        "key_score": float(a.key_score),
                        "col_type": top_t["type"],
                        "col_type_score": (
                            None if top_t["score"] is None else float(top_t["score"])
                        ),
                        "col_datatype": top_d["type"],
                        "col_datatype_score": (
                            None if top_d["score"] is None else float(top_d["score"])
                        ),
                        "n_rows": len(g),
                        "n_cols": len(g[0]),
                    })
    return out


def _doc(content, path="t.csv", lang="csv"):
    return {"repo": "adv/repo", "path": path, "commit": "7" * 40,
            "lang": lang, "content": content}


_BIG_CSV = "name,count\n" + "\n".join(f"Name {i},{i * 3}" for i in range(1, 450))

# name → (source rows, whether the stage must emit nothing)
PREP_CASES = {
    "fixture_corpus": (fixtures.source_rows(), False),
    "450_row_document": ([_doc(_BIG_CSV, "data/big.csv")], False),
    "empty_content": ([_doc("")], True),
    "whitespace_only": ([_doc("  \n\t\n   ")], True),
    "header_only_csv": ([_doc("name,country,population\n")], True),
    "empty_column_and_row": (
        [_doc("city,,country\nParis,,France\n,,\nRome,,Italy\nOslo,,Norway\n")],
        False,
    ),
    "ragged_rows": (
        [_doc("a,b,c,d\n1,2\n3,4,5\n6,7,8,9,10\n11\n")], False,
    ),
    "mojibake_cell": ([_doc("name;note\nParis;caf\u00c3\u00a9\nRome;ok\n")], False),
    "json_missing_keys": (
        [_doc(json.dumps([{"a": 1, "b": "x"}, {"b": "y", "c": 2.5}, {"a": 3}]),
              "t.json", "json")],
        False,
    ),
    "two_segment_csv": ([_doc("a,b\n1,2\n3,4\n\nx,y,z\n5,6,7\n8,9,10\n")], False),
    "vertical_table": ([_doc(fixtures.CITY_VERTICAL_CSV)], False),
}


def _key(r):
    return (r["table_id"], r["row_idx"], r["col_idx"])


class TestPrepReference:
    """``preprocess(src)`` must emit exactly the reference's PREP_SCHEMA
    multiset — every column, every table — on the fixtures and on
    adversarial documents."""

    @pytest.mark.parametrize("case", list(PREP_CASES))
    def test_engine_equals_reference(self, spark, case):
        rows, expect_empty = PREP_CASES[case]
        src = spark.createDataFrame(
            rows, "repo string, path string, commit string, lang string, content string"
        )
        got = sorted((r.asDict() for r in preprocess(src).collect()), key=_key)
        want = sorted(reference_prep(rows), key=_key)
        names = [f.name for f in PREP_SCHEMA.fields]
        assert all(list(r) == names for r in got + want)
        assert (len(got) == 0) == expect_empty
        assert got == want

    def test_adversarial_shapes(self):
        """What the reference itself decides on the adversarial documents."""
        def ref(case):
            return reference_prep(PREP_CASES[case][0])

        cells = {r["cell"] for r in ref("mojibake_cell")}
        assert "café" in cells and "cafÃ©" not in cells
        emp = ref("empty_column_and_row")
        assert {(r["n_rows"], r["n_cols"]) for r in emp} == {(4, 2)}
        rag = ref("ragged_rows")
        assert len(rag) == rag[0]["n_rows"] * rag[0]["n_cols"]
        assert len({r["table_id"] for r in ref("two_segment_csv")}) == 2
        assert {r["orientation"] for r in ref("vertical_table")} == {"VERTICAL"}
        js = ref("json_missing_keys")
        assert js[0]["n_cols"] == 3 and len(js) == 4 * 3
