"""Stage 2 — preprocess: source documents → cleaned, oriented cells with
their table and column metadata (PREP_SCHEMA), in ONE Python pass per
document.

``preprocess(src)`` is a single ``mapInPandas`` over the source rows. Each
document is parsed where it lands (``embedded_tables.document_tables``) and
each of its grids goes straight through the reference's per-table cascade,
``table_analysis.analyze_table`` (table_preprocessing.py:29-99): clean →
type the decision sample's distinct cells → orientation → transpose if
VERTICAL → column typing → key column → header. The grid never leaves the
worker that parsed it, so the stage has no shuffle, no join, no distinct
and no internal checkpoint; typing is bounded by the ≤400-row decision
sample of each table. The output is denormalized — the table and column
metadata repeat on every cell (RLE-friendly in parquet) — and built per
table by list repetition.

Limit: one document's tables must fit in one Python worker, the same bound
as extraction.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from ..sources.embedded_tables import SOURCE_COLS, document_tables, source_rows
from .table_analysis import TableAnalysis, analyze_table

PREP_SCHEMA = StructType(
    [
        StructField("table_id", StringType(), False),
        StructField("content_sha256", StringType(), True),
        StructField("row_idx", IntegerType(), False),
        StructField("col_idx", IntegerType(), False),
        StructField("cell", StringType(), True),
        StructField("is_header", BooleanType(), False),
        StructField("orientation", StringType(), False),
        StructField("orientation_score", DoubleType(), False),
        StructField("has_header", BooleanType(), False),
        StructField("header_score", DoubleType(), False),
        StructField("key_col", IntegerType(), True),
        StructField("key_score", DoubleType(), False),
        StructField("col_type", StringType(), True),
        StructField("col_type_score", DoubleType(), True),
        StructField("col_datatype", StringType(), True),
        StructField("col_datatype_score", DoubleType(), True),
        StructField("n_rows", IntegerType(), False),
        StructField("n_cols", IntegerType(), False),
    ]
)


_NO_TYPE = [{"type": None, "score": None}]


def _score(x: float | None) -> float | None:
    return float(x) if x is not None else None


def _emit_table(
    out: dict[str, list], tid: str, sha: str, ta: TableAnalysis
) -> None:
    """Append one analyzed table to the column lists, cell-major in
    (row_idx, col_idx) order: per-table scalars repeat per cell, per-column
    values repeat per row."""
    g = ta.grid
    n_r, n_c = len(g), len(g[0])
    n = n_r * n_c
    top_t = [ta.col_typing.get(j, _NO_TYPE)[0] for j in range(n_c)]
    top_d = [ta.col_datatype.get(j, _NO_TYPE)[0] for j in range(n_c)]
    out["table_id"] += [tid] * n
    out["content_sha256"] += [sha] * n
    out["row_idx"] += [r for r in range(n_r) for _ in range(n_c)]
    out["col_idx"] += list(range(n_c)) * n_r
    out["cell"] += [c for row in g for c in row]
    out["is_header"] += [bool(ta.has_header)] * n_c + [False] * (n - n_c)
    for name, v in (
        ("orientation", ta.orientation),
        ("orientation_score", float(ta.orientation_score)),
        ("has_header", bool(ta.has_header)),
        ("header_score", float(ta.header_score)),
        ("key_col", ta.key_col),
        ("key_score", float(ta.key_score)),
        ("n_rows", n_r),
        ("n_cols", n_c),
    ):
        out[name] += [v] * n
    out["col_type"] += [t["type"] for t in top_t] * n_r
    out["col_type_score"] += [_score(t["score"]) for t in top_t] * n_r
    out["col_datatype"] += [d["type"] for d in top_d] * n_r
    out["col_datatype_score"] += [_score(d["score"]) for d in top_d] * n_r


def _prep_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        out: dict[str, list] = {f.name: [] for f in PREP_SCHEMA.fields}
        for doc in source_rows(pdf):
            for tid, sha, grid in document_tables(*doc):
                ta = analyze_table(grid, table_id=tid)
                if ta is not None:  # None: <2 rows survive cleaning
                    _emit_table(out, tid, sha, ta)
        if out["table_id"]:
            yield pd.DataFrame(out)


def preprocess(src: DataFrame) -> DataFrame:
    """src(repo, path, commit, lang, content) → PREP_SCHEMA, one row per
    cell of every cleaned, HORIZONTAL-oriented table. Shuffle-free: a single
    mapInPandas over the source columns."""
    return src.select(*SOURCE_COLS).mapInPandas(_prep_batches, schema=PREP_SCHEMA)


def table_meta(prep: DataFrame) -> DataFrame:
    """Per-table metadata view over the denormalized output."""
    return prep.select(
        "table_id", "content_sha256", "orientation", "orientation_score",
        "has_header", "header_score", "key_col", "key_score", "n_rows", "n_cols",
    ).distinct()


def column_meta(prep: DataFrame) -> DataFrame:
    """Per-column top typing/datatype view."""
    return prep.select(
        "table_id", "col_idx", "col_type", "col_type_score",
        "col_datatype", "col_datatype_score", "n_rows", "n_cols",
        "key_col", "has_header",
    ).distinct()


def body_cells(prep: DataFrame) -> DataFrame:
    """Non-header cells, re-indexed so row 0 is the first data row."""
    shift = F.when(F.col("has_header"), F.lit(1)).otherwise(F.lit(0))
    return (
        prep.where(~F.col("is_header"))
        .withColumn("row_idx", F.col("row_idx") - shift)
        .select(
            "table_id", "content_sha256", "row_idx", "col_idx", "cell",
            "col_type", "col_type_score", "col_datatype", "col_datatype_score",
            "key_col", "n_rows", "n_cols",
        )
    )
