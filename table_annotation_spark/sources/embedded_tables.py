"""Stage 1 — extract: source-code repo table → embedded table grids.

Input (BASELINE.json input_hint): DataFrame(repo, path, commit, lang, content).

Reference analogue: file_loader.txt_to_table — chardet + csv.Sniffer dispatch
(/root/reference/preprocessing/prp_scripts/file_loader.py:37-69,140-150).
Here tables are *embedded in a column*, so `spark.read.csv` cannot apply; the
parse runs inside a mapInPandas (Arrow-batched, one pass, no per-row Python
UDF). ``document_tables`` turns one source row into its
``(table_id, content_sha256, grid)`` triples; both consumers iterate it:

- ``extract_cells`` — the raw grid as long-form cells (kg_queries, tests);
- ``preprocessing.preprocess`` — the pipeline's prep stage, which analyzes
  each grid where it was parsed.

``extract_manifest`` adds one row per source row (table or skipped). Parsing
is embarrassingly parallel and shuffle-free; the limit is one document's
tables per Python worker.
"""

from __future__ import annotations

import csv
import hashlib
import io
import json
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    IntegerType,
    StringType,
    StructField,
    StructType,
)

CELL_SCHEMA = StructType(
    [
        StructField("table_id", StringType(), False),
        StructField("repo", StringType(), True),
        StructField("path", StringType(), True),
        StructField("commit", StringType(), True),
        StructField("content_sha256", StringType(), False),
        StructField("row_idx", IntegerType(), False),
        StructField("col_idx", IntegerType(), False),
        StructField("cell", StringType(), True),
    ]
)

MANIFEST_SCHEMA = StructType(
    [
        StructField("table_id", StringType(), False),
        StructField("repo", StringType(), True),
        StructField("path", StringType(), True),
        StructField("commit", StringType(), True),
        StructField("content_sha256", StringType(), False),
        StructField("kind", StringType(), False),  # table | skipped
        StructField("n_rows", IntegerType(), False),
        StructField("n_cols", IntegerType(), False),
    ]
)

# the only source columns any stage reads (explicit select so a parquet scan
# prunes the rest)
SOURCE_COLS = ("repo", "path", "commit", "lang", "content")

_DELIMS = [",", "\t", ";", ":"]
TABLE_LANGS = {"csv", "tsv", "json"}
TABLE_EXTS = {".csv", ".tsv", ".txt", ".json"}


def _sniff_delimiter(text: str) -> str:
    """csv.Sniffer over the reference's candidate set (file_loader.py:47-53);
    fall back to the delimiter with the most consistent per-line count."""
    sample = text[:8192]
    try:
        return csv.Sniffer().sniff(sample, delimiters="".join(_DELIMS)).delimiter
    except csv.Error:
        lines = sample.splitlines() or [""]
        best, best_count = ",", -1
        for d in _DELIMS:
            c = lines[0].count(d)
            if c > best_count:
                best, best_count = d, c
        return best


def _is_table(grid: list[list[str]]) -> bool:
    return len(grid) >= 2 and max((len(r) for r in grid), default=0) >= 2


def _split_blank_rows(rows: list[list[str]]) -> list[list[list[str]]]:
    """S3 analogue (file_loader.py:140-161): truly BLANK LINES (csv.reader
    yields []) split the document into vertically stacked blocks. A row of
    empty CELLS (';;') is NOT a separator — it stays in the table for the
    P1 empty-row drop in preprocessing, matching the reference's split
    (empty spreadsheet line) vs clean (empty-valued row) distinction."""
    blocks, cur = [], []
    for r in rows:
        if not r:
            if cur:
                blocks.append(cur)
                cur = []
        else:
            cur.append(r)
    if cur:
        blocks.append(cur)
    return blocks


def _split_blank_cols(block: list[list[str]]) -> list[list[list[str]]]:
    """S2 analogue (file_loader.py:79-138 mask-CC over non-empty cells, for
    the rectangular side-by-side layout): fully-empty columns split a block
    into horizontally adjacent sub-tables. Applied only when it yields ≥2
    table-ish blocks — a stray empty column inside a single table is left for
    preprocessing's null-column drop (P4)."""
    width = max((len(r) for r in block), default=0)
    blank_col = [
        all(ci >= len(r) or (r[ci] or "").strip() == "" for r in block)
        for ci in range(width)
    ]
    spans, start = [], None
    for ci in range(width):
        if blank_col[ci]:
            if start is not None:
                spans.append((start, ci))
                start = None
        elif start is None:
            start = ci
    if start is not None:
        spans.append((start, width))
    if len(spans) <= 1:
        return [block]
    subs = [
        [[(r[ci] if ci < len(r) else "") for ci in range(lo, hi)] for r in block]
        for lo, hi in spans
    ]
    if sum(1 for s in subs if _is_table(s)) >= 2:
        return subs
    return [block]


def segment_grids(rows: list[list[str]]) -> list[list[list[str]]]:
    """Blank-row then blank-column segmentation; returns the table-ish
    segments in reading order (top→bottom, left→right)."""
    out = []
    for block in _split_blank_rows(rows):
        for sub in _split_blank_cols(block):
            if _is_table(sub):
                out.append(sub)
    return out


def parse_content_to_grids(
    path: str, lang: str, content: str
) -> list[list[list[str]]]:
    """One embedded document → 0..n table grids. Multiple tables embedded in
    one content string (concatenated CSVs separated by blank lines, or
    side-by-side blocks separated by empty columns) each become their own
    grid — the reference's Excel multi-table segmentation
    (annotation/annot_scripts/file_loader.py:79-161) re-expressed for string
    content."""
    ext = "." + path.rsplit(".", 1)[-1].lower() if "." in path else ""
    if lang not in TABLE_LANGS and ext not in TABLE_EXTS:
        return []
    if not content or not content.strip():
        return []
    if lang == "json" or ext == ".json":
        try:
            data = json.loads(content)
        except json.JSONDecodeError:
            return []
        if isinstance(data, list) and data and all(isinstance(r, dict) for r in data):
            cols = list(dict.fromkeys(k for r in data for k in r))
            grid = [cols]
            for r in data:
                grid.append(["" if r.get(c) is None else str(r.get(c, "")) for c in cols])
            return [grid] if _is_table(grid) else []
        if isinstance(data, list) and data and all(isinstance(r, list) for r in data):
            grid = [[("" if v is None else str(v)) for v in r] for r in data]
            return [grid] if _is_table(grid) else []
        return []
    delim = "\t" if (lang == "tsv" or ext == ".tsv") else _sniff_delimiter(content)
    try:
        rows = list(csv.reader(io.StringIO(content), delimiter=delim))
    except csv.Error:
        return []
    return segment_grids(rows)


def parse_content_to_grid(path: str, lang: str, content: str) -> list[list[str]] | None:
    """First (or only) table grid of the document — None when not tabular."""
    grids = parse_content_to_grids(path, lang, content)
    return grids[0] if grids else None


def document_tables(
    repo: str | None, path: str | None, commit: str | None,
    lang: str | None, content: str | None,
) -> Iterator[tuple[str, str, list[list[str]]]]:
    """One source row → ``(table_id, content_sha256, raw_grid)`` per embedded
    table. The one place the table-id rule lives: a single-table document
    keeps the plain sha256(repo␟path␟commit) id, a multi-table document gets
    one id per segment, in reading order."""
    content = content or ""
    base = "\x1f".join((repo or "", path or "", commit or ""))
    sha = hashlib.sha256(content.encode("utf-8")).hexdigest()
    grids = parse_content_to_grids(path or "", (lang or "").lower(), content)
    for k, grid in enumerate(grids):
        tid = hashlib.sha256(
            (base if len(grids) == 1 else f"{base}\x1f{k}").encode()
        ).hexdigest()
        yield tid, sha, grid


def source_rows(pdf: pd.DataFrame) -> Iterator[tuple]:
    """``(repo, path, commit, lang, content)`` of every row of a source batch."""
    return zip(*(pdf[c] for c in SOURCE_COLS))


def _extract_batches(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        out: dict[str, list] = {k.name: [] for k in CELL_SCHEMA.fields}
        for doc in source_rows(pdf):
            repo, path, commit = doc[:3]
            for tid, sha, grid in document_tables(*doc):
                for ri, row in enumerate(grid):
                    for ci, cell in enumerate(row):
                        out["table_id"].append(tid)
                        out["repo"].append(repo)
                        out["path"].append(path)
                        out["commit"].append(commit)
                        out["content_sha256"].append(sha)
                        out["row_idx"].append(ri)
                        out["col_idx"].append(ci)
                        out["cell"].append(cell)
        yield pd.DataFrame(out)


def _manifest_batches(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        out: dict[str, list] = {k.name: [] for k in MANIFEST_SCHEMA.fields}
        for repo, path, commit, lang, content in source_rows(pdf):
            content = content or ""
            tid = hashlib.sha256(
                "\x1f".join((repo or "", path or "", commit or "")).encode()
            ).hexdigest()
            sha = hashlib.sha256(content.encode("utf-8")).hexdigest()
            grids = parse_content_to_grids(
                path or "", (lang or "").lower(), content
            )
            out["table_id"].append(tid)
            out["repo"].append(repo)
            out["path"].append(path)
            out["commit"].append(commit)
            out["content_sha256"].append(sha)
            out["kind"].append(
                "skipped" if not grids
                else ("table" if len(grids) == 1 else "multitable")
            )
            out["n_rows"].append(sum(len(g) for g in grids))
            out["n_cols"].append(
                max((max(len(r) for r in g) for g in grids), default=0)
            )
        yield pd.DataFrame(out)


def extract_cells(src: DataFrame) -> DataFrame:
    """src(repo,path,commit,lang,content) → cells(table_id,…,row_idx,col_idx,cell).

    Shuffle-free: pure mapInPandas over the raw grids, one row per cell.
    The pipeline's prep stage (``preprocessing.preprocess``) parses the
    same documents through the same ``document_tables`` generator.
    """
    return src.select(*SOURCE_COLS).mapInPandas(
        _extract_batches, schema=CELL_SCHEMA
    )


def extract_manifest(src: DataFrame) -> DataFrame:
    """One row per source row — kind=table|skipped, with content_sha256.

    Guarantees the per-row sha256(content) invariant is accounted for even
    for non-table files (FIXTURES.md §1.7).
    """
    return src.select(*SOURCE_COLS).mapInPandas(
        _manifest_batches, schema=MANIFEST_SCHEMA
    )
