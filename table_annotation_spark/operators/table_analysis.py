"""Per-table structural analysis: cleaning, orientation, header, key column.

Pure-Python decision trees over ONE table grid. ``analyze_table`` runs once
per table inside the prep stage's mapInPandas (operators/preprocessing.py),
in the worker that parsed the document. Every decision — and the
distinct-cell typing it needs — reads only the ≤400-row decision sample, so
per-table cost beyond cleaning does not grow with the table.

Reference semantics (re-derived, no code copied):
- cleaning P1-P5: /root/reference/preprocessing/prp_scripts/utils.py:135-218
- counters A1/A2: utils.py:226-336 (sum_type counts ALL cells; homogeneity
  counts only typed cells — the two differ in the reference and we keep that)
- homogeneity A3: utils.py:339-391
- word-length std A4: utils.py:393-411
- orientation A5: table_info_extraction_modules.py:57-220 (4-step tree)
- header A6: table_info_extraction_modules.py:222-267
- key column A8: table_info_extraction_modules.py:284-361

Simplification kept deliberately: our cell typing emits exactly one label per
cell (the reference can emit sets, then resolves minorities by decrementing —
with singleton sets that resolution is a no-op, so the counters below skip it).
"""

from __future__ import annotations

import hashlib
import math
from dataclasses import dataclass, field

from ..functions.typing_fns import get_string_type, type_cell

CONCEPT_LIST = (
    "EVENT", "FAC", "GPE", "LAW", "LOC", "NORP", "ORG", "PERSON",
    "PRODUCT", "WORK_OF_ART", "LANGUAGE", "UNKNOWN",
)

_KEYCOL_PUNCT = ".@_!#$%^&*()<>?/\\|}{][~:'-+~~_°¨"


def is_concept(label: str) -> bool:
    return any(c in label for c in CONCEPT_LIST)


def key_column_related_datatype(t: str) -> bool:
    return t in ("String_Normal", "String_Uppercase", "String_Number")


# ---------------------------------------------------------------- cleaning
def recover_encoding(cell: str) -> str:
    """Mojibake repair: utf-8 bytes mis-decoded as latin-1 are re-decoded
    (utils.py:135-147 uses ftfy; this is the deterministic core trick)."""
    try:
        repaired = cell.encode("latin-1").decode("utf-8")
        # only accept when it strictly reduces non-ascii garbage
        if sum(ord(c) > 127 for c in repaired) < sum(ord(c) > 127 for c in cell):
            return repaired
    except (UnicodeEncodeError, UnicodeDecodeError):
        pass
    return cell


def clean_grid(grid: list[list[str]]) -> list[list[str]]:
    """P1-P4: fix encoding, drop fully-empty rows, pad short rows, drop
    all-empty columns (utils.py:149-197)."""
    fixed = [[recover_encoding(c).strip() for c in row] for row in grid]
    rows = [r for r in fixed if any(c for c in r)]
    if not rows:
        return []
    width = max(len(r) for r in rows)
    rows = [r + [""] * (width - len(r)) for r in rows]
    keep = [j for j in range(width) if any(r[j] for r in rows)]
    return [[r[j] for j in keep] for r in rows]


def transpose(grid: list[list[str]]) -> list[list[str]]:
    """Ragged-safe transpose (utils.py:199-218)."""
    if not grid:
        return []
    width = max(len(r) for r in grid)
    padded = [r + [""] * (width - len(r)) for r in grid]
    return [list(col) for col in zip(*padded)]


# ---------------------------------------------------------------- typing maps
def build_typing_maps(
    grid: list[list[str]],
    ner=None,
    multi_label: bool = False,
) -> tuple[dict[str, set[str]], dict[str, set[str]]]:
    """parse_table (P7/P8): type each DISTINCT cell once; derive datatypes.

    ``multi_label=True`` collects EVERY firing label per cell
    (``type_cell_multi`` — e.g. "1998" is both regex-DATE and, under a
    gazetteer that lists it, NER-GPE), which is what activates the A1
    minority-decrement in the column counters below. The flagship path stays
    single-label (first-match) for reference parity; multi-label engages
    when a multi-label NER (spaCy plug / gazetteer) is configured.

    ``analyze_table`` calls this over the decision sample of each table."""
    from ..functions.typing_fns import type_cell_multi

    typing: dict[str, set[str]] = {}
    datatype: dict[str, set[str]] = {}
    for cell in {c for row in grid for c in row}:
        if multi_label:
            ts = type_cell_multi(cell, ner=ner)
            if ts == "":
                continue
            typing[cell] = set(ts)
            datatype[cell] = {
                get_string_type(cell.strip()) if is_concept(t) else t for t in ts
            }
        else:
            t = type_cell(cell, ner=ner) if ner is not None else type_cell(cell)
            if t == "":
                continue
            typing[cell] = {t}
            datatype[cell] = {
                get_string_type(cell.strip()) if is_concept(t) else t
            }
    return typing, datatype


# ---------------------------------------------------------------- counters
def _counter_per_column(
    grid: list[list[str]], cellmap: dict[str, set[str]], top_k: int
) -> dict[int, list[dict]]:
    """A1/A2 core counter: per column, frequency of labels over ALL cells
    (score denominator = column height), top-k (utils.py:226-266).

    Multi-label cells additionally run the reference's MINORITY-DECREMENT
    (utils.py:245-259 + typing_priority :43-47): per cell occurrence, its
    labels are ranked by (current count, typing_priority) descending and
    every label but the winner loses the vote that occurrence gave it — so a
    multi-typed cell nets exactly one vote, for its column-majority reading.
    Counts mutate between occurrences exactly as in the reference loop; the
    reference's remaining tie order (set iteration) is non-deterministic, so
    ties here break on the alphabetically-first label (documented
    deviation, COVERAGE.md §2.2 P7b). Single-label maps make the decrement
    a structural no-op, which is why the first-match flagship path is
    unaffected."""
    from ..functions.typing_fns import typing_priority

    out: dict[int, list[dict]] = {}
    for col_idx, col in enumerate(transpose(grid)):
        counts: dict[str, int] = {}
        total = 0
        for cell in col:
            for lab in cellmap.get(cell, ()):  # label set (usually singleton)
                counts[lab] = counts.get(lab, 0) + 1
            total += 1
        for cell in col:
            labs = cellmap.get(cell, ())
            if len(labs) > 1:
                ranked = sorted(
                    sorted(labs),
                    key=lambda x: (counts.get(x, 0), typing_priority(x)),
                    reverse=True,
                )
                for other in ranked[1:]:
                    if other in counts:
                        counts[other] -= 1
                        if counts[other] == 0:
                            del counts[other]
        if counts:
            ranked = sorted(counts.items(), key=lambda kv: -kv[1])[:top_k]
            out[col_idx] = [
                {"type": t, "score": n / total} for t, n in ranked if n > 0
            ]
        else:
            out[col_idx] = [{"type": "", "score": 1.0}]
    return out


def datatype_per_column(
    grid: list[list[str]], datatype: dict[str, set[str]], top_k: int = 1
) -> dict[int, list[dict]]:
    return _counter_per_column(grid, datatype, top_k)


def typing_per_column(
    grid: list[list[str]], typing: dict[str, set[str]], top_k: int = 1
) -> dict[int, list[dict]]:
    """A2 + ORDINAL index-column detection on column 0
    (utils.py:300-336: consecutive ints, ≤4 unparsable cells tolerated)."""
    out = _counter_per_column(grid, typing, top_k)
    if out.get(0) and out[0][0]["type"] in ("CARDINAL", "ORDINAL"):
        col0 = [row[0] if row else "" for row in grid]
        current = None
        ok = True
        tolerate = 0
        for cell in col0:
            try:
                idx = int(float(cell.rstrip(". ").replace(",", "") or "x"))
            except ValueError:
                current = None
                tolerate += 1
                if tolerate > 4:
                    ok = False
                    break
                continue
            if current is not None and idx not in (current, current + 1):
                ok = False
                break
            current = idx
        if ok:
            out[0][0]["type"] = "ORDINAL"
    return out


# ---------------------------------------------------------------- orientation
def homogeneity(
    grid: list[list[str]], datatype: dict[str, set[str]], direction: str
) -> tuple[float | None, float | None]:
    """A3 (utils.py:339-391): per-line type-popularity, squared-mean; lines
    with <25% typed cells skipped; (mean, sample-std) across lines."""
    lines = grid if direction == "horizontal" else transpose(grid)
    per_line: list[float] = []
    for line in lines:
        if not line:
            continue
        counts: dict[str, int] = {}
        typed = 0
        for cell in line:
            if cell in datatype:
                for t in datatype[cell]:
                    counts[t] = counts.get(t, 0) + 1
                typed += 1
        if typed / len(line) >= 0.25 and counts:
            coef = sum(1 - (1 - 2 * (n / typed)) ** 2 for n in counts.values())
            per_line.append((coef / len(counts)) ** 2)
    if len(per_line) > 1:
        mean = sum(per_line) / len(per_line)
        var = sum((x - mean) ** 2 for x in per_line) / (len(per_line) - 1)
        return mean, math.sqrt(var)
    return None, None


def std_word_length(grid: list[list[str]], direction: str) -> float:
    """A4 (utils.py:393-411): mean over lines (≥50% non-empty) of population
    std of non-empty cell lengths."""
    lines = grid if direction == "horizontal" else transpose(grid)
    stds: list[float] = []
    for line in lines:
        lens = [len(c) for c in line if c]
        if lens and 2 * len(lens) >= len(line):
            m = sum(lens) / len(lens)
            stds.append(math.sqrt(sum((x - m) ** 2 for x in lens) / len(lens)))
    return sum(stds) / len(stds) if stds else 0.0


def detect_orientation(
    grid: list[list[str]],
    typing: dict[str, set[str]],
    datatype: dict[str, set[str]],
) -> tuple[str, float]:
    """A5 — the 4-step tree (table_info_extraction_modules.py:57-220)."""
    n_rows, n_cols = len(grid), len(grid[0]) if grid else 0
    # step 1: homogeneity bounds on the body (skip first row+col)
    if n_rows > 2 and n_cols > 2:
        body = [line[1:] for line in grid[1:]]
        h_mean, h_std = homogeneity(body, datatype, "horizontal")
        v_mean, v_std = homogeneity(body, datatype, "vertical")
        if h_mean is not None and v_mean is not None:
            h_hi = h_mean + 0.5 * h_std / math.sqrt(n_rows)
            h_lo = h_mean - 0.5 * h_std / math.sqrt(n_rows)
            v_hi = v_mean + 0.5 * v_std / math.sqrt(n_cols)
            v_lo = v_mean - 0.5 * v_std / math.sqrt(n_cols)
            if h_hi + 0.01 < v_lo:
                smooth = 0.1 if h_mean < 0.1 else 0.0
                return "VERTICAL", (v_lo - h_hi) / (v_lo + smooth)
            if h_lo >= v_hi + 0.01:
                smooth = 0.1 if v_mean < 0.1 else 0.0
                return "HORIZONTAL", (h_lo - v_hi) / (h_lo + smooth)
    else:
        return "HORIZONTAL", 0.1

    # step 2: header-typing ratios of first row vs first column
    def typed_ratio(cells: list[str]) -> float:
        if not cells:
            return 0.0
        hits = sum(
            1
            for c in cells
            if any(t not in ("", "UNKNOWN") for t in typing.get(c, ()))
        )
        return hits / len(cells)

    top = typed_ratio(grid[0][1:])
    left = typed_ratio([line[0] for line in grid[1:]])
    if top > 0.5 and left < 0.05:
        return "VERTICAL", 0.2
    if left > 0.5 and top < 0.05:
        return "HORIZONTAL", 0.2

    # step 3: a ≥0.8-consistent typed column must exist in the right orientation
    def consistent_typed_col(g: list[list[str]]) -> bool:
        body = g[1:] if len(g) > 1 else g
        for typs in typing_per_column(body, typing, 1).values():
            if typs[0]["type"] not in ("", "UNKNOWN") and typs[0]["score"] > 0.8:
                return True
        return False

    hori = consistent_typed_col(grid)
    verti = consistent_typed_col(transpose(grid))
    if n_rows > 2 and n_cols > 2 and hori and not verti:
        return "HORIZONTAL", 0.15
    if n_rows > 2 and n_cols > 2 and verti and not hori:
        return "VERTICAL", 0.15

    # step 4: aspect ratio, else word-length std
    if n_cols and (n_rows / n_cols <= 0.25 or n_rows / n_cols >= 4.0):
        return ("HORIZONTAL", 0.1) if n_rows >= n_cols else ("VERTICAL", 0.1)
    if std_word_length(grid, "horizontal") >= std_word_length(grid, "vertical"):
        return "HORIZONTAL", 0.1
    return "VERTICAL", 0.1


# ---------------------------------------------------------------- header
def detect_header(
    grid: list[list[str]],
    orientation_score: float,
    typing: dict[str, set[str]],
) -> tuple[bool, float]:
    """A6 (table_info_extraction_modules.py:222-267): first row is header iff
    no header cell shares its column's primitive typing (concept typings other
    than UNKNOWN/PERSON excluded from the no-header evidence)."""
    if not grid:
        return False, 0.0
    header = grid[0]
    col_typings = typing_per_column(grid[1:] if len(grid) > 1 else grid, typing, 3)
    noheader = 0.0
    for i_col, typs in col_typings.items():
        hts = typing.get(header[i_col] if i_col < len(header) else "", set())
        if not hts:
            continue
        top = typs[0]
        if sum(is_concept(t) for t in hts) == 0:
            if top["type"] in hts and top["score"] > 0.2:
                noheader = max(noheader, top["score"])
        elif "UNKNOWN" not in hts and "PERSON" not in hts:
            if top["type"] in hts and top["score"] > 0.2:
                noheader = max(noheader, top["score"])
    if noheader > 0.0:
        return False, noheader * orientation_score
    has = 0.0
    for i_col, typs in col_typings.items():
        hts = typing.get(header[i_col] if i_col < len(header) else "", set())
        if hts:
            has += sum(dt["score"] for dt in typs if dt["type"] not in hts)
    has /= max(len(col_typings), 1)
    return True, has * orientation_score


# ---------------------------------------------------------------- key column
def detect_key_column(
    grid: list[list[str]],
    orientation_score: float,
    datatype: dict[str, set[str]],
) -> tuple[int | None, float]:
    """A8 (table_info_extraction_modules.py:284-361)."""
    if not grid:
        return None, 0.0
    col_dts = datatype_per_column(grid[1:] if len(grid) > 1 else grid, datatype, 3)
    cols = transpose(grid)
    max_considered = 3 if len(cols) > 8 else 2
    considered = 0
    first_candidate: int | None = None
    scores: dict[int, float] = {}
    for col_idx, column in enumerate(cols):
        if not col_dts.get(col_idx) or not col_dts[col_idx][0]["type"]:
            continue
        if considered > max_considered:
            break
        considered += 1
        cand_score = sum(
            dt["score"]
            for dt in col_dts[col_idx]
            if key_column_related_datatype(dt["type"])
        )
        if cand_score > 0.5:
            if first_candidate is None:
                first_candidate = col_idx
            uniques: list[str] = []
            empties = 0
            for cell in column:
                if cell in datatype:
                    stripped = cell
                    for s in _KEYCOL_PUNCT:
                        stripped = stripped.replace(s, "")
                    if any(
                        key_column_related_datatype(dt) and 3 < len(stripped) < 200
                        for dt in datatype[cell]
                    ):
                        uniques.append(cell)
                else:
                    empties += 1
            if uniques:
                scores[col_idx] = (
                    len(set(uniques)) / len(column) - empties / len(column)
                ) / math.sqrt(1 + 2 * (col_idx - first_candidate))
            else:
                scores[col_idx] = 0.0
        else:
            scores[col_idx] = 0.0
    if not scores:
        return None, 0.0
    ranked = sorted(scores.items(), key=lambda kv: -kv[1])
    if len(ranked) > 1:
        (key_col, best), (_, second) = ranked[0], ranked[1]
        if best < 0.25:
            return None, 0.0
        return key_col, (best - second) / (best + second) * orientation_score
    key_col, best = ranked[0]
    if best < 0.25:
        return None, 0.0
    return key_col, orientation_score


# ---------------------------------------------------------------- driver
@dataclass
class TableAnalysis:
    grid: list[list[str]]              # cleaned, HORIZONTAL-oriented
    orientation: str = "HORIZONTAL"
    orientation_score: float = 0.0
    has_header: bool = False
    header_score: float = 0.0
    key_col: int | None = None
    key_score: float = 0.0
    col_typing: dict[int, list[dict]] = field(default_factory=dict)
    col_datatype: dict[int, list[dict]] = field(default_factory=dict)


MAX_DECISION_ROWS = 400


def decision_sample(grid: list[list[str]], tid: str = "") -> list[list[str]]:
    """P6 — big-table sampling for the DECISION pass only: first 10 rows +
    the 390 lowest-hash remaining rows. The reference uses an unseeded
    random.shuffle (table_preprocessing.py:50-55) and then annotates ONLY the
    sample; we (a) make the sample deterministic (sha256 of row content) and
    (b) keep ALL rows in the output — decisions come from the sample, the
    full table is still annotated (documented improvement, SURVEY §2.2 P6)."""
    if len(grid) <= MAX_DECISION_ROWS:
        return grid
    head = grid[:10]
    rest = sorted(
        grid[10:],
        key=lambda row: hashlib.sha256(
            (tid + "\x1f" + "\x1f".join(row)).encode("utf-8")
        ).hexdigest(),
    )[: MAX_DECISION_ROWS - 10]
    return head + rest


def analyze_table(
    raw_grid: list[list[str]],
    typing: dict[str, set[str]] | None = None,
    datatype: dict[str, set[str]] | None = None,
    table_id: str = "",
) -> TableAnalysis | None:
    """Full preprocessing of one table — mirrors table_preprocessing.py:29-99:
    clean → sample → type distinct cells → orientation → transpose if
    VERTICAL → primitive typing (A7) → key column → header.

    Every decision reads only the decision sample ``dgrid`` (≤400 rows), so
    when ``typing``/``datatype`` are absent they are built over the sample's
    distinct cells — typing stays bounded per table however long the table
    is. Maps passed in must be keyed by *cleaned* cell text; any superset of
    the sample's cells gives the same result."""
    grid = clean_grid(raw_grid)
    if not grid or len(grid) < 2:
        return None
    dgrid = decision_sample(grid, table_id)
    if typing is None or datatype is None:
        typing, datatype = build_typing_maps(dgrid)
    orientation, o_score = detect_orientation(dgrid, typing, datatype)
    if orientation == "VERTICAL":
        grid = transpose(grid)
        dgrid = transpose(dgrid)
    body = dgrid[1:] if len(dgrid) > 1 else dgrid
    col_typing = typing_per_column(body, typing, 3)
    col_datatype = datatype_per_column(body, datatype, 3)
    key_col, key_score = detect_key_column(dgrid, o_score, datatype)
    has_header, h_score = detect_header(dgrid, o_score, typing)
    return TableAnalysis(
        grid=grid,
        orientation=orientation,
        orientation_score=o_score,
        has_header=has_header,
        header_score=h_score,
        key_col=key_col,
        key_score=key_score,
        col_typing=col_typing,
        col_datatype=col_datatype,
    )
