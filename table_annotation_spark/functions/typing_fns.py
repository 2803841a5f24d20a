"""Primitive cell typing — deterministic regex/heuristic parsers.

Reimplements the semantics of the reference's parser stack (SURVEY.md §2.6
F9-F14) without its heavyweight deps (spaCy, quantulum3, phonenumbers):

- regex typing: RANGE, CARDINAL, PERCENT, IP ADDRESS, IPv6 ADDRESS, BOOLEAN,
  DATE (/root/reference/preprocessing/prp_scripts/entity_parsers/regex_parser.py:22-70)
- unit typing: lightweight unit table standing in for quantulum3
  (/root/reference/preprocessing/prp_scripts/entity_parsers/unit_parser.py:22-47)
- string datatype classes (/root/reference/preprocessing/prp_scripts/utils.py:49-62)
- concept predicates (/root/reference/preprocessing/prp_scripts/utils.py:36-41,
  /root/reference/annotation/annot_scripts/utils.py:137-184)

spaCy NER is pluggable: if spacy + en_core_web_sm are importable we use them,
otherwise a gazetteer-free heuristic assigns UNKNOWN (fixtures are built to be
regex/unit-decidable, per SURVEY.md §5 determinism constraints).
"""

from __future__ import annotations

import re
from datetime import datetime

# ---------------------------------------------------------------- regexes
_RE_RANGE = [
    re.compile(r"^\s*\d+(\.\d+)?\s*[-–—]\s*\d+(\.\d+)?\s*$"),
    re.compile(r"^\s*\[\s*\d+(\.\d+)?\s*[-–—,;]\s*\d+(\.\d+)?\s*\]\s*$"),
    re.compile(r"^\s*\d+(\.\d+)?\s*(to|~)\s*\d+(\.\d+)?\s*$", re.IGNORECASE),
    re.compile(r"^\s*[<>≤≥]\s*\d+(\.\d+)?\s*$"),
]
_RE_CARDINAL = re.compile(
    r"^\s*[+-]?(\d{1,3}(,\d{3})+|\d+)(\.\d+)?([eE][+-]?\d+)?\s*$"
    r"|^\s*[+-]?\.\d+\s*$"
    r"|^\s*[½⅓⅔¼¾⅕⅖⅗⅘⅙⅚⅛⅜⅝⅞]\s*$"
)
_RE_PERCENT = re.compile(r"^\s*[+-]?(\d{1,3}(,\d{3})+|\d+)(\.\d+)?\s*%\s*$")
_RE_IPV4 = re.compile(
    r"^\s*((25[0-5]|2[0-4]\d|1?\d?\d)\.){3}(25[0-5]|2[0-4]\d|1?\d?\d)\s*$"
)
_RE_IPV6 = re.compile(r"^\s*([0-9a-fA-F]{1,4}:){2,7}[0-9a-fA-F]{0,4}\s*$")
_RE_BOOLEAN = re.compile(r"^\s*(true|false|yes|no)\s*$", re.IGNORECASE)
_RE_YEAR = re.compile(r"^\s*(1\d{3}|20[0-2]\d)\s*$")  # 1000..2029 window
_RE_DATE_ISO = re.compile(r"^\s*\d{4}-\d{1,2}-\d{1,2}\s*$")
_RE_DATE_SLASH = re.compile(r"^\s*\d{1,2}[/.]\d{1,2}[/.]\d{2,4}\s*$")
_RE_DATE_TEXT = re.compile(
    r"^\s*\d{1,2}\s+(jan|feb|mar|apr|may|jun|jul|aug|sep|oct|nov|dec)[a-z]*\.?\s+\d{4}\s*$"
    r"|^\s*(jan|feb|mar|apr|may|jun|jul|aug|sep|oct|nov|dec)[a-z]*\.?\s+\d{1,2},?\s+\d{4}\s*$",
    re.IGNORECASE,
)
_RE_ORDINAL = re.compile(r"^\s*\d+(\.|st|nd|rd|th)\s*$", re.IGNORECASE)
_RE_PHONE = re.compile(r"^\s*\+?\d[\d\s().-]{6,17}\d\s*$")
_RE_PUNCT_ONLY = re.compile(r"^[\W_]+$")

# unit-name → dimension (stand-in for quantulum3; reference renames
# time→DURATION, length→DISTANCE, currency→MONEY, else uppercased —
# unit_parser.py:22-47)
UNIT_DIMENSIONS: dict[str, str] = {
    "m": "DISTANCE", "km": "DISTANCE", "cm": "DISTANCE", "mm": "DISTANCE",
    "mi": "DISTANCE", "mile": "DISTANCE", "miles": "DISTANCE",
    "ft": "DISTANCE", "feet": "DISTANCE", "in": "DISTANCE",
    "kg": "MASS", "g": "MASS", "mg": "MASS", "t": "MASS",
    "lb": "MASS", "lbs": "MASS", "tonnes": "MASS", "tons": "MASS",
    "s": "DURATION", "sec": "DURATION", "min": "DURATION", "h": "DURATION",
    "hr": "DURATION", "hours": "DURATION", "days": "DURATION",
    "years": "DURATION", "yr": "DURATION", "ms": "DURATION",
    "$": "MONEY", "usd": "MONEY", "€": "MONEY", "eur": "MONEY",
    "£": "MONEY", "gbp": "MONEY", "¥": "MONEY", "jpy": "MONEY",
    "m/s": "SPEED", "km/h": "SPEED", "mph": "SPEED",
    "k": "TEMPERATURE", "°c": "TEMPERATURE", "°f": "TEMPERATURE",
    "hz": "FREQUENCY", "khz": "FREQUENCY", "mhz": "FREQUENCY",
    "b": "DATA", "kb": "DATA", "mb": "DATA", "gb": "DATA",
    "w": "POWER", "kw": "POWER", "v": "VOLTAGE", "a": "CURRENT",
    "%": "PERCENT", "ha": "AREA", "km2": "AREA", "m2": "AREA",
    "l": "VOLUME", "ml": "VOLUME",
}

_RE_QUANTITY = re.compile(
    r"^\s*([€$£¥])?\s*([+-]?(\d{1,3}(,\d{3})+|\d+)(\.\d+)?)\s*"
    r"([a-zA-Zµ°%/²2]+[a-zA-Z/²2]*|[€$£¥%])?\s*$"
)

# base-unit conversion factors (per dimension base unit) — stand-in for
# pint to_base_units (annotation/annot_scripts/utils.py:88-116); currency
# registry uses the reference's fixed dollar-base rates (utils.py:24-37)
UNIT_TO_BASE: dict[str, float] = {
    "m": 1.0, "km": 1000.0, "cm": 0.01, "mm": 0.001, "mi": 1609.344,
    "mile": 1609.344, "miles": 1609.344, "ft": 0.3048, "feet": 0.3048,
    "in": 0.0254,
    "kg": 1.0, "g": 0.001, "mg": 1e-6, "t": 1000.0, "lb": 0.45359237,
    "lbs": 0.45359237, "tonnes": 1000.0, "tons": 1000.0,
    "s": 1.0, "sec": 1.0, "min": 60.0, "h": 3600.0, "hr": 3600.0,
    "hours": 3600.0, "days": 86400.0, "years": 31557600.0,
    "yr": 31557600.0, "ms": 0.001,
    "$": 1.0, "usd": 1.0, "€": 1.09, "eur": 1.09, "£": 1.27, "gbp": 1.27,
    "¥": 0.0067, "jpy": 0.0067,
    "m/s": 1.0, "km/h": 1 / 3.6, "mph": 0.44704,
    "l": 1.0, "ml": 0.001,
    "b": 1.0, "kb": 1e3, "mb": 1e6, "gb": 1e9,
    "w": 1.0, "kw": 1000.0,
    "ha": 1e4, "km2": 1e6, "m2": 1.0,
}

DATE_TYPINGS = frozenset({"DATE", "TIME"})
NUMERIC_WITH_UNIT = frozenset(
    {
        "DISTANCE", "MASS", "MONEY", "DURATION", "SPEED", "TEMPERATURE",
        "FREQUENCY", "DATA", "POWER", "VOLTAGE", "CURRENT", "AREA",
        "VOLUME", "PERCENT",
    }
)
NUMERIC_WITHOUT_UNIT = frozenset({"CARDINAL", "ORDINAL", "RANGE"})


def regex_typing(cell: str) -> str | None:
    """First-match regex typing — regex_parser.py:22-70 semantics."""
    for pat in _RE_RANGE:
        if pat.match(cell):
            return "RANGE"
    if _RE_PERCENT.match(cell):
        return "PERCENT"
    if _RE_YEAR.match(cell):
        return "DATE"
    if _RE_CARDINAL.match(cell):
        return "CARDINAL"
    if _RE_IPV4.match(cell):
        return "IP ADDRESS"
    if _RE_IPV6.match(cell) and ":" in cell:
        return "IPv6 ADDRESS"
    if _RE_BOOLEAN.match(cell):
        return "BOOLEAN"
    if _RE_DATE_ISO.match(cell) or _RE_DATE_SLASH.match(cell) or _RE_DATE_TEXT.match(cell):
        return "DATE"
    if _RE_ORDINAL.match(cell):
        return "ORDINAL"
    return None


def unit_typing(cell: str) -> str | None:
    """Quantity-with-unit typing — unit_parser.py:22-47 semantics via the
    local unit table (coverage threshold: unit+number must span the cell,
    which _RE_QUANTITY enforces by anchoring)."""
    m = _RE_QUANTITY.match(cell)
    if not m:
        return None
    cur, unit = m.group(1), m.group(6)
    if cur:
        return "MONEY"
    if unit:
        return UNIT_DIMENSIONS.get(unit.lower()) or UNIT_DIMENSIONS.get(unit)
    return None


def phone_typing(cell: str) -> str | None:
    s = cell.strip()
    if _RE_PHONE.match(s) and sum(c.isdigit() for c in s) >= 8 and (
        s.startswith("+") or "(" in s or "-" in s or " " in s
    ):
        return "PHONE NUMBER"
    return None


def type_cell(cell: str, ner=None) -> str:
    """Full typing cascade for one cell — text_parser semantics
    (preprocessing/prp_scripts/utils.py:64-112): empty/punct/1-char cells are
    skipped (None), >70-char cells are UNKNOWN, else regex → unit → phone →
    NER → UNKNOWN. ``ner`` is the F10 slot (cell → concept label or None):
    a deterministic lexicon/rule NER (functions/ner.py) or the spaCy plug
    when a model is available."""
    s = cell.strip()
    if not s or len(s) <= 1 or _RE_PUNCT_ONLY.match(s):
        return ""
    if len(s) > 70:
        return "UNKNOWN"
    t = regex_typing(s)
    if t:
        return t
    t = unit_typing(s)
    if t:
        return t
    t = phone_typing(s)
    if t:
        return t
    if ner is not None:
        t = ner(s)
        if t:
            return t
    return "UNKNOWN"


def typing_priority(t: str) -> int:
    """Tie-break priority for the A1 minority-decrement: CARDINAL is the
    weakest reading (everything numeric matches it), every other label
    outranks it — reference preprocessing/prp_scripts/utils.py:43-47."""
    return 0 if t == "CARDINAL" else 1


def type_cell_multi(cell: str, ner=None):
    """Multi-label variant of the typing cascade: collect EVERY firing label
    instead of the first match — the input shape the reference's
    minority-decrement (utils.py:245-259) exists for. "1998" under a
    gazetteer listing it yields {DATE, GPE}; plain cells yield a singleton.
    Returns "" for skipped cells (empty/punct/1-char), mirroring type_cell."""
    s = cell.strip()
    if not s or len(s) <= 1 or _RE_PUNCT_ONLY.match(s):
        return ""
    if len(s) > 70:
        return {"UNKNOWN"}
    labels: list[str] = []
    for fn in (regex_typing, unit_typing, phone_typing):
        t = fn(s)
        if t and t not in labels:
            labels.append(t)
    if ner is not None:
        t = ner(s)
        if t and t not in labels:
            labels.append(t)
    return set(labels) if labels else {"UNKNOWN"}


def get_string_type(label: str) -> str:
    """String datatype classes — preprocessing/prp_scripts/utils.py:49-62."""
    if len(label) >= 100:
        return "String_Normal"
    digits = sum(c.isdigit() for c in label)
    if digits * 2 >= len(label) and len(label) > 0:
        return "String_Number"
    if label.isupper():
        return "String_Uppercase"
    return "String_Normal"


def float_parse(v: str) -> float | None:
    """Float with thousand-separator removal — annot utils.py:39-47."""
    try:
        return float(v.replace(",", "").replace(" ", ""))
    except (ValueError, AttributeError):
        return None


def dimensionless_quantity_similarity(a: float, b: float) -> float:
    """1 − |a−b|/(|a|+|b|+1e−4) — annot utils.py:78-86."""
    return 1.0 - abs(a - b) / (abs(a) + abs(b) + 1e-4)


def standardize_to_base_unit(measure: str) -> tuple[float, str] | None:
    """Parse '5 km' → (5000.0, 'DISTANCE'). Stand-in for quantulum3+pint
    (annot utils.py:88-116)."""
    m = _RE_QUANTITY.match(measure.strip())
    if not m:
        return None
    cur, num, unit = m.group(1), m.group(2), m.group(6)
    val = float_parse(num)
    if val is None:
        return None
    u = (cur or unit or "").lower()
    if not u:
        return (val, "DIMENSIONLESS")
    dim = UNIT_DIMENSIONS.get(u)
    factor = UNIT_TO_BASE.get(u)
    if dim is None or factor is None:
        return (val, "DIMENSIONLESS")
    return (val * factor, dim)


_DATE_FORMATS = (
    "%Y-%m-%d", "%Y/%m/%d", "%d/%m/%Y", "%m/%d/%Y", "%d.%m.%Y",
    "%d %B %Y", "%d %b %Y", "%B %d, %Y", "%b %d, %Y", "%B %d %Y",
    "%Y-%m-%dT%H:%M:%S", "%Y",
)


def parse_date(s: str) -> datetime | None:
    """Deterministic date parse cascade (reference uses dateutil —
    annot utils.py:49-56; we pin an explicit format list for stability)."""
    s = s.strip()
    for fmt in _DATE_FORMATS:
        try:
            return datetime.strptime(s, fmt)
        except ValueError:
            continue
    from dateutil import parser as duparser

    try:
        return duparser.parse(s, fuzzy=False)
    except (ValueError, OverflowError):  # ParserError is a ValueError
        return None


def date_similarity(s1: str, s2: str) -> bool:
    d1, d2 = parse_date(s1), parse_date(s2)
    if d1 is None or d2 is None:
        return False
    return d1.date() == d2.date()


def get_year(s: str) -> str | None:
    d = parse_date(s)
    return str(d.year) if d else None


def normalize_label(s: str) -> str:
    """Lookup normalization — es_lookup.py:202-204: strip double quotes,
    collapse whitespace, lowercase."""
    return re.sub(r"\s+", " ", s.replace('"', " ")).strip().lower()


def map_rank(rank: str) -> int:
    """PREFERRED→2, NORMAL→1, else 0 — knowledge_bases.py:182-192."""
    return {"PREFERRED": 2, "NORMAL": 1}.get(rank, 0)
