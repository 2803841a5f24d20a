"""F10 — NER typing slot: deterministic lexicon/rule NER with an optional
spaCy plug-in.

The reference types concept cells with spaCy
(/root/reference/preprocessing/prp_scripts/entity_parsers/spacy_ner_parser.py:30-49):
``nlp.pipe`` over the cell batch, keep entity labels when named-entity spans
cover enough of the cell (1.4·covered ≥ len), and drop CARDINAL/ORDINAL/DATE
when a concept label co-occurs. No spaCy model ships in this container, so the
default implementation is a deterministic stand-in with the same contract
(cell → concept label or None):

- **lexicon**: exact phrase match against a caller-supplied gazetteer
  (normalized term → label). At scale the gazetteer is a broadcast variable —
  the same shape as broadcasting the label index; the Arrow UDF batches cells
  exactly like ``nlp.pipe`` would.
- **rules**: honorific prefix (Dr./Mr./…) → PERSON; corporate suffix
  (Inc/Corp/Ltd/…) → ORG. Whole-cell matches, mirroring the reference's
  coverage gate (a full-span entity trivially satisfies 1.4·covered ≥ len).

When spaCy + a model ARE importable, ``load_spacy_ner`` returns the real
thing behind the same interface (exercised by a skip-marked test).
"""

from __future__ import annotations

import re
from collections.abc import Callable, Iterator

import pandas as pd

HONORIFICS = frozenset(
    {"dr", "mr", "mrs", "ms", "prof", "sir", "dame", "lord", "lady", "rev"}
)
ORG_SUFFIXES = frozenset(
    {"inc", "corp", "ltd", "llc", "plc", "gmbh", "sa", "ag", "co"}
)

_RE_WS = re.compile(r"\s+")


def _norm(s: str) -> str:
    return _RE_WS.sub(" ", s.strip()).lower()


def rule_ner(cell: str) -> str | None:
    """Deterministic whole-cell rules (full-span ⇒ the reference's coverage
    gate holds trivially)."""
    toks = _norm(cell).replace(".", "").split(" ")
    if len(toks) >= 2 and toks[0] in HONORIFICS:
        return "PERSON"
    if len(toks) >= 2 and toks[-1] in ORG_SUFFIXES:
        return "ORG"
    return None


def make_lexicon_ner(gazetteer: dict[str, str]) -> Callable[[str], str | None]:
    """cell → label via normalized exact phrase lookup, falling back to the
    rule layer. ``gazetteer`` maps normalized surface form → NER label
    (e.g. {"france": "GPE", "europe": "LOC"})."""

    def ner(cell: str) -> str | None:
        hit = gazetteer.get(_norm(cell))
        if hit is not None:
            return hit
        return rule_ner(cell)

    return ner


def load_spacy_ner(model: str = "en_core_web_sm"):
    """Return a spaCy-backed cell→label callable when spacy + the model are
    importable, else None. Mirrors spacy_ner_parser.py:30-49: batch via
    nlp.pipe, 1.4·covered ≥ len coverage gate, concept labels suppress
    CARDINAL/ORDINAL/DATE."""
    try:
        import spacy

        nlp = spacy.load(model, disable=["parser", "textcat"])
    except (ImportError, OSError):  # spaCy absent / model not installed
        return None

    concepty = {
        "EVENT", "FAC", "GPE", "LAW", "LOC", "NORP", "ORG", "PERSON",
        "PRODUCT", "WORK_OF_ART", "LANGUAGE",
    }

    def ner(cell: str) -> str | None:  # pragma: no cover - needs model
        doc = nlp(cell)
        covered = "".join(t.text for t in doc.ents)
        if 1.4 * len(covered) < len(cell):
            return None
        labels = [e.label_ for e in doc.ents]
        for lb in labels:
            if lb in concepty:
                return lb
        return labels[0] if labels else None

    return ner


def typing_with_ner_batches(
    ner: Callable[[str], str | None]
):
    """Arrow batch iterator for the FULL typing cascade with the NER slot
    plugged in (regex → unit → phone → NER → UNKNOWN) — the batched shape of
    the reference's remain_cells → spacy_parser flow (prp utils.py:84-93)."""
    from .typing_fns import type_cell

    def gen(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for s in it:
            yield s.map(lambda c: type_cell(c, ner=ner) if c is not None else "")

    return gen
