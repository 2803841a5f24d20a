"""Spark-free test of the lookup scoring kernel (``lookup._score_mentions``,
L5-L8 as one pandas pass per mention, and ``lookup._score_partition``, the
streaming mapInPandas body around it).

The reference below scores pair by pair with the scalar
``similarity.lookup_fuzzy_pexact`` and plain dicts per mention: origin
factor, adaptive threshold with the partial-exact bypass, the lexical
overlap summed over every surviving label row of a surface form, each
entity's best (fuzzy, lexical, pr, label), the L7 score with
``log(x)/log(2)``, and top-k by (score desc, entity asc). Kernel and
reference must agree exactly, scores included, and a mention's output must
not depend on how its pairs are batched.
"""

from __future__ import annotations

import math
import random
import re

import pandas as pd
import pytest

from table_annotation_spark import fixtures
from table_annotation_spark.functions.similarity import lookup_fuzzy_pexact
from table_annotation_spark.operators.lookup import (
    ADAPTIVE_MARGIN,
    FUZZY_FACTOR,
    LEX_FACTOR,
    MIN_FUZZY,
    ORIGIN_WEIGHTS,
    PR_FACTOR,
    _score_mentions,
    _score_partition,
)

COLS = ["mention_norm", "entity", "label", "label_norm", "origin", "pr", "lex"]


def _norm(s: str) -> str:
    """kg_build.with_label_norm / lookup.norm_col, in Python."""
    return re.sub(r"\s+", " ", s.replace('"', " ")).strip().lower()


def _idf(labels: list[dict]) -> dict[str, float]:
    """lookup.token_idf over label rows."""
    df: dict[str, int] = {}
    for r in labels:
        for t in _norm(r["label"]).split(" "):
            if t:
                df[t] = df.get(t, 0) + 1
    n = len(labels)
    return {t: math.log((n + 1) / (c + 1)) / math.log(2) for t, c in df.items()}


def _pairs(mentions, labels: list[dict], idf: dict) -> pd.DataFrame:
    """Every mention × every label row, with the per-pair lexical sum that
    score_candidates computes JVM-side."""
    rows = []
    for m in mentions:
        m_tok = set(m.split(" "))
        for r in labels:
            ln = _norm(r["label"])
            lex = 0.0
            for t in ln.split(" "):
                lex += idf.get(t, 0.0) if t in m_tok else 0.0
            rows.append((m, r["entity"], r["label"], ln, r["origin"], r["pr"], lex))
    return pd.DataFrame(rows, columns=COLS)


def _reference(pairs: pd.DataFrame, k: int) -> list[tuple]:
    by_mention: dict[str, list[dict]] = {}
    for p in pairs.to_dict("records"):
        by_mention.setdefault(p["mention_norm"], []).append(p)
    out = []
    for m, rows in by_mention.items():
        scored = []
        for r in rows:
            fuzzy, pexact = lookup_fuzzy_pexact(m, r["label_norm"], MIN_FUZZY)
            scored.append((r, fuzzy * ORIGIN_WEIGHTS.get(r["origin"], 1.0), pexact))
        threshold = max(MIN_FUZZY, max(fw for _, fw, _ in scored) - ADAPTIVE_MARGIN)
        kept = [(r, fw) for r, fw, pexact in scored if fw >= threshold or pexact]
        lex: dict[tuple, float] = {}
        for r, _ in kept:
            key = (r["entity"], r["label_norm"])
            lex[key] = lex.get(key, 0.0) + r["lex"]
        best: dict[str, tuple] = {}
        for r, fw in kept:
            cand = (fw, lex[(r["entity"], r["label_norm"])], r["pr"], r["label"])
            if r["entity"] not in best or cand > best[r["entity"]]:
                best[r["entity"]] = cand
        if not best:
            continue
        max_pr = max(b[2] for b in best.values())
        max_lex = max(b[1] for b in best.values())
        ranked = []
        for ent, (fw, lx, pr, label) in best.items():
            score = (
                FUZZY_FACTOR * fw
                + PR_FACTOR * (math.log(pr + 1.0) / math.log(2.0))
                / (math.log(max(max_pr, 1e-9) + 1.0) / math.log(2.0))
                + LEX_FACTOR * (lx / max_lex if max_lex > 0 else 0.0)
            )
            ranked.append((m, ent, label, score))
        ranked.sort(key=lambda t: (-t[3], t[1]))
        out += ranked[:k]
    return sorted(out, key=lambda t: (t[0], -t[3], t[1]))


def _rows(df: pd.DataFrame) -> list[tuple]:
    rows = list(df[["mention_norm", "entity", "label", "score"]].itertuples(index=False, name=None))
    return sorted(rows, key=lambda t: (t[0], -t[3], t[1]))


def _typo(s: str, rng: random.Random) -> str:
    i = rng.randrange(len(s))
    op = rng.choice("sdi")
    c = rng.choice("abcdefghijklmnopqrstuvwxyz")
    if op == "s":
        return s[:i] + c + s[i + 1:]
    if op == "d" and len(s) > 2:
        return s[:i] + s[i + 1:]
    return s[:i] + c + s[i:]


LABELS = fixtures.mini_kg()[0]
IDF = _idf(LABELS)
FIXTURE_MENTIONS = sorted({_norm(r["label"]) for r in LABELS} | {
    "pulp fiction", "paris", "paris texas", "tom hanks fan club", "drama",
    "leonardo dicaprio", "manchester united", "man utd", "titanic", "usa",
})


@pytest.mark.parametrize("k", [1, 5, 20])
def test_fixture_pairs_match_reference(k):
    pairs = _pairs(FIXTURE_MENTIONS, LABELS, IDF)
    assert _rows(_score_mentions(pairs, k)) == _reference(pairs, k)


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_typo_mentions_match_reference(seed):
    rng = random.Random(seed)
    mentions = sorted({_typo(_norm(r["label"]), rng) for r in LABELS})
    pairs = _pairs(mentions, LABELS, IDF)
    assert _rows(_score_mentions(pairs, 5)) == _reference(pairs, 5)


def test_aliases_are_weighted_before_the_threshold():
    labels = [
        {"entity": "E1", "label": "Acme Works", "origin": "LABEL", "pr": 0.5},
        {"entity": "E2", "label": "Acme Work", "origin": "MAIN_ALIAS", "pr": 0.9},
        {"entity": "E3", "label": "Acme Works", "origin": "SUB_ALIAS", "pr": 0.9},
    ]
    pairs = _pairs(["acme works"], labels, _idf(labels))
    out = _score_mentions(pairs, 5)
    assert _rows(out) == _reference(pairs, 5)
    assert out["entity"].iloc[0] == "E1"


def test_partial_exact_bypasses_the_threshold():
    pairs = _pairs(["paris"], LABELS, IDF)
    fuzzy, pexact = lookup_fuzzy_pexact("paris", "paris, texas", MIN_FUZZY)
    assert pexact and fuzzy < MIN_FUZZY
    out = _score_mentions(pairs, 20)
    assert _rows(out) == _reference(pairs, 20)
    q91 = out[out["entity"] == "Q91"]
    assert q91["label"].tolist() == ["Paris"]   # the alias row beats the bypass row


def test_same_surface_form_counts_once_per_label_row():
    labels = [
        {"entity": "E1", "label": "Blue Lake", "origin": "LABEL", "pr": 0.4},
        {"entity": "E1", "label": 'Blue  "Lake"', "origin": "MAIN_ALIAS", "pr": 0.4},
        {"entity": "E2", "label": "Blue Lake", "origin": "LABEL", "pr": 0.4},
        {"entity": "E3", "label": "Green Lake", "origin": "LABEL", "pr": 0.1},
    ]
    pairs = _pairs(["blue lake"], labels, _idf(labels))
    out = _score_mentions(pairs, 5)
    assert _rows(out) == _reference(pairs, 5)
    # E1's two rows share label_norm "blue lake": its lexical term is twice
    # E2's, so it is the per-mention max and E1 outranks E2
    assert out["entity"].tolist()[:2] == ["E1", "E2"]


def test_zero_pagerank_mention():
    labels = [dict(r, pr=0.0) for r in LABELS]
    pairs = _pairs(["titanic", "paris"], labels, IDF)
    out = _score_mentions(pairs, 20)
    assert _rows(out) == _reference(pairs, 20)
    assert out["score"].notna().all()


@pytest.mark.parametrize("k", [1, 2, 3])
def test_top_k_cuts_through_tied_scores(k):
    labels = [{"entity": e, "label": "Same Name", "origin": "LABEL", "pr": 0.3}
              for e in ("Q9", "Q10", "Q2", "Q7")]
    pairs = _pairs(["same name"], labels, _idf(labels))
    out = _score_mentions(pairs, k)
    assert _rows(out) == _reference(pairs, k)
    assert out["entity"].tolist() == sorted(["Q9", "Q10", "Q2", "Q7"])[:k]


def _per_mention(pairs: pd.DataFrame, k: int) -> list[tuple]:
    return sorted(
        row
        for _, g in pairs.groupby("mention_norm")
        for row in _rows(_score_mentions(g, k))
    )


def test_shuffled_batch_equals_per_mention():
    rng = random.Random(7)
    mentions = FIXTURE_MENTIONS + sorted({_typo(m, rng) for m in FIXTURE_MENTIONS})
    pairs = _pairs(mentions, LABELS, IDF)
    shuffled = pairs.sample(frac=1.0, random_state=3).reset_index(drop=True)
    assert sorted(_rows(_score_mentions(shuffled, 5))) == _per_mention(pairs, 5)


@pytest.mark.parametrize("size", [1, 7, 50, 10_000])
def test_streaming_batches_equal_per_mention(size):
    pairs = _pairs(FIXTURE_MENTIONS, LABELS, IDF).sort_values(
        "mention_norm", kind="stable").reset_index(drop=True)
    batches = [pairs.iloc[i:i + size] for i in range(0, len(pairs), size)]
    outs = list(_score_partition(iter(batches), 5))
    streamed = [row for out in outs for row in _rows(out)]
    assert sorted(streamed) == _per_mention(pairs, 5)
    assert len(streamed) == len(set((r[0], r[1]) for r in streamed))
    if size == 1:
        # nothing is held back beyond the mention still arriving
        assert all(out["mention_norm"].nunique() == 1 for out in outs)


def test_streaming_no_batches():
    assert list(_score_partition(iter([]), 5)) == []
