"""Stage 3 — candidates: fuzzy entity lookup as a blocked join.

Replaces the reference's Elasticsearch round-trips
(/root/reference/lookup/es_lookup.py:27-217) with a candidate-pair-generation
join between the distinct mention set and ``kg_labels``:

1. **Column classification** (C1/C2, annotation_models.py:159-225): entity vs
   literal columns from preprocessing aggregates.
2. **Mention dedupe** (L8, annotation_models.py:242-247): DISTINCT normalized
   mentions — each distinct string is scored once globally.
3. **Blocking join** (replaces ES fuzziness=AUTO retrieval, L3): char-trigram
   keys on both sides (JVM-side `transform`+`explode`, no UDF) unioned with an
   exact-norm fast path; label-side hot grams (df > max_gram_df) are dropped —
   the exact path keeps head surface forms reachable, so hub labels like
   "USA" cannot explode the gram join (explicit skew control; AQE skew-join
   splitting handles residual imbalance).
4. **Length band** (es_lookup.py:207-210): 0.25·len ≤ label_len ≤ 4·len.
5. **Fuzzy re-score** (L5, es_lookup.py:123-174): mixed indel/token_sort/
   token_set plus partial-exact bypass, times the origin factor.
6. **Adaptive threshold** (L6): fuzzy ≥ max(0.70, best−0.25) per mention.
7. **Final score** (L7): 0.7·fuzzy·origin + 0.1·PR-term + 0.2·lexical of
   each entity's best label. The ES BM25 component is replaced by a
   deterministic IDF-weighted token-overlap score (documented deviation;
   SURVEY §2.4 L7).
8. **Top-K per mention** (K=20) by (score desc, entity asc).

Steps 5-8 are one pandas pass per mention (``_score_mentions``, the shape of
the reference's per-mention loop, es_lookup.py:123-198) in a ``mapInPandas``.
"""

from __future__ import annotations

import math
from functools import partial

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..session import bcast, ckpt as _sckpt

from ..functions.similarity import fuzzy_pexact_batch

FUZZY_FACTOR = 0.7          # 1 - PR_FACTOR - LEX_FACTOR (settings.py:41,49)
PR_FACTOR = 0.1
LEX_FACTOR = 0.2
ORIGIN_WEIGHTS = {"LABEL": 1.0, "MAIN_ALIAS": 0.94, "SUB_ALIAS": 0.88}
MIN_FUZZY = 0.70            # settings.py:29
ADAPTIVE_MARGIN = 0.25      # settings.py:30
MIN_COVERAGE = 0.3          # annotation_models.py:261-277
DEFAULT_K = 20

CONCEPTY = ("UNKNOWN", "PERSON", "ORG", "GPE", "LOC", "EVENT", "FAC", "NORP",
            "LAW", "PRODUCT", "WORK_OF_ART", "LANGUAGE")
DATE_TYPES = ("DATE", "TIME")
NUM_NOUNIT = ("CARDINAL", "PERCENT", "RANGE")
NUM_UNIT = ("DISTANCE", "MASS", "MONEY", "DURATION", "SPEED", "TEMPERATURE",
            "FREQUENCY", "DATA", "POWER", "VOLTAGE", "CURRENT", "AREA",
            "VOLUME")


# ------------------------------------------------------------ column classes
def classify_columns(column_meta: DataFrame, body: DataFrame) -> DataFrame:
    """C1/C2 → (table_id, col_idx, col_class) with col_class ∈
    {entity, date, numeral_unit, numeral, textual, index}.

    Entity columns: concept-typed score>0.5, <50% long cells (>150 chars),
    <50% cells with >3 distinct punctuation marks (annotation_models.py:159-187).
    """
    stats = body.groupBy("table_id", "col_idx").agg(
        F.avg((F.length("cell") > 150).cast("double")).alias("long_ratio"),
        F.avg(
            (
                F.size(
                    F.array_distinct(
                        F.split(F.regexp_replace("cell", r"[\w\s]", ""), "")
                    )
                )
                > 3
            ).cast("double")
        ).alias("punct_ratio"),
    )
    m = column_meta.join(stats, ["table_id", "col_idx"], "left").fillna(
        {"long_ratio": 0.0, "punct_ratio": 0.0}
    )
    is_index = (F.col("col_type") == "ORDINAL") & (F.col("col_idx") == 0)
    is_entity = (
        F.col("col_type").isin(list(CONCEPTY))
        & (F.col("col_type_score") > 0.5)
        & (F.col("long_ratio") < 0.5)
        & (F.col("punct_ratio") < 0.5)
    )
    cls = (
        F.when(is_index, "index")
        .when(is_entity, "entity")
        .when(F.col("col_type").isin(list(DATE_TYPES)) & (F.col("col_type_score") > 0.5), "date")
        .when(F.col("col_type").isin(list(NUM_UNIT)) & (F.col("col_type_score") > 0.5), "numeral_unit")
        .when(F.col("col_type").isin(list(NUM_NOUNIT)) & (F.col("col_type_score") > 0.5), "numeral")
        .otherwise("textual")
    )
    return m.select("table_id", "col_idx", cls.alias("col_class"))


# ------------------------------------------------------------ mentions
def norm_col(c):
    """es_lookup.py:202-204 normalization, JVM-side."""
    return F.lower(F.trim(F.regexp_replace(F.regexp_replace(c, '"', " "), r"\s+", " ")))


def extract_mentions(body: DataFrame, col_classes: DataFrame) -> DataFrame:
    """Cells of entity columns → (table_id, row_idx, col_idx, mention_norm);
    mentions of length ≤1 dropped (annotation_models.py:242-247)."""
    ent = col_classes.where(F.col("col_class") == "entity")
    return (
        body.join(ent, ["table_id", "col_idx"])
        .withColumn("mention_norm", norm_col(F.col("cell")))
        .where(F.length("mention_norm") > 1)
        .select("table_id", "row_idx", "col_idx", "cell", "mention_norm")
    )


# ------------------------------------------------------------ blocking
def _grams(col, n: int = 3):
    """Char n-gram array, JVM-side; short strings fall back to the whole
    string as a single key."""
    return F.when(
        F.length(col) < n, F.array(col)
    ).otherwise(
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.length(col) - n + 1),
                lambda i: col.substr(i, F.lit(n)),
            )
        )
    )


def token_idf(labels: DataFrame) -> DataFrame:
    """(token, idf) from kg_labels — the deterministic BM25 stand-in corpus
    statistic. Computed once per KG build, broadcast at use."""
    toks = labels.select(
        F.explode(F.split(F.col("label_norm"), r"\s+")).alias("token")
    ).where(F.length("token") > 0)
    n_docs = labels.count()
    return toks.groupBy("token").agg(
        F.log2(F.lit(float(n_docs + 1)) / (F.count(F.lit(1)) + 1)).alias("idf")
    )


def candidate_pairs(
    mentions_distinct: DataFrame,
    labels: DataFrame,
    max_gram_df: int | None = None,
    multi_resolution: bool = False,
    max_candidates_per_mention: int | None = None,
) -> DataFrame:
    """Blocked candidate pairs (mention_norm × entity/label rows), deduped.

    Two paths unioned: exact label_norm equality (covers hot labels even when
    their grams are dropped) and n-gram-key equality with the length band.

    ``multi_resolution`` adds a 6-gram blocking tier alongside the trigrams
    (both under the same label-side df cap). Rationale: the df cap is the
    skew control, but a mention whose EVERY trigram is hot (dense ID-like
    strings — "customer#000000001" corpora) would lose all blocking keys;
    longer grams are exponentially rarer, so the 6-gram tier restores recall
    for exactly those mentions while staying inside the cap. This is the
    standard multi-resolution blocking ladder for skewed surface-form
    corpora at scale.
    """
    m = mentions_distinct.select("mention_norm").distinct()

    # Dictionary-encode label rows (guide §8: shuffle a lightweight proxy,
    # attach the payload once): the shared-key count, top-N window and pair
    # dedupe below used to group/sort/shuffle the FULL 8-column string tuple
    # three times (measured 13 of the 15 s of this stage at sf0.1) — now
    # every heavy exchange carries (mention_norm, _lid) and the label
    # attributes are joined back exactly once onto the pruned pair set.
    # _lid = rank over the full attribute tuple, so the top-N tie-break
    # below (_lid asc) refines the previous (entity, label_norm) order
    # deterministically. The single-task ordering window is bounded by the
    # label-index size (same posture as the pipeline's table_id dictionary);
    # the lazy checkpoint pins one id assignment for all consumers.
    lbl = _sckpt(
        labels.select("entity", "label", "label_norm", "length", "origin", "pr")
        .distinct()
        .withColumn(
            "_lid",
            F.row_number().over(
                Window.orderBy(
                    "entity", "label_norm", "origin", "label", "length", "pr"
                )
            ),
        )
    )
    lbl_n = lbl.select("_lid", "label_norm", "length")

    exact = m.join(lbl_n, m["mention_norm"] == lbl_n["label_norm"]).select(
        "mention_norm", "_lid"
    )

    sizes = [3, 6] if multi_resolution else [3]
    grammed_parts = []
    for n in sizes:
        # per-tier df budget: 6-grams are exponentially rarer than trigrams,
        # so the longer tier can afford a 16× larger cap — that is what lets
        # it catch mentions whose trigrams are ALL hot without re-admitting
        # the trigram skew
        cap = None if max_gram_df is None else max_gram_df * (16 if n == 6 else 1)
        mg = m.select(
            "mention_norm",
            F.explode(_grams(F.col("mention_norm"), n=n)).alias("gram"),
        )
        lg = lbl_n.select(
            "_lid", "length",
            F.explode(_grams(F.col("label_norm"), n=n)).alias("gram"),
        )
        if cap is not None:
            hot = (
                lg.groupBy("gram")
                .count()
                .where(F.col("count") > cap)
                .select("gram")
            )
            lg = lg.join(bcast(hot), "gram", "left_anti")
        grammed_parts.append(
            mg.join(lg, "gram")
            .where(
                (F.col("length") >= 0.25 * F.length("mention_norm"))
                & (F.col("length") <= 4 * F.length("mention_norm"))
            )
            .select("mention_norm", "_lid")
        )
    grammed = grammed_parts[0]
    for part in grammed_parts[1:]:
        grammed = grammed.unionByName(part)
    if max_candidates_per_mention is not None:
        # count-based candidate pruning (PPJoin-style): rank labels per
        # mention by how many blocking keys they share — JVM-side — and keep
        # the top N BEFORE the Python fuzzy kernel sees a single pair. The
        # true match shares the most keys by construction; junk candidates
        # admitted through one mid-frequency gram drop out here instead of
        # burning UDF time. Exact-path hits are never pruned.
        # One upfront exchange on mention_norm serves BOTH the count groupBy
        # (clustering on a key subset is satisfied) and the ranking window —
        # previously each ran its own full-width exchange.
        counted = (
            grammed.repartition("mention_norm")
            .groupBy("mention_norm", "_lid")
            .agg(F.count(F.lit(1)).alias("_shared"))
        )
        w = Window.partitionBy("mention_norm").orderBy(
            F.desc("_shared"), F.asc("_lid")
        )
        grammed = (
            counted.withColumn("_rk", F.row_number().over(w))
            .where(F.col("_rk") <= max_candidates_per_mention)
            .select("mention_norm", "_lid")
        )
    ids = exact.unionByName(grammed).distinct()
    return ids.join(bcast(lbl), "_lid").select(
        "mention_norm",
        F.length("mention_norm").alias("m_len"),
        "entity", "label", "label_norm", "length", "origin", "pr",
    )


def _log2(x: np.ndarray) -> np.ndarray:
    """Spark's ``log2``: ln(x)/ln(2), so scores match the JVM bit for bit."""
    return np.array([math.log(v) for v in x], dtype=np.float64) / math.log(2.0)


def _score_mentions(pdf: pd.DataFrame, k: int) -> pd.DataFrame:
    """L5-L8 for whole mentions: (mention_norm, entity, label, label_norm,
    origin, pr, lex) pair rows → (mention_norm, entity, label, score), the
    top-k entities of each mention with their best label. Rows may come in
    any order; every pair of a mention must be in ``pdf``."""
    mention = pdf["mention_norm"].to_numpy()
    fuzzy, pexact = fuzzy_pexact_batch(
        mention, pdf["label_norm"].to_numpy(), MIN_FUZZY
    )
    # the reference multiplies the origin factor in BEFORE the adaptive
    # threshold (es_lookup.py:156-187), so the per-mention best and the
    # filter both read the weighted score
    weight = pdf["origin"].map(ORIGIN_WEIGHTS).fillna(ORIGIN_WEIGHTS["LABEL"])
    fuzzy_w = fuzzy * weight.to_numpy(dtype=np.float64)
    best = pd.Series(fuzzy_w).groupby(mention, sort=False).transform("max")
    keep = (fuzzy_w >= np.maximum(MIN_FUZZY, best.to_numpy() - ADAPTIVE_MARGIN)) | pexact
    s = pdf.loc[keep, ["mention_norm", "entity", "label", "label_norm", "pr", "lex"]]
    s = s.assign(fuzzy_w=fuzzy_w[keep])
    # lexical overlap per (mention, entity, label_norm), summed over every
    # surviving label row of that surface form
    s["lex_raw"] = s.groupby(
        ["mention_norm", "entity", "label_norm"], sort=False
    )["lex"].transform("sum")
    # per-entity best label (es_lookup.py:148-152)
    s = s.sort_values(["fuzzy_w", "lex_raw", "pr", "label"], ascending=False)
    s = s.drop_duplicates(["mention_norm", "entity"])
    g = s.groupby("mention_norm", sort=False)
    max_pr = g["pr"].transform("max").to_numpy()
    max_lex = g["lex_raw"].transform("max").to_numpy()
    lex_raw = s["lex_raw"].to_numpy()
    lex_term = np.divide(lex_raw, max_lex, out=np.zeros_like(lex_raw), where=max_lex > 0)
    s["score"] = (
        FUZZY_FACTOR * s["fuzzy_w"].to_numpy()
        + PR_FACTOR * _log2(s["pr"].to_numpy() + 1.0)
        / _log2(np.maximum(max_pr, 1e-9) + 1.0)
        + LEX_FACTOR * lex_term
    )
    top = s.sort_values(["score", "entity"], ascending=[False, True])
    return top.groupby("mention_norm", sort=False).head(k)[
        ["mention_norm", "entity", "label", "score"]
    ]


def _scored(frames: list, k: int):
    if frames:
        out = _score_mentions(pd.concat(frames, ignore_index=True), k)
        if len(out):
            yield out


def _score_partition(batches, k: int):
    """mapInPandas body over batches sorted by mention_norm: scores each
    mention once all its pairs have arrived, holding back only the last
    mention of a batch, which may continue in the next one."""
    pending: list = []
    for pdf in batches:
        if not len(pdf):
            continue
        m = pdf["mention_norm"].to_numpy()
        other = np.flatnonzero(m != m[-1])
        cut = int(other[-1]) + 1 if len(other) else 0
        if cut or (pending and pending[-1]["mention_norm"].iat[0] != m[0]):
            yield from _scored(pending + [pdf.iloc[:cut]], k)
            pending = []
        pending.append(pdf.iloc[cut:])
    yield from _scored(pending, k)


def score_candidates(
    pairs: DataFrame,
    idf: DataFrame,
    k: int = DEFAULT_K,
) -> DataFrame:
    """Fuzzy re-score → origin factor → adaptive threshold → per-entity best
    label → final L7 score → top-K, as one pandas pass per mention
    (``_score_mentions``). Returns (mention_norm, entity, best_label, score).

    The lexical term is summed JVM-side per pair against a broadcast
    per-mention token→idf map; the pairs are checkpointed (lazily) because
    both the map and the scored rows read them."""
    pairs = _sckpt(pairs)
    m_tok = pairs.select("mention_norm").distinct().select(
        "mention_norm",
        F.explode(F.array_distinct(F.split("mention_norm", r"\s+"))).alias("token"),
    )
    m_idf = (
        m_tok.join(bcast(idf), "token")
        .groupBy("mention_norm")
        .agg(F.map_from_entries(F.collect_list(F.struct("token", "idf"))).alias("m_idf"))
    )
    lex = F.aggregate(
        F.split("label_norm", r"\s+"), F.lit(0.0),
        lambda acc, t: acc + F.coalesce(F.col("m_idf")[t], F.lit(0.0)),
    )
    # the Python kernel is the CPU-bound part of lookup: spread it over every
    # core whatever the (input-sized) shuffle-partition setting — blocking
    # can emit 100-1000× more pairs than it has input rows
    par = pairs.sparkSession.sparkContext.defaultParallelism * 2
    schema = "mention_norm string, entity string, label string, score double"
    return (
        pairs.join(bcast(m_idf), "mention_norm", "left")
        .select(
            "mention_norm", "entity", "label", "label_norm", "origin", "pr",
            lex.alias("lex"),
        )
        .repartition(par, "mention_norm")
        .sortWithinPartitions("mention_norm")
        .mapInPandas(partial(_score_partition, k=k), schema)
        # renamed outside the kernel on purpose: this projection drops the
        # partitioning mapInPandas reports, which names the caller's
        # mention_norm attribute; a checkpoint keeping it leaves Spark unable
        # to deduplicate a later self-join with the mentions (lookup's
        # coverage join fails analysis)
        .withColumnRenamed("label", "best_label")
    )


def lookup(
    body: DataFrame,
    col_classes: DataFrame,
    labels: DataFrame,
    idf: DataFrame,
    k: int = DEFAULT_K,
    max_gram_df: int | None = None,
    multi_resolution: bool = False,
    max_candidates_per_mention: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Full stage: returns (candidates, kept_entity_cols).

    candidates: (table_id, row_idx, col_idx, mention_norm, entity, best_label,
    score) — per-cell candidate set after the coverage demotion rule
    (annotation_models.py:261-277; we apply it uniformly, NOT replicating the
    reference's iterator-skip bug — documented deviation, SURVEY §3.1.d).
    """
    from .skew import salted_join

    mentions = extract_mentions(body, col_classes).transform(_sckpt)
    distinct_mentions = mentions.select("mention_norm").distinct()
    pairs = candidate_pairs(
        distinct_mentions, labels, max_gram_df=max_gram_df,
        multi_resolution=multi_resolution,
        max_candidates_per_mention=max_candidates_per_mention,
    )
    cand = score_candidates(pairs, idf, k=k).transform(_sckpt)

    # coverage per entity column: fraction of the column's data ROWS whose
    # cell has ≥1 candidate — the reference computes col_coverage per row over
    # ALL rows of the column, including short/empty cells that never reached
    # lookup (annotation_models.py:262-277), so a column dominated by one hot
    # covered mention stays entity-classed even when its distinct-mention
    # coverage would be low. Whether a cell is covered depends only on its
    # DISTINCT normalized mention, so coverage is computed from the tiny
    # covered-mention set (broadcast semi join) — the cells × candidates
    # expansion below runs only for the columns that survive the gate.
    ent = col_classes.where(F.col("col_class") == "entity").select(
        "table_id", "col_idx"
    )
    total_rows = (
        body.join(ent, ["table_id", "col_idx"])
        .groupBy("table_id", "col_idx")
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )
    covered = cand.select("mention_norm").distinct()
    cov_rows = (
        mentions.join(bcast(covered), "mention_norm", "left_semi")
        .select("table_id", "col_idx", "row_idx")
        .distinct()
        .groupBy("table_id", "col_idx")
        .agg(F.count(F.lit(1)).alias("n_cov"))
    )
    cov = (
        total_rows.join(cov_rows, ["table_id", "col_idx"], "left")
        .fillna({"n_cov": 0})
        .select(
            "table_id", "col_idx",
            (F.col("n_cov") / F.col("n_rows")).alias("coverage"),
        )
    )
    kept = cov.where(F.col("coverage") >= MIN_COVERAGE).select(
        "table_id", "col_idx", "coverage"
    )

    # head surface forms ("USA") appear in millions of cells but have ≤K
    # candidates — the classic hot probe key. Salt it explicitly.
    kept_mentions = mentions.join(
        bcast(kept.select("table_id", "col_idx")), ["table_id", "col_idx"]
    )
    candidates = salted_join(kept_mentions, cand, ["mention_norm"]).select(
        "table_id", "row_idx", "col_idx", "cell", "mention_norm", "entity",
        "best_label", "score",
    )
    return candidates, kept
