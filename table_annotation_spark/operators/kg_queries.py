"""Driver-gated KG-pipeline queries: put the actual engine stages under the
DuckDB value-hash oracle (not just pytest).

Each query runs a REAL pipeline stage over testdata-derived inputs whose
ground truth is independently expressible in ANSI SQL:

- kg_cells_extract   : embedded-CSV extraction (mapInPandas CSV sniffing) vs
                       the cell grid DuckDB derives directly from nation/region
- kg_lookup_exact    : the lookup stage (blocking join + scoring + top-K) on
                       the synthesized label index vs the exact-match mapping
- kg_flagship_triples: the ENTIRE pipeline (extract → preprocess → lookup →
                       4-pass annotation → canonicalized triples) vs the
                       customer→nation / nation→region facts the tables encode
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..flagship import run_flagship, synth_kg, synth_source
from ..sources.embedded_tables import extract_cells
from . import lookup as lk


def cells_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extraction stage over the synthesized nations CSV: the engine builds
    the CSV string and parses it back; the oracle states the expected grid."""
    src = synth_source(spark, sf_dir, include_orders=False).where(
        F.col("path") == "data/nations.csv"
    )
    return (
        extract_cells(src)
        .select(
            F.col("row_idx").cast("bigint").alias("row_idx"),
            F.col("col_idx").cast("bigint").alias("col_idx"),
            "cell",
        )
        .orderBy("row_idx", "col_idx")
    )


CELLS_EXTRACT_SQL = """
WITH ranked AS (
  SELECT n_name, r_name,
         row_number() OVER (ORDER BY n_nationkey) AS rn
  FROM nation JOIN region ON n_regionkey = r_regionkey
)
SELECT 0::BIGINT AS row_idx, 0::BIGINT AS col_idx, 'nation' AS cell
UNION ALL SELECT 0::BIGINT, 1::BIGINT, 'region'
UNION ALL SELECT rn::BIGINT, 0::BIGINT, n_name FROM ranked
UNION ALL SELECT rn::BIGINT, 1::BIGINT, r_name FROM ranked
ORDER BY row_idx, col_idx
"""


def cells_multitable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table segmentation (S2/S3 analogue) under the DuckDB gate: ONE
    content string holds two concatenated CSVs separated by a blank line
    (nations table, then regions table); the extractor must emit two table_ids
    (sha256(repo␟path␟commit␟k)) with per-segment re-based row indices. The
    oracle restates both grids and the segment ids in SQL."""
    nat = spark.read.parquet(f"{sf_dir}/nation.parquet")
    reg = spark.read.parquet(f"{sf_dir}/region.parquet")

    nat_csv = nat.orderBy("n_nationkey").select(
        F.concat_ws(",", "n_name", F.col("n_nationkey").cast("string")).alias("line")
    ).groupBy().agg(
        F.concat(
            F.lit("nation,key\n"), F.concat_ws("\n", F.collect_list("line"))
        ).alias("part_n")
    )
    reg_csv = reg.orderBy("r_regionkey").select(
        F.concat_ws(",", "r_name", F.col("r_regionkey").cast("string")).alias("line")
    ).groupBy().agg(
        F.concat(
            F.lit("region,key\n"), F.concat_ws("\n", F.collect_list("line"))
        ).alias("part_r")
    )
    src = nat_csv.crossJoin(reg_csv).select(
        F.lit("tpch/geo").alias("repo"),
        F.lit("data/multi.csv").alias("path"),
        F.lit("a" * 40).alias("commit"),
        F.lit("csv").alias("lang"),
        F.concat(F.col("part_n"), F.lit("\n\n"), F.col("part_r"), F.lit("\n")).alias("content"),
    )
    return (
        extract_cells(src)
        .select(
            "table_id",
            F.col("row_idx").cast("bigint").alias("row_idx"),
            F.col("col_idx").cast("bigint").alias("col_idx"),
            "cell",
        )
        .orderBy("table_id", "row_idx", "col_idx")
    )


CELLS_MULTITABLE_SQL = """
WITH ids AS (
  SELECT sha256('tpch/geo' || chr(31) || 'data/multi.csv' || chr(31) ||
                repeat('a', 40) || chr(31) || '0') AS t0,
         sha256('tpch/geo' || chr(31) || 'data/multi.csv' || chr(31) ||
                repeat('a', 40) || chr(31) || '1') AS t1
),
n AS (
  SELECT n_name, n_nationkey,
         row_number() OVER (ORDER BY n_nationkey) AS rn
  FROM nation
),
r AS (
  SELECT r_name, r_regionkey,
         row_number() OVER (ORDER BY r_regionkey) AS rn
  FROM region
)
SELECT t0 AS table_id, 0::BIGINT AS row_idx, 0::BIGINT AS col_idx, 'nation' AS cell FROM ids
UNION ALL SELECT t0, 0::BIGINT, 1::BIGINT, 'key' FROM ids
UNION ALL SELECT t0, rn::BIGINT, 0::BIGINT, n_name FROM n, ids
UNION ALL SELECT t0, rn::BIGINT, 1::BIGINT, n_nationkey::VARCHAR FROM n, ids
UNION ALL SELECT t1, 0::BIGINT, 0::BIGINT, 'region' FROM ids
UNION ALL SELECT t1, 0::BIGINT, 1::BIGINT, 'key' FROM ids
UNION ALL SELECT t1, rn::BIGINT, 0::BIGINT, r_name FROM r, ids
UNION ALL SELECT t1, rn::BIGINT, 1::BIGINT, r_regionkey::VARCHAR FROM r, ids
ORDER BY table_id, row_idx, col_idx
"""


def lookup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The real lookup scoring path (exact-norm blocking, then the
    per-mention kernel: fuzzy, adaptive threshold, origin/PR/lexical
    scoring, top-1) over customer-name mentions vs the synthesized label
    index. Ground truth: the identity mapping (each customer name resolves
    to its own entity)."""
    labels, _, _ = synth_kg(spark, sf_dir)
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    mentions = cust.select(F.lower(F.trim("c_name")).alias("mention_norm")).distinct()
    pairs = lk.candidate_pairs(mentions, labels, max_gram_df=0)
    scored = lk.score_candidates(pairs, lk.token_idf(labels), k=1)
    return scored.select("mention_norm", "entity").orderBy("mention_norm")


LOOKUP_EXACT_SQL = """
SELECT DISTINCT lower(trim(c_name)) AS mention_norm,
       'Q' || (c_custkey + 3000000)::VARCHAR AS entity
FROM customer
ORDER BY mention_norm
"""


def lookup_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The TRIGRAM blocking + fuzzy re-scoring path under the DuckDB gate:
    every customer-name mention is systematically typo'd (leading 'c' →
    'k', so no exact label_norm match exists and candidates can only arrive
    through the gram join), then scored by the full fuzzy/adaptive/top-K
    machinery. Ground truth: each typo'd name still resolves to its own
    entity — the intended label is strictly closest (one substitution =
    indel 2; any other customer label differs in ≥1 digit as well)."""
    labels, _, _ = synth_kg(spark, sf_dir)
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    mentions = cust.select(
        F.regexp_replace(F.lower(F.trim("c_name")), "^c", "k").alias("mention_norm")
    ).distinct()
    # no exact-path hits (every mention is typo'd) — candidates can only come
    # through the gram join. Dense ID-like names make trigrams skew-hot, so
    # this runs the multi-resolution (3+6-gram) ladder under a df cap: the
    # skew-safe plan a 100 TB surface-form corpus needs.
    pairs = lk.candidate_pairs(
        mentions, labels, max_gram_df=64, multi_resolution=True,
        max_candidates_per_mention=200,
    )
    scored = lk.score_candidates(pairs, lk.token_idf(labels), k=1)
    return scored.select("mention_norm", "entity").orderBy("mention_norm")


LOOKUP_FUZZY_SQL = """
SELECT DISTINCT regexp_replace(lower(trim(c_name)), '^c', 'k') AS mention_norm,
       'Q' || (c_custkey + 3000000)::VARCHAR AS entity
FROM customer
ORDER BY mention_norm
"""


def typing_ner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F10 under the DuckDB gate: the FULL typing cascade with the
    deterministic lexicon/rule NER plugged in, over a mixed-text column that
    regex/unit/phone typing alone CANNOT decide — nation names (gazetteer →
    GPE), region names (gazetteer → LOC) and honorific-prefixed customer
    names (rule → PERSON). The gazetteer is built from the small geo dims and
    broadcast (the scale shape for any lexicon NER)."""
    from ..functions.ner import make_lexicon_ner, typing_with_ner_batches
    from pyspark.sql.types import StringType

    nat = spark.read.parquet(f"{sf_dir}/nation.parquet")
    reg = spark.read.parquet(f"{sf_dir}/region.parquet")
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")

    gaz = {r["n_name"].strip().lower(): "GPE" for r in nat.select("n_name").collect()}
    gaz.update(
        {r["r_name"].strip().lower(): "LOC" for r in reg.select("r_name").collect()}
    )
    gaz_bc = spark.sparkContext.broadcast(gaz)

    def _ner(cell: str):
        return make_lexicon_ner(gaz_bc.value)(cell)

    typing_udf = F.pandas_udf(typing_with_ner_batches(_ner), StringType())

    cells = (
        nat.select(F.col("n_name").alias("cell"))
        .unionByName(reg.select(F.col("r_name").alias("cell")))
        .unionByName(cust.select(F.concat(F.lit("Dr. "), "c_name").alias("cell")))
    )
    return cells.select("cell", typing_udf("cell").alias("typing")).orderBy("cell")


TYPING_NER_SQL = """
WITH cells AS (
  SELECT n_name AS cell FROM nation
  UNION ALL SELECT r_name FROM region
  UNION ALL SELECT 'Dr. ' || c_name FROM customer
)
SELECT cell,
       CASE WHEN lower(trim(cell)) IN (SELECT lower(trim(n_name)) FROM nation) THEN 'GPE'
            WHEN lower(trim(cell)) IN (SELECT lower(trim(r_name)) FROM region) THEN 'LOC'
            ELSE 'PERSON' END AS typing
FROM cells ORDER BY cell
"""


_FLAGSHIP_MEMO: dict = {}


def _flagship_memo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One flagship run shared by the kg_flagship_* oracle queries (they are
    different projections of the same pipeline output — entity triples vs
    literal triples — so the driver's correctness sweep pays for the pipeline
    once, not once per oracle). Memo key includes the session id so a fresh
    session (new JVM state) recomputes; the cached frame is an EAGER
    localCheckpoint, i.e. actually materialized."""
    from ..session import ckpt

    key = (id(spark), sf_dir)
    if key not in _FLAGSHIP_MEMO:
        t = run_flagship(spark, sf_dir, include_orders=False, k=3)
        _FLAGSHIP_MEMO.clear()  # never hold frames of a dead session
        _FLAGSHIP_MEMO[key] = ckpt(t, eager=True)
    return _FLAGSHIP_MEMO[key]


def flagship_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END: the full KG-construction pipeline on the customer/nation
    tables; output = distinct entity triples. Ground truth: the relational
    facts the synthesized tables encode (customer −P27→ nation from the
    customer tables; nation −P361/P17/(-)-free ties→ region handled by the
    P361 fixture edge)."""
    t = _flagship_memo(spark, sf_dir)
    return (
        t.where(F.col("obj_kind") == "entity")
        .select("subj", "pred", "obj")
        .distinct()
        .orderBy("subj", "pred", "obj")
    )


FLAGSHIP_TRIPLES_SQL = """
SELECT DISTINCT 'Q' || (c_custkey + 3000000)::VARCHAR AS subj,
       'P27' AS pred,
       'Q' || (c_nationkey + 10000)::VARCHAR AS obj
FROM customer
UNION
SELECT DISTINCT 'Q' || (n_nationkey + 10000)::VARCHAR,
       'P361',
       'Q' || (n_regionkey + 20000)::VARCHAR
FROM nation
ORDER BY 1, 2, 3
"""

def flagship_literals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The C7 LITERAL path end-to-end under the driver gate: the same
    flagship run as kg_flagship_triples, projected to LITERAL-object triples.
    Ground truth: each customer CSV carries a birthdate column whose value
    equals the customer entity's P569 DateTime edge (flagship._birthdate_col
    — one shared expression), so literal matching scores 1.0, CPA resolves
    the (customer, birthdate) pair to P569, and the annotation kernel emits
    exactly one (customer, P569, birthdate) literal triple per customer. The balance
    column intentionally produces NOTHING (Quantity-1 comparison disabled for
    reference parity, annotation_models.py:634-641) — the oracle's absence of
    P2218 rows pins that too."""
    t = _flagship_memo(spark, sf_dir)
    return (
        t.where(F.col("obj_kind") == "literal")
        .select("subj", "pred", "obj")
        .distinct()
        .orderBy("subj", "pred", "obj")
    )


FLAGSHIP_LITERALS_SQL = """
SELECT DISTINCT 'Q' || (c_custkey + 3000000)::VARCHAR AS subj,
       'P569' AS pred,
       ('1970-01-01'::DATE + (c_custkey % 18000)::INT)::VARCHAR AS obj
FROM customer
ORDER BY 1, 2, 3
"""


def canon_conflict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonicalization CONFLICT semantics (C15 + north_star mention-dedupe)
    under the DuckDB gate: for every nation, one surface form is confidently
    CEA-resolved to TWO duplicate entity ids (0.9 and 0.8 — both above the
    0.5 confidence gate) and to one stray id at 0.3 (below the gate). The
    real ``canonicalize`` must merge exactly the confident pair (rep = min
    entity id), leave the stray id un-merged, remap triple subjects/objects
    through the mapping, and never touch literal objects. The oracle states
    the same semantics independently: gate → recursive-CTE transitive closure
    over sha256(mention)↔entity edges → min-entity rep → remap."""
    from .materialize import canonicalize

    nat = spark.read.parquet(f"{sf_dir}/nation.parquet")
    base = nat.select(
        F.col("n_nationkey").cast("long").alias("k"),
        F.lower(F.trim("n_name")).alias("m"),
    )

    def q(off: int):
        return F.concat(F.lit("Q"), (F.col("k") + off).cast("string"))

    cea = (
        base.select(F.col("m").alias("mention_norm"), q(100).alias("entity"),
                    F.lit(0.9).alias("score"))
        .unionByName(base.select(F.col("m").alias("mention_norm"),
                                 q(200).alias("entity"), F.lit(0.8).alias("score")))
        .unionByName(base.select(F.col("m").alias("mention_norm"),
                                 q(900).alias("entity"), F.lit(0.3).alias("score")))
    )
    triple_cols = ("subj", "pred", "obj", "obj_kind", "table_id", "row_idx", "score")

    def trip(subj, pred, obj, kind, tid, score):
        return base.select(
            subj.alias("subj"), F.lit(pred).alias("pred"), obj.alias("obj"),
            F.lit(kind).alias("obj_kind"), F.lit(tid).alias("table_id"),
            F.col("k").alias("row_idx"), F.lit(score).alias("score"),
        ).select(*triple_cols)

    triples = (
        trip(q(100), "P17", q(200), "entity", "t1", 0.9)      # both sides merge
        .unionByName(trip(q(900), "P17", q(100), "entity", "t2", 0.3))  # stray subj
        .unionByName(trip(q(100), "P1082", F.col("k").cast("string"), "literal", "t1", 0.9))
    )
    return (
        canonicalize(triples, cea)
        .select("subj", "pred", "obj", "obj_kind")
        .distinct()
        .orderBy("subj", "pred", "obj")
    )


CANON_CONFLICT_SQL = """
WITH RECURSIVE n AS (
  SELECT n_nationkey::BIGINT AS k, lower(trim(n_name)) AS m FROM nation
),
cea AS (
  SELECT m, 'Q' || (k+100)::VARCHAR AS entity, 0.9 AS score FROM n
  UNION ALL SELECT m, 'Q' || (k+200)::VARCHAR, 0.8 FROM n
  UNION ALL SELECT m, 'Q' || (k+900)::VARCHAR, 0.3 FROM n
),
edges AS (
  SELECT DISTINCT sha256(m) AS src, entity AS dst FROM cea WHERE score >= 0.5
),
sym AS (SELECT src AS a, dst AS b FROM edges UNION SELECT dst, src FROM edges),
reach(a, b) AS (
  SELECT a, b FROM sym
  UNION
  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
),
comp AS (SELECT a AS node, least(a, min(b)) AS component FROM reach GROUP BY a),
rep AS (
  SELECT component,
         min(CASE WHEN regexp_matches(node, '^[PQ][0-9]+$') THEN node END) AS rep
  FROM comp GROUP BY component
),
emap AS (
  SELECT c.node AS entity, r.rep
  FROM comp c JOIN rep r USING (component)
  WHERE r.rep IS NOT NULL AND regexp_matches(c.node, '^[PQ][0-9]+$')
),
triples AS (
  SELECT 'Q'||(k+100)::VARCHAR AS subj, 'P17' AS pred,
         'Q'||(k+200)::VARCHAR AS obj, 'entity' AS obj_kind FROM n
  UNION ALL
  SELECT 'Q'||(k+900)::VARCHAR, 'P17', 'Q'||(k+100)::VARCHAR, 'entity' FROM n
  UNION ALL
  SELECT 'Q'||(k+100)::VARCHAR, 'P1082', k::VARCHAR, 'literal' FROM n
)
SELECT DISTINCT coalesce(es.rep, t.subj) AS subj, pred,
       CASE WHEN obj_kind = 'entity' THEN coalesce(eo.rep, t.obj) ELSE t.obj END AS obj,
       obj_kind
FROM triples t
LEFT JOIN emap es ON es.entity = t.subj
LEFT JOIN emap eo ON eo.entity = t.obj
ORDER BY subj, pred, obj
"""


ORACLES = {
    "kg_cells_extract": CELLS_EXTRACT_SQL,
    "kg_cells_multitable": CELLS_MULTITABLE_SQL,
    "kg_lookup_exact": LOOKUP_EXACT_SQL,
    "kg_lookup_fuzzy": LOOKUP_FUZZY_SQL,
    "kg_typing_ner": TYPING_NER_SQL,
    "kg_flagship_triples": FLAGSHIP_TRIPLES_SQL,
    "kg_flagship_literals": FLAGSHIP_LITERALS_SQL,
    "kg_canon_conflict": CANON_CONFLICT_SQL,
}

QUERIES = {
    "kg_cells_extract": cells_extract,
    "kg_cells_multitable": cells_multitable,
    "kg_lookup_exact": lookup_exact,
    "kg_lookup_fuzzy": lookup_fuzzy,
    "kg_typing_ner": typing_ner,
    "kg_flagship_triples": flagship_triples,
    "kg_flagship_literals": flagship_literals,
    "kg_canon_conflict": canon_conflict,
}
