"""Stage 0 — kg_build: raw KG dumps → kg_labels / kg_edges / kg_degrees
DataFrames.

Replaces the reference's two external stores with flat columnar tables:
- Elasticsearch surface-form index (/root/reference/data/lookup/entity_indexing.py:55-107)
  → ``kg_labels (entity, label, label_norm, length, origin, pr)``
- LMDB pickle hashmap (/root/reference/data/hashmap/wd_hashmap_indexing.py:45-78)
  → ``kg_edges (subj, pred, reverse, obj, obj_kind, obj_type)``

At 100 TB scale both are written as Iceberg/Parquet, `kg_labels` bucketed by
``label_norm`` (join key of the lookup stage) and `kg_edges` bucketed by
``subj`` (join key of every annotation-stage join), so repeated joins are
co-located and shuffle-free after the first write. Locally we keep them as
in-memory DataFrames.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

LABELS_SCHEMA = StructType(
    [
        StructField("entity", StringType(), False),
        StructField("label", StringType(), False),
        StructField("length", IntegerType(), False),
        StructField("origin", StringType(), False),
        StructField("pr", DoubleType(), False),
    ]
)

EDGES_SCHEMA = StructType(
    [
        StructField("subj", StringType(), False),
        StructField("pred", StringType(), False),
        StructField("reverse", BooleanType(), False),
        StructField("obj", StringType(), False),
        StructField("obj_kind", StringType(), False),  # entity | literal
        StructField("obj_type", StringType(), False),  # rank | literal tag
    ]
)

# Wikidata transitive properties treated as proximity-1.0 paths
# (/root/reference/annotation/annot_scripts/knowledge_bases.py:46-47)
TRANSITIVE_PIDS = ["P131", "P279", "P361", "P171", "P403", "P706", "P927", "P1433"]

# type predicates for CTA level-1 (annotation_models.py:136-180)
TYPE_PIDS = ["P31", "P106", "P39", "P105"]


def labels_df(spark: SparkSession, rows: list[dict]) -> DataFrame:
    df = spark.createDataFrame(rows, schema=LABELS_SCHEMA)
    return with_label_norm(df)


def edges_df(spark: SparkSession, rows: list[dict]) -> DataFrame:
    return spark.createDataFrame(rows, schema=EDGES_SCHEMA)


def with_label_norm(labels: DataFrame) -> DataFrame:
    """Adds the normalized join key (es_lookup.py:202-204 semantics):
    strip double quotes, collapse whitespace, lowercase — all JVM-side."""
    return labels.withColumn(
        "label_norm",
        F.lower(F.trim(F.regexp_replace(F.regexp_replace("label", '"', " "), r"\s+", " "))),
    )


def labels_from_jsonl(spark: SparkSession, path: str) -> DataFrame:
    """Wikidata-style label dump → kg_labels. One output row per label /
    main-alias / sub-alias (entity_indexing.py:88-97): a 3-way explode, not a
    row loop."""
    raw = spark.read.json(path)
    lbl = raw.select(
        F.col("entity"),
        F.col("label").alias("label"),
        F.lit("LABEL").alias("origin"),
        F.col("pr").cast("double").alias("pr"),
    ).where(F.col("label").isNotNull())
    main = (
        raw.select(
            "entity",
            F.explode_outer("main_aliases").alias("label"),
            F.lit("MAIN_ALIAS").alias("origin"),
            F.col("pr").cast("double").alias("pr"),
        )
        .where(F.col("label").isNotNull())
    )
    sub = (
        raw.select(
            "entity",
            F.explode_outer("sub_aliases").alias("label"),
            F.lit("SUB_ALIAS").alias("origin"),
            F.col("pr").cast("double").alias("pr"),
        )
        .where(F.col("label").isNotNull())
    )
    out = lbl.unionByName(main).unionByName(sub).withColumn(
        "length", F.length("label")
    )
    return with_label_norm(
        out.select("entity", "label", "length", "origin", "pr")
    )


def edges_from_jsonl(spark: SparkSession, path: str) -> DataFrame:
    """Wikidata-style edge dump {subj, pred, obj, obj_kind, obj_type} →
    kg_edges with reverse direction materialized as a union of swapped
    columns (replaces the reference's "(-)"+pid key prefix,
    wd_hashmap_indexing.py:66-75). Drops P1889 (different-from) like the
    reference; normalizes DateTime -00-00 suffixes."""
    raw = spark.read.json(path).where(F.col("pred") != "P1889")
    fwd = raw.select(
        "subj",
        "pred",
        F.lit(False).alias("reverse"),
        F.when(
            F.col("obj_type").startswith("DateTime"),
            F.regexp_replace("obj", r"-00-00$", "-01-01"),
        )
        .otherwise(F.col("obj"))
        .alias("obj"),
        "obj_kind",
        "obj_type",
    )
    rev = fwd.where(F.col("obj_kind") == "entity").select(
        F.col("obj").alias("subj"),
        "pred",
        F.lit(True).alias("reverse"),
        F.col("subj").alias("obj"),
        "obj_kind",
        "obj_type",
    )
    return fwd.unionByName(rev)


def write_bucketed(
    df: DataFrame, name: str, bucket_col: str, n_buckets: int = 16
) -> DataFrame:
    """Persist a KG table bucketed on its join key (kg_edges → subj,
    kg_labels → label_norm). On the bucketed side, joins keyed on
    ``bucket_col`` read pre-partitioned data — no exchange (verified in
    tests/test_plans.py). At cluster scale this is the Iceberg
    ``bucket(N, col)`` partition transform; locally it is a Spark bucketed
    table in the session warehouse."""
    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    # a previous session may have left the managed location behind
    warehouse = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    loc = os.path.join(warehouse.replace("file:", ""), name.lower())
    if os.path.exists(loc):
        shutil.rmtree(loc, ignore_errors=True)
    (
        df.write.mode("overwrite")
        .bucketBy(n_buckets, bucket_col)
        .sortBy(bucket_col)
        .format("parquet")
        .saveAsTable(name)
    )
    return df.sparkSession.table(name)


def degrees(edges: DataFrame) -> DataFrame:
    """kg_degrees (entity, degree) — popularity damping input
    (annotation_models.py:499-503). One groupBy; broadcast downstream."""
    return edges.groupBy(F.col("subj").alias("entity")).agg(
        F.count(F.lit(1)).alias("degree")
    )
