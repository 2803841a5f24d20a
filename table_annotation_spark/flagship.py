"""Flagship job: the full KG-construction pipeline over a source-repo table
synthesized DETERMINISTICALLY from the driver's TPC-H-ish parquet.

Shape (per BASELINE.json input_hint): an Iceberg-like table
(repo, path, commit, lang, content) whose `content` embeds CSV tables —
here: one "customers of nation N" CSV per nation plus a nations/regions CSV —
annotated against a KG derived from the same parquet (every customer, nation
and region becomes an entity with labels and typed edges).

This gives entry() a real end-to-end run whose volume scales with sf:
sf0.001 → ~25 tables / ~175 rows; sf0.1 → ~25 tables / ~15k rows.

Synthetic-entity id scheme (Wikidata-shaped so F15/F16 hold):
  nation k   → Q{10000+k}         region k → Q{20000+k}
  customer k → Q{3000000+k}
  classes: nation Q9001, region Q9002, person Q9005 (P279 → Q9000 → Q35120)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .plans.pipeline import PipelineRun
from .sources import kg_build


def _birthdate_col():
    """Deterministic per-customer birthdate (yyyy-MM-dd): epoch + custkey%18000
    days. The SAME expression feeds the customer CSV column AND the P569
    DateTime edge in synth_kg, so the C7 DateTime literal path (date cell ↔
    entity date edge, exact date_similarity → 1.0) fires end-to-end and the
    emitted literal triples are independently restatable in the DuckDB oracle
    (kg_queries.FLAGSHIP_LITERALS_SQL)."""
    return F.date_format(
        F.date_add(
            F.to_date(F.lit("1970-01-01")),
            (F.col("c_custkey") % 18000).cast("int"),
        ),
        "yyyy-MM-dd",
    )


def synth_source(
    spark: SparkSession,
    sf_dir: str,
    max_tables: int | None = None,
    include_orders: bool = True,
    replicate: int = 1,
) -> DataFrame:
    """Build the (repo, path, commit, lang, content) source table: one CSV per
    nation with its customers (name, nation, balance), one per nation with its
    orders (customer, nation, price, date — 10× the rows, the scaling
    workload), + one nations CSV.
    Pure DataFrame ops + a final per-nation aggregation into content strings."""
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    nat = spark.read.parquet(f"{sf_dir}/nation.parquet")
    reg = spark.read.parquet(f"{sf_dir}/region.parquet")

    c = (
        cust.join(F.broadcast(nat), cust["c_nationkey"] == nat["n_nationkey"])
        .select(
            "n_nationkey", "n_name", "c_custkey", "c_name",
            F.floor(F.col("c_acctbal")).cast("bigint").alias("bal"),
            _birthdate_col().alias("birth"),
        )
    )
    # numeric cutoff BEFORE paths are formatted — a lexicographic filter on
    # the path string would keep the wrong table set (nation_2 > nation_10)
    if max_tables is not None:
        c = c.where(F.col("n_nationkey") < max_tables)
    lines = c.select(
        "n_nationkey",
        F.col("c_custkey").alias("ord"),
        F.concat_ws(
            ",", "c_name", "n_name", F.col("bal").cast("string"), "birth"
        ).alias("line"),
    )
    tables = (
        lines.groupBy("n_nationkey")
        .agg(F.array_sort(F.collect_list(F.struct("ord", "line"))).alias("rows"))
        .select(
            "n_nationkey",
            F.concat(
                F.lit("customer,nation,balance,birthdate\n"),
                F.array_join(F.transform("rows", lambda r: r["line"]), "\n"),
                F.lit("\n"),
            ).alias("content"),
        )
    )
    src_cust = tables.select(
        F.lit("tpch/customers").alias("repo"),
        F.concat(F.lit("data/nation_"), F.col("n_nationkey").cast("string"),
                 F.lit(".csv")).alias("path"),
        F.lpad(F.col("n_nationkey").cast("string"), 40, "0").alias("commit"),
        F.lit("csv").alias("lang"),
        "content",
    )
    if include_orders:
        orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
        ol = (
            orders.join(cust, orders["o_custkey"] == cust["c_custkey"])
            .join(F.broadcast(nat), cust["c_nationkey"] == nat["n_nationkey"])
        )
        if max_tables is not None:
            ol = ol.where(F.col("n_nationkey") < max_tables)
        ol = ol.select(
                "n_nationkey",
                F.col("o_orderkey").alias("ord"),
                F.concat_ws(
                    ",", "c_name", "n_name",
                    F.floor(F.col("o_totalprice")).cast("string"),
                    F.date_format("o_orderdate", "yyyy-MM-dd"),
                ).alias("line"),
        )
        src_orders = (
            ol.groupBy("n_nationkey")
            .agg(F.array_sort(F.collect_list(F.struct("ord", "line"))).alias("rows"))
            .select(
                F.lit("tpch/orders").alias("repo"),
                F.concat(F.lit("data/orders_"), F.col("n_nationkey").cast("string"),
                         F.lit(".csv")).alias("path"),
                F.lpad(F.concat(F.lit("9"), F.col("n_nationkey").cast("string")), 40, "9").alias("commit"),
                F.lit("csv").alias("lang"),
                F.concat(
                    F.lit("customer,nation,price,orderdate\n"),
                    F.array_join(F.transform("rows", lambda r: r["line"]), "\n"),
                    F.lit("\n"),
                ).alias("content"),
            )
        )
        src_cust = src_cust.unionByName(src_orders)

    nat_rows = (
        nat.join(F.broadcast(reg), nat["n_regionkey"] == reg["r_regionkey"])
        .select(
            F.col("n_nationkey").alias("ord"),
            F.concat_ws(",", "n_name", "r_name").alias("line"),
        )
    )
    src_nat = nat_rows.groupBy().agg(
        F.array_sort(F.collect_list(F.struct("ord", "line"))).alias("rows")
    ).select(
        F.lit("tpch/geo").alias("repo"),
        F.lit("data/nations.csv").alias("path"),
        F.lit("f" * 40).alias("commit"),
        F.lit("csv").alias("lang"),
        F.concat(
            F.lit("nation,region\n"),
            F.array_join(F.transform("rows", lambda r: r["line"]), "\n"),
            F.lit("\n"),
        ).alias("content"),
    )
    src = src_cust.unionByName(src_nat)
    if replicate > 1:
        # deterministic input replication for scaling measurements: R copies
        # of every table under distinct paths (table_id = repo␟path␟commit, so
        # each copy is its own table). The mention set stays identical, so the
        # replication scales the annotation passes — the component whose
        # end-to-end scaling the north_rule grades — not the lookup kernel.
        reps = spark.range(replicate).select(F.col("id").cast("string").alias("rep"))
        src = src.crossJoin(F.broadcast(reps)).select(
            "repo",
            F.concat(
                F.expr("substring(path, 1, length(path)-4)"),
                F.lit("_r"), F.col("rep"), F.lit(".csv"),
            ).alias("path"),
            "commit", "lang", "content",
        )
    return src


def synth_kg(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(labels, edges, degrees) derived from the same parquet."""
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    nat = spark.read.parquet(f"{sf_dir}/nation.parquet")
    reg = spark.read.parquet(f"{sf_dir}/region.parquet")

    q_nat = F.concat(F.lit("Q"), (F.col("n_nationkey") + 10000).cast("string"))
    q_reg = F.concat(F.lit("Q"), (F.col("r_regionkey") + 20000).cast("string"))
    q_cust = F.concat(F.lit("Q"), (F.col("c_custkey") + 3000000).cast("string"))

    lbl_nat = nat.select(
        q_nat.alias("entity"), F.col("n_name").alias("label"),
        F.length("n_name").alias("length"), F.lit("LABEL").alias("origin"),
        F.lit(0.8).alias("pr"),
    )
    lbl_reg = reg.select(
        q_reg.alias("entity"), F.col("r_name").alias("label"),
        F.length("r_name").alias("length"), F.lit("LABEL").alias("origin"),
        F.lit(0.9).alias("pr"),
    )
    lbl_cust = cust.select(
        q_cust.alias("entity"), F.col("c_name").alias("label"),
        F.length("c_name").alias("length"), F.lit("LABEL").alias("origin"),
        F.lit(0.1).alias("pr"),
    )
    classes = spark.createDataFrame(
        [
            ("Q9001", "nation", 0.3), ("Q9002", "region", 0.3),
            ("Q9005", "person", 0.3), ("Q9000", "territorial entity", 0.3),
            ("Q35120", "entity", 0.3),
        ],
        ["entity", "label", "pr"],
    ).select(
        "entity", "label", F.length("label").alias("length"),
        F.lit("LABEL").alias("origin"), F.col("pr").cast("double").alias("pr"),
    )
    labels = kg_build.with_label_norm(
        lbl_nat.unionByName(lbl_reg).unionByName(lbl_cust).unionByName(classes)
    )

    def fwd_rev(df):
        rev = df.select(
            F.col("obj").alias("subj"), "pred", F.lit(True).alias("reverse"),
            F.col("subj").alias("obj"), "obj_kind", "obj_type",
        )
        return df.unionByName(rev)

    e_nat_type = nat.select(
        q_nat.alias("subj"), F.lit("P31").alias("pred"),
        F.lit(False).alias("reverse"), F.lit("Q9001").alias("obj"),
        F.lit("entity").alias("obj_kind"), F.lit("PREFERRED").alias("obj_type"),
    )
    e_reg_type = reg.select(
        q_reg.alias("subj"), F.lit("P31").alias("pred"),
        F.lit(False).alias("reverse"), F.lit("Q9002").alias("obj"),
        F.lit("entity").alias("obj_kind"), F.lit("PREFERRED").alias("obj_type"),
    )
    e_cust_type = cust.select(
        q_cust.alias("subj"), F.lit("P31").alias("pred"),
        F.lit(False).alias("reverse"), F.lit("Q9005").alias("obj"),
        F.lit("entity").alias("obj_kind"), F.lit("PREFERRED").alias("obj_type"),
    )
    # nation part-of region (P361 is transitive in the reference list)
    e_nat_reg = nat.select(
        q_nat.alias("subj"), F.lit("P361").alias("pred"),
        F.lit(False).alias("reverse"),
        F.concat(F.lit("Q"), (F.col("n_regionkey") + 20000).cast("string")).alias("obj"),
        F.lit("entity").alias("obj_kind"), F.lit("NORMAL").alias("obj_type"),
    )
    # customer citizen-of nation (P27)
    e_cust_nat = cust.select(
        q_cust.alias("subj"), F.lit("P27").alias("pred"),
        F.lit(False).alias("reverse"),
        F.concat(F.lit("Q"), (F.col("c_nationkey") + 10000).cast("string")).alias("obj"),
        F.lit("entity").alias("obj_kind"), F.lit("NORMAL").alias("obj_type"),
    )
    # customer balance literal (Quantity-1 → disabled comparison path, harmless)
    e_cust_bal = cust.select(
        q_cust.alias("subj"), F.lit("P2218").alias("pred"),
        F.lit(False).alias("reverse"),
        F.floor(F.col("c_acctbal")).cast("string").alias("obj"),
        F.lit("literal").alias("obj_kind"), F.lit("Quantity-1").alias("obj_type"),
    )
    # customer birthdate literal (DateTime-Time → the LIVE C7 date branch:
    # the value equals the CSV birthdate cell, so date_similarity scores 1.0
    # and CPA resolves the (customer, birthdate) column pair to P569)
    e_cust_birth = cust.select(
        q_cust.alias("subj"), F.lit("P569").alias("pred"),
        F.lit(False).alias("reverse"),
        _birthdate_col().alias("obj"),
        F.lit("literal").alias("obj_kind"), F.lit("DateTime-Time").alias("obj_type"),
    )
    p279 = spark.createDataFrame(
        [
            ("Q9001", "P279", False, "Q9000", "entity", "NORMAL"),
            ("Q9002", "P279", False, "Q9000", "entity", "NORMAL"),
            ("Q9005", "P279", False, "Q9000", "entity", "NORMAL"),
            ("Q9000", "P279", False, "Q35120", "entity", "NORMAL"),
        ],
        ["subj", "pred", "reverse", "obj", "obj_kind", "obj_type"],
    )
    edges = (
        fwd_rev(e_nat_type)
        .unionByName(fwd_rev(e_reg_type))
        .unionByName(fwd_rev(e_cust_type))
        .unionByName(fwd_rev(e_nat_reg))
        .unionByName(fwd_rev(e_cust_nat))
        .unionByName(e_cust_bal)
        .unionByName(e_cust_birth)
        .unionByName(fwd_rev(p279))
    )
    degrees = kg_build.degrees(edges)
    return labels, edges, degrees


def run_flagship(
    spark: SparkSession,
    sf_dir: str,
    max_tables: int | None = None,
    k: int = 5,
    max_gram_df: int | None = 64,
    multi_resolution: bool = True,
    max_candidates_per_mention: int | None = 200,
    include_orders: bool = True,
    checkpoint_dir: str | None = None,
    metrics: dict | None = None,
    replicate: int = 1,
) -> DataFrame:
    """Full pipeline on the synthesized source; returns canonical triples."""
    from .session import ckpt as _sckpt, tune_for_input_size

    n_cust = spark.read.parquet(f"{sf_dir}/customer.parquet").count()
    tune_for_input_size(spark, n_cust * 11 * replicate)  # orders add ~10x the rows
    labels, edges, _ = synth_kg(spark, sf_dir)
    labels = _sckpt(labels)
    edges = _sckpt(edges)
    # rebuild degrees ON TOP of the checkpointed edges (synth_kg derives it
    # from the raw union, so checkpointing that plan would recompute edges
    # from scratch instead of reusing the edges checkpoint's blocks)
    degrees = _sckpt(kg_build.degrees(edges))
    # materialized here, so that source synthesis is not timed as prep
    src = _sckpt(
        synth_source(
            spark, sf_dir, max_tables=max_tables,
            include_orders=include_orders, replicate=replicate,
        ),
        eager=True,
    )
    run = PipelineRun(
        spark=spark, labels=labels, edges=edges, degrees=degrees,
        checkpoint_dir=checkpoint_dir, k=k, max_gram_df=max_gram_df,
        # the same multi-resolution (3+6-gram) ladder + count-based candidate
        # pruning as kg_lookup_fuzzy: one unified blocking config for the
        # whole engine (the exact path still carries head surface forms)
        multi_resolution=multi_resolution,
        max_candidates_per_mention=max_candidates_per_mention,
    )
    out = run.run(src)
    if metrics is not None:
        metrics.update(run.metrics)
    return out["triples"]


def run_flagship_sharded(
    spark: SparkSession,
    sf_dir: str,
    shards: int,
    replicate: int = 1,
    include_orders: bool = True,
    metrics: dict | None = None,
) -> DataFrame:
    """Deployment-shaped flagship: the corpus is hash-sharded by document and
    ``shards`` pipeline drivers run CONCURRENTLY on one SparkContext (thread
    pool; Spark schedules their jobs' tasks onto free slots).

    Why this exists: annotation is embarrassingly parallel ACROSS TABLES —
    only the KG index (labels/edges/degrees) is shared, and it is built once
    here and reused by every shard. One pipeline instance is latency-bound
    (its stage chain is semantically sequential: prep → lookup → four
    annotation passes, each materialization a barrier), so a single run
    leaves most of a large cluster idle between stage tails; measured
    host-wide utilization of the single-driver flagship is 13-30% vs 88-95%
    with 4 concurrent shards. A production deployment over 100 TB runs many
    table shards concurrently for exactly this reason — this is the unit of
    cluster scaling, and the scaling legs in bench.py use it (shards scale
    with cluster size, cores-per-shard fixed).

    Output: UNION of the shards' triples — identical multiset to the
    unsharded run (pinned by TestShardedFlagship and asserted by the bench
    legs' triple counts), since every per-table decision sees the same KG
    and the same full table content.
    """
    import threading

    from pyspark.sql import functions as F

    from .session import ckpt as _sckpt, tune_for_input_size

    n_cust = spark.read.parquet(f"{sf_dir}/customer.parquet").count()
    tune_for_input_size(spark, n_cust * 11 * replicate)
    labels, edges, _ = synth_kg(spark, sf_dir)
    labels = _sckpt(labels)
    edges = _sckpt(edges)
    degrees = _sckpt(kg_build.degrees(edges))
    src = _sckpt(
        synth_source(
            spark, sf_dir, include_orders=include_orders, replicate=replicate
        ),
        eager=True,
    )
    results: list = [None] * shards
    errors: list = [None] * shards

    def _one(i: int) -> None:
        try:
            shard_src = src.where(F.abs(F.hash("path")) % shards == i)
            run = PipelineRun(
                spark=spark, labels=labels, edges=edges, degrees=degrees,
                k=5, max_gram_df=64, multi_resolution=True,
                max_candidates_per_mention=200,
            )
            out = run.run(shard_src)
            # count() inside the worker thread: materializes this shard's
            # triples while sibling shards run, so the union below is a
            # cheap read of checkpointed results
            results[i] = _sckpt(out["triples"], eager=True)
            if metrics is not None:
                metrics[f"shard{i}"] = run.metrics
        except Exception as exc:  # surfaced below — a dead shard must fail loud
            errors[i] = exc

    threads = [
        threading.Thread(target=_one, args=(i,), name=f"flagship-shard-{i}")
        for i in range(shards)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    for e in errors:
        if e is not None:
            raise e
    out = results[0]
    for r in results[1:]:
        out = out.unionByName(r)
    return out
