"""One benchmark run of one workload, in its own process (started by run.py).

Drives the engine only through its public functions and writes a JSON result
file for run.py. Each measured pass is the first of its kind in a fresh
process (a cold JVM); run.py states the warm-up policy.

Usage: python3 kgbench/workload.py --workload W --seed N --trace 0|1
           --setup-reps R --work DIR --out result.json [--corrupt]
"""

from __future__ import annotations

import argparse
import json
import os
import random
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA = os.path.join(HERE, "data", "sf0.001")
sys.path.insert(0, ROOT)
sys.path.insert(0, HERE)

import eventlog  # noqa: E402

TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)

# The op suite: 10 of bench.py's 44 headline queries, one per operator module
# (all three kg queries: lookup, typing and canonicalize), fixed here so that
# the workload does not change when that script does. The other 34 are left
# out so that every run of both workloads fits the benchmark's time budget;
# these 10 take about 32 s on a 4-core host.
OPS = (
    "kg_lookup_fuzzy", "kg_typing_ner", "kg_canon_conflict",
    "dedup_minhash_lsh", "sim_ann_ivf", "graph_pagerank", "sess_funnel",
    "multimodal_decode_real", "text_tfidf_topterms", "rel_star_join",
)
# The three kg_* queries each exercise a different engine module.
_KG_MODULE = {
    "kg_lookup_fuzzy": "lookup",
    "kg_typing_ner": "kg",
    "kg_canon_conflict": "materialize",
}
OP_MODULES = (
    "lookup", "kg", "materialize", "dedup", "similarity", "text",
    "relational", "graph", "sessions", "multimodal",
)

# The flagship's PipelineRun arguments, as run_flagship passes them.
PIPELINE_ARGS = dict(
    k=5, max_gram_df=64, multi_resolution=True, max_candidates_per_mention=200,
)
TRIPLE_COLS = ("subj", "pred", "obj", "obj_kind", "table_id")


def op_module(name: str, fn) -> str:
    return _KG_MODULE.get(name) or fn.__module__.rsplit(".", 1)[-1]


def host_settings() -> dict:
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    heap_mb = max(1024, min(8192, ram // 4 // (1 << 20)))
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "ram_mb": ram // (1 << 20),
        "driver_heap_mb": heap_mb,
    }


def start_session(host: dict, work: str, event_dir: str | None = None):
    from table_annotation_spark.session import get_spark

    conf = {
        # JVM options only take effect in the first session of a process.
        # A fixed heap size (-Xms = -Xmx) keeps the collector from resizing
        # the heap, which otherwise makes peak memory vary 1.5-2.7 GB from
        # run to run on the op suite.
        "spark.driver.memory": f"{host['driver_heap_mb']}m",
        "spark.driver.extraJavaOptions":
            f"-Xms{host['driver_heap_mb']}m "
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if event_dir:
        os.makedirs(event_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_dir,
            "spark.eventLog.compress": "false",
        })
    spark = get_spark(
        app_name="kgbench", master=f"local[{host['nproc']}]", extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm(spark) -> None:
    """Stop the session, then the JVM gateway, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def effective_conf(spark) -> dict:
    keys = (
        "spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions",
        "spark.graft.forcedBroadcast", "spark.graft.forceMaterialize",
    )
    return {k: spark.conf.get(k, "unset") for k in keys}


def cached_mb(spark) -> float:
    """Memory + disk size of every persisted or checkpointed RDD block."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / (1 << 20)


def duck():
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{os.path.join(DATA, t + '.parquet')}')"
        )
    return con


def now_ms() -> int:
    return int(time.time() * 1000)


# ---------------------------------------------------------------- flagship
def permuted_source(spark, seed: int):
    """synth_source with the data lines of every CSV and the order of source
    rows permuted by ``seed`` (headers stay first), materialized."""
    from table_annotation_spark.flagship import synth_source
    from table_annotation_spark.session import ckpt

    src = synth_source(spark, DATA, include_orders=False)
    rng = random.Random(seed)
    rows = []
    for r in sorted(src.collect(), key=lambda r: (r["repo"], r["path"])):
        header, *body = r["content"].rstrip("\n").split("\n")
        rng.shuffle(body)
        d = r.asDict()
        d["content"] = "\n".join([header, *body]) + "\n"
        rows.append(d)
    rng.shuffle(rows)
    return ckpt(spark.createDataFrame(rows, schema=src.schema), eager=True)


def flagship_setup(host: dict, work: str, reps: int, event_dir: str | None):
    """Session start + KG index (labels, edges, degrees) built and
    materialized, ``reps`` times; the last session is kept."""
    from table_annotation_spark.flagship import synth_kg
    from table_annotation_spark.session import ckpt, tune_for_input_size
    from table_annotation_spark.sources import kg_build

    times, spark = [], None
    for i in range(reps):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = start_session(host, work, event_dir if i == reps - 1 else None)
        n_cust = spark.read.parquet(os.path.join(DATA, "customer.parquet")).count()
        tune_for_input_size(spark, n_cust * 11)
        labels, edges, _ = synth_kg(spark, DATA)
        labels = ckpt(labels, eager=True)
        edges = ckpt(edges, eager=True)
        degrees = ckpt(kg_build.degrees(edges), eager=True)
        times.append(time.perf_counter() - t0)
    return spark, (labels, edges, degrees), times


def flagship_pass(spark, kg, src):
    """The timed call: the pipeline to collected triples. Also returns the
    pipeline's own stage timers (PipelineRun.metrics)."""
    from table_annotation_spark.plans.pipeline import PipelineRun

    labels, edges, degrees = kg
    run = PipelineRun(
        spark=spark, labels=labels, edges=edges, degrees=degrees,
        **PIPELINE_ARGS,
    )
    out = run.run(src)
    rows = out["triples"].select(*TRIPLE_COLS).collect()
    return out, [tuple(r) for r in rows], run.metrics


def verify_flagship(rows: list[tuple]) -> list[str]:
    """Triple count = one P27 and one P569 per customer and one P361 per
    nation; the distinct entity and literal triples equal the DuckDB oracles
    over the same parquet."""
    from table_annotation_spark.operators.kg_queries import (
        FLAGSHIP_LITERALS_SQL, FLAGSHIP_TRIPLES_SQL,
    )

    con = duck()
    n_cust, n_nat = con.execute(
        "SELECT (SELECT count(*) FROM customer), (SELECT count(*) FROM nation)"
    ).fetchone()
    problems = []
    expected = 2 * n_cust + n_nat
    if len(rows) != expected:
        problems.append(f"triple count {len(rows)} != {expected}")
    for kind, sql in (("entity", FLAGSHIP_TRIPLES_SQL),
                      ("literal", FLAGSHIP_LITERALS_SQL)):
        got = {r[:3] for r in rows if r[3] == kind}
        want = {tuple(r) for r in con.execute(sql).fetchall()}
        if got != want:
            problems.append(
                f"{kind} triples differ from oracle: {len(got - want)} extra, "
                f"{len(want - got)} missing"
            )
    return problems


def lookup_counts(out) -> dict:
    from table_annotation_spark.operators import lookup as lk

    mentions = lk.extract_mentions(out["body"], out["classes"]).count()
    cand = out["candidates"]
    hit = cand.select("table_id", "row_idx", "col_idx").distinct().count()
    return {
        "lookup.mentions": mentions,
        "lookup.candidates": cand.count(),
        "lookup.hit_ratio": hit / mentions if mentions else 0.0,
    }


# Job groups the engine sets, by benchmark layer.
FLAGSHIP_LAYERS = {
    "prep": ["stage_prep"],
    "lookup": ["stage_lookup"],
    "annotate.build_inputs": ["annot_build_inputs"],
    "annotate.pass1": ["annot_pass1"],
    "annotate.pass2": ["annot_pass2"],
    "annotate.pass3": ["annot_pass3"],
    "annotate.pass4": ["annot_pass4"],
    "materialize": ["stage_materialize"],
    "annotate": [
        "annot_build_inputs", "annot_pass1", "annot_pass2", "annot_pass3",
        "annot_pass4",
    ],
}


def trace_metrics(result, event_dir, t0_ms, t1_ms, counts, layers) -> None:
    """Per-layer metrics of the timed window from the event log, zero for a
    layer the workload never enters."""
    summary = eventlog.summarize(eventlog.read_events(event_dir), t0_ms, t1_ms)

    def lay(name):
        return eventlog.layer(summary, layers.get(name, []))

    prep, lookup, mat = lay("prep"), lay("lookup"), lay("materialize")
    annot = lay("annotate")
    drv = eventlog.layer(summary, list(summary["groups"]))
    m = {
        "prep.s": prep["s"], "prep.jobs": prep["jobs"],
        "prep.task_s": prep["task_s"], "prep.shuffle_mb": prep["shuffle_write_mb"],
        "prep.rows_out": 0,
        "lookup.s": lookup["s"], "lookup.jobs": lookup["jobs"],
        "lookup.task_s": lookup["task_s"],
        "lookup.shuffle_mb": lookup["shuffle_write_mb"],
        "lookup.spill_mb": lookup["spill_mb"],
        "lookup.mentions": 0, "lookup.candidates": 0, "lookup.hit_ratio": 0.0,
        "annotate.build_inputs_s": lay("annotate.build_inputs")["s"],
        **{f"annotate.pass{i}_s": lay(f"annotate.pass{i}")["s"]
           for i in range(1, 5)},
        "annotate.jobs": annot["jobs"], "annotate.task_s": annot["task_s"],
        "annotate.shuffle_mb": annot["shuffle_write_mb"],
        "annotate.spill_mb": annot["spill_mb"], "annotate.gc_s": annot["gc_s"],
        "annotate.task_skew": annot["task_skew"],
        "materialize.s": mat["s"], "materialize.jobs": mat["jobs"],
        "materialize.triples": 0,
        "driver.jobs": drv["jobs"], "driver.stages": drv["stages"],
        "driver.tasks": drv["tasks"], "driver.gap_s": summary["gap_s"],
        "session.cached_mb": 0.0,
        **{f"ops.{mod}_s": 0.0 for mod in OP_MODULES},
    }
    m.update(counts)
    result["layers"] = m
    result["traced_groups"] = {
        g: eventlog.layer(summary, [g]) for g in sorted(summary["groups"])
    }
    result["accounting"] = eventlog.accounting(summary)


def run_flagship(args, host: dict, result: dict) -> None:
    event_dir = (
        os.path.join(args.work, "eventlog") if args.trace else None
    )
    spark, kg, setup_times = flagship_setup(
        host, args.work, args.setup_reps, event_dir,
    )
    src = permuted_source(spark, args.seed)
    result["settings"] = effective_conf(spark)

    t0_ms = now_ms()
    t0 = time.perf_counter()
    try:
        out, rows, stage_timers = flagship_pass(spark, kg, src)
        problems = []
    except Exception as exc:  # a failing pipeline is a failed operation
        out, rows, stage_timers = None, [], {}
        problems = [f"pipeline raised {type(exc).__name__}: {str(exc)[:300]}"]
    wall = time.perf_counter() - t0
    t1_ms = now_ms()

    if args.corrupt:
        rows = rows[1:]
    problems = problems or verify_flagship(rows)
    result.update(
        attempted=1, failed=1 if problems else 0, problems=problems,
        wall_s=wall, setup_s=statistics.median(setup_times),
        setup_samples=setup_times, triples=len(rows),
        triples_per_s=len(rows) / wall, pipeline_metrics=stage_timers,
    )
    if args.trace:
        counts = {"session.cached_mb": cached_mb(spark)}
        if out is not None:
            counts.update(
                lookup_counts(out),
                **{"prep.rows_out": out["prep"].count(),
                   "materialize.triples": len(rows)},
            )
        stop_jvm(spark)
        trace_metrics(result, event_dir, t0_ms, t1_ms, counts, FLAGSHIP_LAYERS)
    else:
        stop_jvm(spark)


# --------------------------------------------------------------------- ops
def run_ops(args, host: dict, result: dict) -> None:
    import __spark_entry__ as entry

    queries = entry.queries()
    oracles = entry.oracle_sql()
    # lookup always first: the first query of a process pays 3-8 s of one-off
    # JIT cost, and which query paid it made the sum vary from seed to seed
    order = list(OPS[1:])
    random.Random(args.seed).shuffle(order)
    order.insert(0, OPS[0])
    event_dir = (
        os.path.join(args.work, "eventlog") if args.trace else None
    )

    setup_times, spark = [], None
    for i in range(args.setup_reps):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = start_session(
            host, args.work, event_dir if i == args.setup_reps - 1 else None,
        )
        spark.range(1).count()  # the session is up once it has run a job
        setup_times.append(time.perf_counter() - t0)
    result["settings"] = effective_conf(spark)

    sc = spark.sparkContext
    per_query: dict[str, float] = {}
    counts: dict[str, int] = {}
    errors: dict[str, str] = {}
    t0_ms = now_ms()
    for name in order:
        sc.setJobGroup(name, name)
        t0 = time.perf_counter()
        try:
            counts[name] = queries[name](spark, DATA).count()
        except Exception as exc:  # a failing query is a failed operation
            errors[name] = f"{type(exc).__name__}: {str(exc)[:300]}"
        per_query[name] = time.perf_counter() - t0
    sc.setLocalProperty("spark.jobGroup.id", None)
    t1_ms = now_ms()

    if args.corrupt:
        counts[next(iter(counts))] += 1
    con = duck()
    problems = dict(errors)
    for name, n in counts.items():
        want = len(con.execute(oracles[name]).fetchall())
        if n != want:
            problems[name] = f"row count {n} != oracle {want}"

    wall = sum(per_query.values())
    modules = {m: 0.0 for m in OP_MODULES}
    for name, sec in per_query.items():
        modules[op_module(name, queries[name])] += sec
    canon_triples = counts.get("kg_canon_conflict", 0)
    result.update(
        attempted=len(order), failed=len(problems),
        problems=[f"{k}: {v}" for k, v in sorted(problems.items())],
        wall_s=wall, setup_s=statistics.median(setup_times),
        setup_samples=setup_times, triples=canon_triples,
        triples_per_s=canon_triples / wall, per_query_s=per_query,
        per_query_rows=counts, module_s=modules, order=order,
    )
    if args.trace:
        from table_annotation_spark.flagship import synth_kg
        from table_annotation_spark.operators import lookup as lk
        from pyspark.sql import functions as F

        labels, _, _ = synth_kg(spark, DATA)
        mentions = (
            spark.read.parquet(os.path.join(DATA, "customer.parquet"))
            .select(F.regexp_replace(F.lower(F.trim("c_name")), "^c", "k")
                    .alias("mention_norm"))
            .distinct()
        )
        n_mentions = mentions.count()
        pairs = lk.candidate_pairs(
            mentions, labels, max_gram_df=64, multi_resolution=True,
            max_candidates_per_mention=200,
        )
        layer_counts = {
            "lookup.mentions": n_mentions,
            "lookup.candidates": pairs.count(),
            "lookup.hit_ratio": counts.get("kg_lookup_fuzzy", 0) / n_mentions,
            "session.cached_mb": cached_mb(spark),
        }
        layer_counts.update({f"ops.{m}_s": sec for m, sec in modules.items()})
        stop_jvm(spark)
        trace_metrics(
            result, event_dir, t0_ms, t1_ms, layer_counts,
            {"lookup": ["kg_lookup_fuzzy"]},
        )
    else:
        stop_jvm(spark)


WORKLOADS = {"flagship-sf0.001": run_flagship, "ops-sf0.001": run_ops}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--setup-reps", type=int, default=3)
    ap.add_argument("--work", required=True,
                    help="this run's scratch directory (temp files, logs)")
    ap.add_argument("--out", required=True)
    ap.add_argument("--corrupt", action="store_true",
                    help="drop one triple / shift one count (self-test)")
    args = ap.parse_args()
    host = host_settings()
    result = {"workload": args.workload, "seed": args.seed, "host": host}
    WORKLOADS[args.workload](args, host, result)
    with open(args.out, "w") as fh:
        json.dump(result, fh)


if __name__ == "__main__":
    main()
