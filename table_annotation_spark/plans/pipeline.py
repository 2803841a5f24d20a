"""End-to-end pipeline: source repos → preprocessed cells → candidates →
CEA/CTA/CPA → canonicalized triples; with per-stage checkpoints, lineage and
metrics (north_star resumability requirement).

Stage layout mirrors SURVEY.md §7; each stage (prep, candidates,
annotations, triples) can persist its output to parquet under a run
directory and later runs resume from the newest completed stage
(per-partition checkpointing comes free from parquet task atomicity — a
stage is complete iff its _SUCCESS marker exists).
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import lookup as lk
from ..operators.annotation import annotate, split
from ..operators.materialize import canonicalize, with_uris
from ..session import ckpt as _sckpt
from ..operators.preprocessing import body_cells, column_meta, preprocess
from ..sources.embedded_tables import extract_manifest


def _localize(df: DataFrame) -> DataFrame:
    """Driver-localize a tiny dim frame under the small-corpus posture:
    collect it once and rebuild it as a LocalRelation. Every later broadcast
    of the frame then costs a no-job local copy instead of a re-evaluated
    plan + collect job. Gated on the same conf as ``bcast``: in the
    large-corpus posture these frames grow with the corpus (O(#tables) rows)
    and must stay distributed — AQE picks their join strategies there."""
    spark = df.sparkSession
    if spark.conf.get("spark.graft.forcedBroadcast", "true") == "false":
        return df
    return spark.createDataFrame(df.collect(), schema=df.schema)


@dataclass
class PipelineRun:
    spark: SparkSession
    labels: DataFrame
    edges: DataFrame
    degrees: DataFrame
    checkpoint_dir: str | None = None
    k: int = lk.DEFAULT_K
    max_gram_df: int | None = None
    multi_resolution: bool = False
    max_candidates_per_mention: int | None = None
    metrics: dict = field(default_factory=dict)

    # ------------------------------------------------------------ helpers
    def _ckpt_path(self, stage: str) -> str | None:
        if not self.checkpoint_dir:
            return None
        return os.path.join(self.checkpoint_dir, stage)

    def _is_done(self, stage: str) -> bool:
        p = self._ckpt_path(stage)
        return bool(p) and os.path.exists(os.path.join(p, "_SUCCESS"))

    def _checkpoint(self, stage: str, df: DataFrame) -> DataFrame:
        """Persist stage output to parquet and read it back (cuts lineage,
        enables resume). No-op passthrough when checkpointing is off."""
        p = self._ckpt_path(stage)
        if not p:
            return df
        t0 = time.time()
        df.write.mode("overwrite").parquet(p)
        self.metrics[f"{stage}_write_sec"] = round(time.time() - t0, 3)
        return self.spark.read.parquet(p)

    def _load(self, stage: str) -> DataFrame:
        return self.spark.read.parquet(self._ckpt_path(stage))

    def _cc_checkpoint(self):
        """Per-iteration lineage truncation for connected_components: route
        through reliable parquet storage when a checkpoint_dir exists (a
        cluster survives executor loss mid-loop), else executor-memory
        localCheckpoint."""
        if not self.checkpoint_dir:
            return None
        counter = {"i": 0}

        def ckpt(df: DataFrame) -> DataFrame:
            counter["i"] += 1
            p = os.path.join(self.checkpoint_dir, "cc", f"iter_{counter['i']}")
            df.write.mode("overwrite").parquet(p)
            return self.spark.read.parquet(p)

        return ckpt

    # ------------------------------------------------------------ stages
    def run(self, src: DataFrame) -> dict[str, DataFrame]:
        """Execute (or resume) the full pipeline. Returns all stage outputs."""
        t_start = time.time()

        from ..session import job_counts, job_group

        if self._is_done("prep"):
            prep = self._load("prep")
        else:
            t0 = time.time()
            with job_group(self.spark, "stage_prep"):
                # materialize once: lookup and annotation read prep through
                # several frames (body, column meta, tid map), and none of
                # them may re-run the document parse
                prep = preprocess(src)
                if self.checkpoint_dir:
                    prep = self._checkpoint("prep", prep)
                else:
                    prep = _sckpt(prep, eager=True)
            self.metrics["prep_sec"] = round(time.time() - t0, 3)
        manifest = extract_manifest(src)

        # dictionary-encode table_id: the natural key is a ~70-byte string
        # (repo␟path␟commit) that rides on EVERY row of every shuffle and
        # checkpoint through lookup + all four annotation passes — on a
        # memory-path-bound host that is gigabytes of pure key traffic at
        # replicate scale. Encode it to a dense int at the prep boundary
        # (deterministic: rank in table_id order, so resumed runs rebuild
        # the identical map) and decode only on the final triples. The
        # single-task ordering window is bounded by #tables (not rows);
        # at true 100 TB table counts the map itself stays a few MB.
        from pyspark.sql import Window

        tid_map = _localize(
            prep.select("table_id")
            .distinct()
            .withColumn(
                "tid", F.row_number().over(Window.orderBy("table_id"))
            )
        )
        prep_i = (
            prep.join(F.broadcast(tid_map), "table_id")
            .drop("table_id")
            .withColumnRenamed("tid", "table_id")
        )

        # pre-partition by table_id once: the annotation passes cluster every
        # join/groupBy/window on (table_id, ...) and reuse this partitioning
        body = body_cells(prep_i).repartition("table_id").transform(_sckpt)
        cols = column_meta(prep_i)
        classes = lk.classify_columns(cols, body).transform(_sckpt)

        if self._is_done("candidates"):
            cand = self._load("candidates")
        else:
            t0 = time.time()
            with job_group(self.spark, "stage_lookup"):
                idf = lk.token_idf(self.labels)
                cand, _kept = lk.lookup(
                    body, classes, self.labels, idf,
                    k=self.k, max_gram_df=self.max_gram_df,
                    multi_resolution=self.multi_resolution,
                    max_candidates_per_mention=self.max_candidates_per_mention,
                )
                if not self.checkpoint_dir:
                    cand = _sckpt(cand, eager=True)
                cand = self._checkpoint("candidates", cand)
            self.metrics["lookup_sec"] = round(time.time() - t0, 3)

        t0 = time.time()
        # the kernel's kind-tagged output (CEA, CTA, CPA and triples) is the
        # one annotation checkpoint
        if self._is_done("annotations"):
            annotations = self._load("annotations")
            self.metrics["annotate_resumed"] = True
        else:
            annotations = self._checkpoint("annotations", annotate(
                cand, body, classes, self.edges, self.degrees, timings=self.metrics,
            ))
        result = split(annotations)
        self.metrics["annotate_sec"] = round(time.time() - t0, 3)

        t0 = time.time()
        self.spark.sparkContext.setJobGroup(
            "stage_materialize", "stage_materialize"
        )
        triples = result.triples
        cea_mentions = result.cea.join(
            cand.select("table_id", "row_idx", "col_idx", "entity", "mention_norm"),
            ["table_id", "row_idx", "col_idx", "entity"],
        )
        triples_canon = with_uris(
            canonicalize(triples, cea_mentions, checkpoint=self._cc_checkpoint())
        )
        # decode the dict-encoded table id back to the natural string key on
        # the public output (internal frames stay int-keyed). LEFT join +
        # raise_error on unmapped ids: if a checkpointed frame is ever
        # resumed against changed input, a tid outside the rebuilt map must
        # ERROR at materialization, not silently drop/relabel rows
        # (ADVICE r4).
        def _decode_tid(df: DataFrame) -> DataFrame:
            if "table_id" not in df.columns:
                return df
            decoded = (
                df.withColumnRenamed("table_id", "tid")
                .join(F.broadcast(tid_map), "tid", "left")
            )
            return decoded.withColumn(
                "table_id",
                F.when(
                    F.col("table_id").isNull(),
                    F.raise_error(
                        F.concat(
                            F.lit(
                                "dict-encoded table_id not in tid_map "
                                "(checkpoint resumed against changed "
                                "input?): tid="
                            ),
                            F.col("tid").cast("string"),
                        )
                    ),
                ).otherwise(F.col("table_id")),
            ).drop("tid")

        triples_canon = _decode_tid(triples_canon)
        triples_canon = self._checkpoint("triples", triples_canon)
        # the CC per-iteration parquet checkpoints are only alive while the
        # canonicalized-triples lineage still reads them; once "triples" is
        # persisted above they are dead weight — drop the whole cc/ tree so
        # reruns with fewer iterations can't leave stale iter_* dirs behind
        if self.checkpoint_dir:
            import shutil

            shutil.rmtree(os.path.join(self.checkpoint_dir, "cc"), ignore_errors=True)
        self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        self.metrics["materialize_sec"] = round(time.time() - t0, 3)
        self.metrics["total_sec"] = round(time.time() - t_start, 3)
        # per-group cumulative job counts — the driver-floor term (per-job
        # latency × count) the r4 verdict asked to make legible in artifacts
        self.metrics["jobs"] = job_counts(self.spark)

        if self.checkpoint_dir:
            with open(
                os.path.join(self.checkpoint_dir, "metrics.json"), "w"
            ) as fh:
                json.dump(self.metrics, fh, indent=2)

        # every PUBLIC frame carries the natural string table_id: the dict
        # encoding is an internal shuffle-width optimization, so decode at
        # the API boundary (lazy broadcast join against the few-MB map —
        # costs nothing unless the frame is actually collected). Internal
        # variables (body/cand/result.*) stay int-keyed. _decode_tid (above)
        # errors loudly on ids missing from the rebuilt map.
        return {
            "manifest": manifest,
            "prep": prep,
            "body": _decode_tid(body),
            "classes": _decode_tid(classes),
            "candidates": _decode_tid(cand),
            "cea": _decode_tid(result.cea),
            "cta": _decode_tid(result.cta),
            "cpa": _decode_tid(result.cpa),
            "triples": triples_canon,
        }
