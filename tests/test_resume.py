"""Checkpoint/resume (north_star): a killed run resumes from completed
stages and reproduces identical outputs; per-stage metrics are recorded."""

import json
import os
import shutil

import pytest

from table_annotation_spark import fixtures
from table_annotation_spark.plans.pipeline import PipelineRun
from table_annotation_spark.sources import kg_build


@pytest.fixture()
def env(spark, src_df, kg, tmp_path):
    labels, edges = kg
    degrees = kg_build.degrees(edges).localCheckpoint(eager=True)
    return {
        "spark": spark, "labels": labels, "edges": edges,
        "degrees": degrees, "src": src_df, "ck": str(tmp_path / "ckpt"),
    }


def _run(env):
    run = PipelineRun(
        spark=env["spark"], labels=env["labels"], edges=env["edges"],
        degrees=env["degrees"], checkpoint_dir=env["ck"],
    )
    out = run.run(env["src"])
    triples = sorted(
        (r["subj"], r["pred"], r["obj"], r["table_id"], r["row_idx"])
        for r in out["triples"].collect()
    )
    return run, triples


class TestResume:
    def test_resume_skips_stages_and_reproduces(self, env):
        os.makedirs(env["ck"], exist_ok=True)
        run1, t1 = _run(env)
        assert "prep_sec" in run1.metrics and "lookup_sec" in run1.metrics
        assert len(t1) > 0

        # simulate a crash after lookup: drop the downstream stage outputs
        for stage in ("annotations", "triples"):
            shutil.rmtree(os.path.join(env["ck"], stage), ignore_errors=True)

        run2, t2 = _run(env)
        # prep + lookup were resumed from checkpoint (not re-timed)
        assert "prep_sec" not in run2.metrics
        assert "lookup_sec" not in run2.metrics
        # identical outputs
        assert t1 == t2

    def test_resume_skips_annotation_passes(self, env, monkeypatch):
        """When the annotations checkpoint is complete, annotate() must not
        run at all on resume — only the canonical triples are re-derived."""
        os.makedirs(env["ck"], exist_ok=True)
        run1, t1 = _run(env)

        # simulate a crash after annotation: only triples missing
        shutil.rmtree(os.path.join(env["ck"], "triples"), ignore_errors=True)

        import table_annotation_spark.plans.pipeline as pl

        def _boom(*a, **k):  # pragma: no cover - must never fire
            raise AssertionError("annotate() was called despite a completed annotations stage")

        monkeypatch.setattr(pl, "annotate", _boom)
        run2, t2 = _run(env)
        assert run2.metrics.get("annotate_resumed") is True
        assert t1 == t2

    def test_metrics_file_written(self, env):
        os.makedirs(env["ck"], exist_ok=True)
        run, _ = _run(env)
        with open(os.path.join(env["ck"], "metrics.json")) as fh:
            m = json.load(fh)
        assert "total_sec" in m and m["total_sec"] > 0
        # lineage: every stage wrote a parquet with _SUCCESS
        for stage in ("prep", "candidates", "annotations", "triples"):
            assert os.path.exists(os.path.join(env["ck"], stage, "_SUCCESS"))
