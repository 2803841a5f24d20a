"""The ≥1M-row ("large corpus") configuration under a correctness gate.

session.tune_for_input_size flips two knobs at 1M estimated input rows:
AQE on, and forced broadcast hints OFF (bcast() becomes a no-op and AQE picks
join strategies from runtime sizes). Until round 4 that branch had never
executed the flagship — the exact posture a 100 TB run would use.
SPARK_GRAFT_FORCE_LARGE=1 pins the branch at any input size, so this test
runs the COMPLETE pipeline (extract → preprocess → lookup → 4-pass
annotation → canonicalize) under the large-corpus config at sf0.001 and
asserts the emitted triples equal the closed-form expectation the synthetic
tables encode (the same facts FLAGSHIP_TRIPLES_SQL / FLAGSHIP_LITERALS_SQL
state for the DuckDB gate). Any AQE-induced plan surprise — broadcast-timeout,
join-strategy flip changing semantics, a bcast() no-op path breaking an
assumption — fails here instead of at scale.
"""

import datetime

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


@pytest.fixture()
def large_corpus_conf(spark, monkeypatch):
    """Force the ≥1M-row posture; restore the fixture-scale confs after."""
    monkeypatch.setenv("SPARK_GRAFT_FORCE_LARGE", "1")
    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.adaptive.enabled",
            "spark.sql.shuffle.partitions",
            "spark.graft.forcedBroadcast",
        )
    }
    yield
    for k, v in saved.items():
        if v is not None:
            spark.conf.set(k, v)


class TestLargeCorpusConfig:
    def test_flagship_under_aqe_matches_expected_triples(
        self, spark, large_corpus_conf
    ):
        from table_annotation_spark.flagship import run_flagship

        t = run_flagship(spark, SF, include_orders=False, k=3)
        got = {
            (r["subj"], r["pred"], r["obj"])
            for r in t.select("subj", "pred", "obj").distinct().collect()
        }
        # the branch actually engaged
        assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
        assert spark.conf.get("spark.graft.forcedBroadcast") == "false"

        cust = spark.read.parquet(f"{SF}/customer.parquet").select(
            "c_custkey", "c_nationkey"
        ).collect()
        nat = spark.read.parquet(f"{SF}/nation.parquet").select(
            "n_nationkey", "n_regionkey"
        ).collect()
        epoch = datetime.date(1970, 1, 1)
        expected = {
            (f"Q{r['c_custkey'] + 3000000}", "P27", f"Q{r['c_nationkey'] + 10000}")
            for r in cust
        }
        expected |= {
            (f"Q{r['n_nationkey'] + 10000}", "P361", f"Q{r['n_regionkey'] + 20000}")
            for r in nat
        }
        expected |= {
            (
                f"Q{r['c_custkey'] + 3000000}",
                "P569",
                (epoch + datetime.timedelta(days=r["c_custkey"] % 18000)).isoformat(),
            )
            for r in cust
        }
        assert got == expected
