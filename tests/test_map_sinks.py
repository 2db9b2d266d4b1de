"""Map-payload sink tests: the long-tail types share one table partitioned by
(log_type, bucket); the type-erased parsed map must equal the reference
implementation's parsed dict (anonymized), and per-type routed counts stay
exact."""

import os

import pytest
from pyspark.sql import functions as F

from logparse_rs_spark import fixtures
from logparse_rs_spark.plans.pipeline import (
    PipelineConfig,
    default_sinks,
    run_pipeline,
)
from logparse_rs_spark.sources.writers import ParquetWriter

ROOT = os.path.abspath(os.path.join(os.path.dirname(__file__), ".."))


@pytest.fixture(scope="module")
def pages_cols():
    return fixtures.generate_pages(100, seed=11)


@pytest.fixture(scope="module")
def result_and_root(spark, pages_cols, full_schema, tmp_path_factory):
    import pandas as pd
    out = str(tmp_path_factory.mktemp("map_sinks"))
    pdf = pd.DataFrame({k: pages_cols[k] for k in ("url", "text", "lang")})
    pages_df = spark.createDataFrame(pdf)
    cfg = PipelineConfig(
        schema_path=os.path.join(ROOT, "schemas", "schema.json"),
        anonymizer_path=os.path.join(ROOT, "configs", "anonymizer.sample.json"),
        out_root=out,
        sinks=default_sinks(full_schema, narrow=True),
        n_buckets=8,
    )
    return run_pipeline(spark, pages_df, cfg), out


class TestMapSinks:
    def test_per_type_counts_exact(self, spark, result_and_root, pages_cols,
                                   full_schema):
        result, out = result_and_root
        recs = fixtures.expected_records(pages_cols, full_schema)
        want = {}
        for r in recs:
            if r["status"] == "ok":
                want[r["log_type"]] = want.get(r["log_type"], 0) + 1
        # folded columnar fact table (one write job, (log_type,bucket) dirs)
        assert result.per_sink_rows["sink_fact/log_type=TRAFFIC"] == \
            want["TRAFFIC"]
        assert result.per_sink_rows["sink_fact/log_type=THREAT"] == \
            want["THREAT"]
        # the shared columnar table is partitioned by (log_type, bucket)
        fact_dirs = sorted(d for d in os.listdir(os.path.join(out, "sink_fact"))
                           if not d.startswith(("_", ".")))
        assert fact_dirs == ["log_type=THREAT", "log_type=TRAFFIC"]
        for d in fact_dirs:
            sub = [b for b in os.listdir(os.path.join(out, "sink_fact", d))
                   if not b.startswith(("_", "."))]
            assert sub and all(b.startswith("bucket=") for b in sub)
        fact = ParquetWriter(out).read(spark, "sink_fact")
        got_fact = {r["log_type"]: r["count"]
                    for r in fact.groupBy("log_type").count().collect()}
        assert got_fact == {"TRAFFIC": want["TRAFFIC"],
                            "THREAT": want["THREAT"]}
        # map-payload union table, per-type partition counts
        other = ParquetWriter(out).read(spark, "sink_other")
        got = {r["log_type"]: r["count"]
               for r in other.groupBy("log_type").count().collect()}
        for t, n in want.items():
            if t in ("TRAFFIC", "THREAT"):
                continue
            assert got[t] == n, t
            assert result.per_sink_rows[f"sink_other/log_type={t}"] == n

    def test_map_payload_matches_refimpl(self, spark, result_and_root,
                                         pages_cols, full_schema, sample_anon):
        _, out = result_and_root
        other = ParquetWriter(out).read(spark, "sink_other")
        rows = other.filter(F.col("log_type") == "SYSTEM").limit(50).collect()
        assert rows
        recs = fixtures.expected_records(pages_cols, full_schema, sample_anon)
        want = {(r["url"], r["line_ordinal"]): r for r in recs
                if r["status"] == "ok" and r["log_type"] == "SYSTEM"}
        for row in rows:
            e = want[(row["url"], row["line_ordinal"])]
            assert dict(row["parsed"]) == e["parsed"], (row["url"],
                                                        row["line_ordinal"])
            assert row["hash64"] & (2**64 - 1) == e["hash64"]
