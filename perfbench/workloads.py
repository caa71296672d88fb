"""The benchmark's workloads: their inputs, their operations and the checks
that every operation's output is correct.

``etl_claims``    one operation = one run of the paper's DAG,
                  ``plans.orchestration.patient_claims_pipeline(...).run()``.
``registry_mix``  one operation = one registry query through the noop sink,
                  on a star-schema replica: read-heavy queries next to queries
                  whose cost is fixed per-operation work (many small jobs,
                  eager snapshots, stream start-up, Python worker crossings).

Checks run outside the timed region.  A registry query is compared with its
``QuerySpec.oracle`` run by DuckDB over the same generated files; the ETL
output is compared with a DuckDB recomputation of the LEFT join over the same
CSVs.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass

import duckdb

import gen


class CheckFailed(AssertionError):
    pass


@dataclass(frozen=True)
class Spec:
    name: str
    ops: tuple[str, ...]
    scale: float  # claims count for etl_claims, star-schema scale factor otherwise
    nominal_pass_s: float  # pass time on the reference box; sets passes per run
    warmup_passes: int  # untimed passes after the check pass


ETL_OP = "patient_claims_pipeline"

# Sizes and pass counts keep one run near a minute on a 4-core box (Spark on
# 2 of them), so that 48 runs of both workloads, each with its JVM start and
# cold check pass, fit in an hour.  etl_claims is sized so its CSV scans
# split into several tasks and executors do about half the work of a pass;
# registry_mix's operations are dominated by per-job and per-query fixed
# costs, which the traced run's spark.driver_gap_s shows.
WORKLOADS = {
    "etl_claims": Spec("etl_claims", (ETL_OP,), 160_000, 3.6, 2),
    "registry_mix": Spec(
        "registry_mix",
        (
            # read side: scan, aggregate, exchange and sort work
            "q1_pricing_summary",
            "window_rank_topk_per_group",
            # fixed per-operation costs: ~30 jobs with eager snapshots, stream
            # start-up, Python UDTF crossings
            "graph_kcore",
            "streaming_tumbling_live",
            "text_wordcount_udtf",
        ),
        0.02,
        6.0,
        4,
    ),
}


# ------------------------------------------------------------------ inputs


def make_inputs(spec: Spec, out_dir: str, seed: int) -> dict:
    if spec.name == "etl_claims":
        return gen.cms_batch(out_dir, seed, int(spec.scale))
    return gen.star_schema(out_dir, seed, spec.scale)


# -------------------------------------------------------------- operations


class Runner:
    """Runs one operation; reports its build and action time.

    Package functions are looked up through their modules at call time so
    the traced run's module-attribute wrappers see every call."""

    def __init__(self, spec: Spec, inputs: dict, work_dir: str) -> None:
        self.spec = spec
        self.inputs = inputs
        self.out_path = os.path.join(work_dir, "patient_claims_plus")

    def run(self, spark, op: str, on_built=None) -> tuple[float, float]:
        from airflow_cms_inpatient_etl_spark.plans import orchestration
        from airflow_cms_inpatient_etl_spark.queries import QUERY_REGISTRY
        from airflow_cms_inpatient_etl_spark.sources import registry

        t0 = time.perf_counter()
        if op == ETL_OP:
            pipeline = orchestration.patient_claims_pipeline(
                spark, self.inputs["claims_csv"], self.inputs["beneficiary_csv"], self.out_path
            )
            t1 = time.perf_counter()
            if on_built:
                on_built()
            pipeline.run(sleep=lambda _s: None)  # a retry must not stall the run for minutes
        else:
            df = QUERY_REGISTRY[op].fn(spark, self.inputs["sf_dir"])
            t1 = time.perf_counter()
            if on_built:
                on_built()
            df.write.format("noop").mode("overwrite").save()
            registry.release_snapshots(spark)
        return t1 - t0, time.perf_counter() - t1


# ------------------------------------------------------------------ checks


def duck_for(spec: Spec, inputs: dict) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    if spec.name != "etl_claims":
        for t in gen.REGISTRY_TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{inputs['sf_dir']}/{t}.parquet'")
    return con


_ROW_DIGEST = """
SELECT count(*) AS n,
       count(*) FILTER (WHERE patient_birth_date IS NULL AND patient_sex <> 'Unknown') AS bad_unknown,
       sum(hash(concat_ws('|', {cols}))::HUGEINT) AS digest
FROM ({rel})
"""
_OUT_COLS = [
    "patient_id", "claim_from_date", "claim_thru_date", "claim_id", "provider_number",
    "claim_payment_amount", *[f"icd_diagnosis_code_{i}" for i in range(1, 10)],
    "patient_hospital_insurance_total_months",
    "patient_supplementary_medical_insurance_total_months",
    "patient_birth_date", "patient_death_date", "patient_sex",
]
_EXPECTED = """
SELECT c.DESYNPUF_ID AS patient_id, c.CLM_FROM_DT AS claim_from_date,
       c.CLM_THRU_DT AS claim_thru_date, c.CLM_ID AS claim_id, c.PRVDR_NUM AS provider_number,
       CAST(c.CLM_PMT_AMT AS DECIMAL(12,2)) AS claim_payment_amount,
       {dx},
       CAST(b.BENE_HI_CVRAGE_TOT_MONS AS INTEGER) AS patient_hospital_insurance_total_months,
       CAST(b.BENE_SMI_CVRAGE_TOT_MONS AS INTEGER)
           AS patient_supplementary_medical_insurance_total_months,
       b.BENE_BIRTH_DT AS patient_birth_date, b.BENE_DEATH_DT AS patient_death_date,
       CASE CAST(b.BENE_SEX_IDENT_CD AS INTEGER) WHEN 1 THEN 'Male' WHEN 2 THEN 'Female'
            ELSE 'Unknown' END AS patient_sex
FROM read_csv('{claims}', header=true, all_varchar=true) c
LEFT JOIN read_csv('{bene}', header=true, all_varchar=true) b USING (DESYNPUF_ID)
"""


def check(spark, spec: Spec, runner: Runner, op: str, con) -> None:
    """Run ``op`` once and compare its output with the DuckDB reference."""
    from airflow_cms_inpatient_etl_spark.queries import QUERY_REGISTRY
    from airflow_cms_inpatient_etl_spark.sources import registry

    if op == ETL_OP:
        runner.run(spark, op)
        cols = ", ".join(f"coalesce(CAST({c} AS VARCHAR), '<null>')" for c in _OUT_COLS)
        expected = _EXPECTED.format(
            dx=", ".join(f"c.ICD9_DGNS_CD_{i} AS icd_diagnosis_code_{i}" for i in range(1, 10)),
            claims=runner.inputs["claims_csv"],
            bene=runner.inputs["beneficiary_csv"],
        )
        want = con.execute(_ROW_DIGEST.format(cols=cols, rel=expected)).fetchone()
        got = con.execute(
            _ROW_DIGEST.format(cols=cols, rel=f"SELECT * FROM '{runner.out_path}/*.parquet'")
        ).fetchone()
        if want[0] != runner.inputs["claims_rows"]:
            raise CheckFailed(f"reference has {want[0]} rows for {runner.inputs['claims_rows']} claims")
        if got != want:
            raise CheckFailed(f"patient_claims_plus (rows, unmatched-not-Unknown, digest) {got} != {want}")
        return
    # the oracle tests' own comparison: same columns and dtype families, same
    # rows bit for bit after sorting (tests/ is on sys.path, see run.py)
    from conftest import assert_frames_match

    oracle = QUERY_REGISTRY[op].oracle
    if oracle is None:
        raise CheckFailed(f"{op} has no oracle")
    got = QUERY_REGISTRY[op].fn(spark, runner.inputs["sf_dir"]).toPandas()
    registry.release_snapshots(spark)
    assert_frames_match(got, con.execute(oracle).df(), op)
