"""Tier-A parity queries — the reference's own operator surface (SURVEY §2.A).

The reference's only real relational query is the flagship projection/rename +
CASE decode + LEFT broadcast join + materialize
(``/root/reference/dags/patient_claims_plus_postgres.py:160-190``); the rest of
its surface is scalar COUNT(*) DQ checks (``:128,:153,:197``), typed projection
with cast-at-load (``:46-51,:84``), and idempotent CTAS.  Each is expressed here
over the driver testdata so the oracle harness can grade it.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from airflow_cms_inpatient_etl_spark.plans.patient_claims import (
    FLAGSHIP_ORACLE_SQL,
    flagship_testdata,
)
from airflow_cms_inpatient_etl_spark.operators.text import hash60
from airflow_cms_inpatient_etl_spark.queries.base import register
from airflow_cms_inpatient_etl_spark.sources.registry import load_table

register(
    "flagship_patient_claims_plus",
    oracle=FLAGSHIP_ORACLE_SQL,
    doc="A15-A18: projection/rename + CASE decode + LEFT broadcast equi-join "
    "(orders⋈customer analog of claims⋈beneficiary, reference :160-190).",
)(flagship_testdata)


@register(
    "dq_rowcount_flag",
    oracle="""
    SELECT CASE WHEN COUNT(*) > 0 THEN 1 ELSE 0 END AS ok, COUNT(*) AS n
    FROM lineitem
    """,
)
def dq_rowcount_flag(spark, sf_dir):
    """A12-A14: scalar COUNT(*) + CASE WHEN flag (reference :128,:153,:197)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.agg(
        F.when(F.count(F.lit(1)) > 0, 1).otherwise(0).alias("ok"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "projection_typed_cast",
    oracle="""
    SELECT o_orderkey,
           CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS claim_payment_amount,
           o_orderstatus AS claim_status
    FROM orders
    """,
)
def projection_typed_cast(spark, sf_dir):
    """A7+A9: column projection with rename and text→NUMERIC-style typed cast
    (reference keep_cols :115-120 and DDL cast targets :84)."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        F.col("o_totalprice").cast("decimal(12,2)").cast("double").alias("claim_payment_amount"),
        F.col("o_orderstatus").alias("claim_status"),
    )


@register(
    "null_default_decode",
    oracle="""
    SELECT e.event_id,
           COALESCE(e.props, '') AS props_filled,
           CASE WHEN e.value IS NULL THEN 0.0 ELSE e.value END AS value_filled
    FROM events e
    """,
)
def null_default_decode(spark, sf_dir):
    """A8: missing-value defaulting (empty-cell→NULL→default) as an expression."""
    events = load_table(spark, sf_dir, "events")
    return events.select(
        "event_id",
        F.coalesce(F.col("props"), F.lit("")).alias("props_filled"),
        F.when(F.col("value").isNull(), 0.0).otherwise(F.col("value")).alias("value_filled"),
    )


@register(
    "dq_k_anonymity",
    oracle="""
    SELECT c_nationkey, c_mktsegment,
           COUNT(*) AS class_size,
           COUNT(*) < 8 AS at_risk
    FROM customer
    GROUP BY c_nationkey, c_mktsegment
    """,
)
def dq_k_anonymity(spark, sf_dir):
    """k-anonymity release gate (plans/dq.py:k_anonymity_profile) over the
    customer table with (nation, market segment) as the quasi-identifier set:
    every equivalence class's size plus an at-risk flag for classes under
    k=8 — the check a privacy-aware data release runs after PII scrubbing
    (rare attribute combinations re-identify even scrubbed rows).  k=8 is
    chosen so the flag is non-trivially exercised at the sf0.01 gate scale
    (smallest class there is 5)."""
    from airflow_cms_inpatient_etl_spark.plans.dq import k_anonymity_profile

    c = load_table(spark, sf_dir, "customer").select("c_nationkey", "c_mktsegment")
    return k_anonymity_profile(c, ["c_nationkey", "c_mktsegment"], k=8)


# --------------------------------------------------------------------------- #
# dq_group_checksum_udaf — order-independent audit checksums via a pandas      #
# UDAF (the GROUPED_AGG member of the UDF/UDAF/UDTF triad)                     #
# --------------------------------------------------------------------------- #


@register(
    "dq_group_checksum_udaf",
    oracle="""
    SELECT event_type,
           CAST(BIT_XOR(CAST('0x' || SUBSTR(MD5(event_id || '|' || user_id || '|' ||
                event_type), 1, 15) AS BIGINT)) AS BIGINT) AS checksum,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM events GROUP BY event_type
    """,
)
def dq_group_checksum_udaf(spark, sf_dir):
    """Order-independent group checksums via a custom PANDAS UDAF — the
    GROUPED_AGG escape hatch for aggregation logic Spark's built-ins lack,
    demonstrated with a kernel that is HONESTLY deterministic under
    distribution: XOR over per-row 60-bit hashes.  XOR is commutative and
    associative, so the checksum is invariant to partitioning, shuffle
    order, and pandas batch boundaries — unlike a float kernel, whose
    accumulation order a grouped-agg UDF cannot control (numpy even sums
    pairwise).  This is the standard cross-replica / cross-snapshot table
    audit: equal (n, checksum) pairs certify identical row SETS without
    moving or sorting the rows.  Row hashes are computed JVM-side (the
    portable md5-prefix hash); Python receives only int64 columns over
    Arrow (`ArrowAggregatePython` — whitelisted in the plan lint with the
    other Arrow stages); cost is one partial-aggregable exchange on the
    group key."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def xor_agg(v: pd.Series) -> int:
        import numpy as np

        return int(np.bitwise_xor.reduce(v.to_numpy(dtype="int64"))) if len(v) else 0

    @pandas_udf("long")
    def count_agg(v: pd.Series) -> int:
        # GROUPED_AGG UDFs cannot mix with built-in aggregates in one agg,
        # so the row count rides a second pandas kernel
        return len(v)

    e = load_table(spark, sf_dir, "events")
    h = hash60(F.concat_ws("|", "event_id", "user_id", "event_type"))
    return (
        e.select("event_type", h.alias("rh"))
        .groupBy("event_type")
        .agg(xor_agg("rh").alias("checksum"), count_agg("rh").alias("n"))
    )


# --------------------------------------------------------------------------- #
# text_wordcount_udtf — the UDTF member of the UDF/UDAF/UDTF triad             #
# --------------------------------------------------------------------------- #


@register(
    "text_wordcount_udtf",
    oracle="""
    SELECT doc_id, x AS word, CAST(COUNT(*) AS BIGINT) AS n
    FROM (SELECT doc_id,
                 UNNEST(LIST_FILTER(STRING_SPLIT_REGEX(LOWER(text), '\\s+'),
                                    x -> x != '')) AS x
          FROM documents)
    GROUP BY doc_id, x
    """,
)
def text_wordcount_udtf(spark, sf_dir):
    """Per-document word counts through a PYTHON UDTF (Spark 4's
    user-defined TABLE function) — the one-row-in / many-rows-out escape
    hatch for generators a lateral `explode` can't express (parsers,
    tokenizers with state, API unpackers), demonstrated on a kernel whose
    output is exactly SQL-checkable (so the Arrow plumbing is verified
    value-for-value, the same discipline as the multimodal decode stub).
    The UDTF is Arrow-optimized (`ArrowEvalPythonUDTF` — whitelisted in
    the plan lint) and invoked through the SQL LATERAL path, the same
    entry `sql_q3_shipping_priority` exercises for plain queries.  The
    per-doc Counter emits in sorted word order, so output is deterministic
    row-for-row.  Tokenizer parity: the kernel splits with
    `re.split(r'\\s+', ..., flags=re.ASCII)` — NOT `str.split()`, whose
    Unicode whitespace set (\\xa0, \\x85, \\x1c-\\x1f) silently diverges
    from the ASCII-only `\\s` of the RE2 oracle and of every other
    `\\s+`-split text query in this repo; the ASCII flag pins Python's
    class to the same set Java/RE2 use.  NOTE the engine-honest contrast:
    `text_token_counts` / `text_tfidf_top_terms` do this declaratively
    (explode + groupBy, whole-stage codegen) — the UDTF form exists for
    kernels that NEED Python, and its cost is the Arrow transfer of the
    text column."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="word string, n bigint", useArrow=True)
    class WordCount:
        def eval(self, text: str):
            import re
            from collections import Counter

            if text:
                words = (w for w in re.split(r"\s+", text.lower(), flags=re.ASCII) if w)
                for w, n in sorted(Counter(words).items()):
                    yield (w, n)

    name = "wordcount_udtf"
    spark.udtf.register(name, WordCount)
    d = load_table(spark, sf_dir, "documents")
    d.createOrReplaceTempView("udtf_docs")
    return spark.sql(
        f"SELECT doc_id, t.word, t.n FROM udtf_docs, LATERAL {name}(text) t"
    )


@register(
    "dq_l_diversity",
    oracle="""
    WITH census AS (
        SELECT c_nationkey, c_mktsegment,
               CAST(CAST(c_acctbal AS DECIMAL(14,2)) * 100 AS BIGINT) // 100000 AS sens,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM customer
        GROUP BY 1, 2, 3
    )
    SELECT c_nationkey, c_mktsegment,
           CAST(SUM(n) AS BIGINT) AS class_size,
           CAST(COUNT(*) AS BIGINT) AS l_distinct,
           CAST(MAX(n) AS BIGINT) AS top_sensitive_n,
           (COUNT(*) < 3 OR 2 * MAX(n) > SUM(n)) AS at_risk
    FROM census
    GROUP BY c_nationkey, c_mktsegment
    """,
)
def dq_l_diversity(spark, sf_dir):
    """l-diversity release gate (plans/dq.py:l_diversity_profile) over
    customer with (nation, segment) quasi-identifiers and the coarse account
    balance band (1000-currency buckets of exact cents) as the sensitive
    attribute: distinct-value count per class plus the integer dominance
    check (one value covering > half the class) — the privacy gate
    k-anonymity alone misses (a size-50 class that is all one balance band
    still leaks).  Same two-exchange census/roll-up shape as the AUC
    histogram; exact decimal cents bucketing keeps both engines identical."""
    from airflow_cms_inpatient_etl_spark.plans.dq import l_diversity_profile

    c = load_table(spark, sf_dir, "customer").select(
        "c_nationkey",
        "c_mktsegment",
        F.expr(
            "CAST(CAST(c_acctbal AS DECIMAL(14,2)) * 100 AS BIGINT) div 100000"
        ).alias("sens"),
    )
    return l_diversity_profile(c, ["c_nationkey", "c_mktsegment"], "sens", l=3)
