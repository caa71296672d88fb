#!/usr/bin/env python
"""Optimized-plan fingerprints for every registry query.

Builds each query at a small scale factor, takes its optimized logical plan,
normalizes what varies from run to run (expression ids, per-run sink and view
names, staging paths under the temp dir) and hashes the result.  A refactor
that keeps every fingerprint keeps every plan; ``--compare`` names the
queries whose plan changed.

Usage:
    python tools/plan_fingerprint.py --sf-dir SF0001 --out before.json
    python tools/plan_fingerprint.py --sf-dir SF0001 --out after.json --compare before.json

where ``SF0001`` is the directory of the sf0.001 test tables (the
``SF_SMOKE`` directory of ``tests/conftest.py``).

The output file holds ``{"plans": {query: sha256}, "errors": {query: error}}``.
A query that fails to build has no fingerprint: it is listed under
``errors`` only, so two runs that fail alike never compare as equal plans.

Building a query runs the jobs it runs at build time (snapshots, collects,
stream drains), so a full sweep at sf0.001 takes a few minutes.  Exit status
is 1 when a query failed to build (in this run or, with ``--compare``, in the
earlier one) or when ``--compare`` finds a changed, added or removed
fingerprint.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import re
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
# Python UDF workers import the package too, from any working directory
os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [REPO, os.environ.get("PYTHONPATH")]))

from airflow_cms_inpatient_etl_spark.queries import QUERY_REGISTRY  # noqa: E402
from airflow_cms_inpatient_etl_spark.session import get_spark  # noqa: E402
from airflow_cms_inpatient_etl_spark.sources.registry import release_snapshots  # noqa: E402

_NORMALIZE = [
    # expression ids: a#123L -> a#NL (the type suffix stays)
    (re.compile(r"#\d+"), "#N"),
    # exchange ids and the session-wide counter behind lambda variable names
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"lambda (\w+?)_\d+\b"), r"lambda \1_N"),
    # staging dirs and files created under the temp dir for one run
    (re.compile(re.escape(tempfile.gettempdir()) + r"/[^\s,\]\)]+"), "<tmp>"),
    # per-run uuid suffixes of memory-sink tables and temp views
    (re.compile(r"_[0-9a-f]{8}\b"), "_<id>"),
]


def normalize(plan: str) -> str:
    for pattern, repl in _NORMALIZE:
        plan = pattern.sub(repl, plan)
    return plan


def fingerprint(spark, name: str, sf_dir: str) -> str:
    """SHA-256 of the query's normalized optimized plan; raises if it fails."""
    try:
        df = QUERY_REGISTRY[name].fn(spark, sf_dir)
        plan = normalize(df._jdf.queryExecution().optimizedPlan().toString())
    finally:
        release_snapshots(spark)
        spark.catalog.clearCache()
    return hashlib.sha256(plan.encode()).hexdigest()


def sweep(spark, sf_dir: str) -> dict[str, dict[str, str]]:
    plans, errors = {}, {}
    for name in QUERY_REGISTRY:
        try:
            plans[name] = fingerprint(spark, name, sf_dir)
        except Exception as e:
            errors[name] = f"{type(e).__name__}: {(str(e).splitlines() or [''])[0]}"
            print(f"{name}: {errors[name]}", file=sys.stderr)
    return {"plans": plans, "errors": errors}


def compare(before: dict, after: dict) -> list[str]:
    lines = [f"errored {name} (before)" for name in sorted(before["errors"])]
    lines += [f"errored {name} (after)" for name in sorted(after["errors"])]
    errored = set(before["errors"]) | set(after["errors"])
    before, after = before["plans"], after["plans"]
    for name in sorted((set(before) | set(after)) - errored):
        if name not in after:
            lines.append(f"removed {name}")
        elif name not in before:
            lines.append(f"added   {name}")
        elif before[name] != after[name]:
            lines.append(f"changed {name}")
    return lines


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--out", required=True, help="JSON file for the plans and errors")
    ap.add_argument("--compare", help="earlier --out file to diff against")
    ap.add_argument("--sf-dir", required=True, help="directory of the test tables")
    args = ap.parse_args()

    spark = get_spark(app_name="plan-fingerprint")
    spark.sparkContext.setLogLevel("ERROR")
    result = sweep(spark, args.sf_dir)
    with open(args.out, "w") as f:
        json.dump(result, f, indent=1, sort_keys=True)
    spark.stop()
    print(f"{len(result['plans'])} plans, {len(result['errors'])} errors")
    if not args.compare:
        return 1 if result["errors"] else 0
    with open(args.compare) as f:
        before = json.load(f)
    diff = compare(before, result)
    print("\n".join(diff) if diff else f"no changed fingerprint ({len(result['plans'])} queries)")
    return 1 if diff else 0


if __name__ == "__main__":
    sys.exit(main())
