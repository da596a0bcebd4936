#!/usr/bin/env python
"""Fact-scan audit: count parquet scans per fact table in every
declared query's formatted plan and print the multi-scan rows.

A fact table appearing more than once in a plan is either deliberate
(inverted-index self-joins, decorrelated-aggregate join-backs where
map-side combine beats a raw-fact window, composed pipelines
re-reading pruned source columns) or a bug of the broadcast-scalar
class: a 1-row broadcast aggregate whose subplan re-executes the whole
scan->join->aggregate chain, because exchange reuse never crosses a
broadcast boundary. Round 6 found and fixed four of the latter with
this audit (q2/q11/q15, the unigram LM total, the funnel's
three-way re-join, and the SimHash fold recompute); the deliberate
ones are documented where they occur, and plan invariants in
tests/test_plans.py pin the fixed shapes.

    python scripts/scan_audit.py [sf_dir]   # default sf0.001
"""

from __future__ import annotations

import re
import sys
from pathlib import Path

REPO_ROOT = str(Path(__file__).resolve().parent.parent)
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)

from k8e_fetch_spark.queries import REGISTRY, queries  # noqa: E402
from k8e_fetch_spark.session import get_spark  # noqa: E402
from k8e_fetch_spark.testing import formatted_plan  # noqa: E402

FACTS = ["lineitem", "orders", "events", "documents", "embeddings"]


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark(app_name="scan-audit", cpus=8, shuffle_partitions=8)
    queries()
    for name, q in REGISTRY.items():
        try:
            df = q.fn(spark, sf_dir)
            plan = formatted_plan(df)
            multi = {
                t: c
                for t in FACTS
                if (c := len(re.findall(rf"Location: InMemoryFileIndex[^\n]*{t}\.parquet", plan))) > 1
            }
            if multi:
                print(name, multi, flush=True)
        except Exception as e:  # keep auditing; a broken query shows as ERR
            print(name, f"ERR {str(e)[:80]}", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
