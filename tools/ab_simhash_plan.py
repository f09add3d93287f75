#!/usr/bin/env python
"""Settle VERDICT r10 "What's wrong #2" the direct way: the verdict
suspected `dedup_simhash`'s ×1.24 driver-bench delta came from the r10
`word_shingles` lambda-binding rewrite "because simhash_signatures
consumes word_shingles". It does not — `simhash_signatures`
(operators/dedup.py) explodes RAW tokens (`tokenize` + `xxhash64`)
and never builds shingles; git shows commit 552b34c touched only
`word_shingles`. This script proves it at the plan level: it builds
`dedup_simhash`'s executed plan twice — once as shipped, once with
`word_shingles` monkeypatched back to the pre-r10 (unbound) form —
normalizes plan/exprId counters, and asserts the two plan strings are
BYTE-IDENTICAL. Identical plans ⇒ the rewrite cannot explain the
delta ⇒ best-of-5 noise adjudication
(`git show b8116fd:tools/adjudicate_r11.py`) is the right instrument.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import Column
from pyspark.sql import functions as F

from gomaxscale_spark.operators import dedup as D
from gomaxscale_spark.plans import all_queries
from gomaxscale_spark.session import get_session


def old_word_shingles(text: Column, n: int = 3) -> Column:
    """The pre-552b34c form (re-inlines tokenize per element_at)."""
    toks = D.tokenize(text)

    def shingle_at(k: Column) -> Column:
        return F.concat_ws(" ", *[F.element_at(toks, k + i) for i in range(n)])

    return F.when(
        F.size(toks) >= n,
        F.array_distinct(
            F.transform(F.sequence(F.lit(1), F.size(toks) - n + 1), shingle_at)
        ),
    ).otherwise(F.array().cast("array<string>"))


def normalize(plan: str) -> str:
    plan = re.sub(r"#\d+L?", "#N", plan)
    plan = re.sub(r"plan_id=\d+", "plan_id=N", plan)
    plan = re.sub(r"\[id=#?\d+\]", "[id=N]", plan)
    # lambda variables carry a session-global counter ("lambda x_5") —
    # building one plan advances it for the next, so normalize names
    plan = re.sub(r"lambda ([a-z]+)_\d+", r"lambda \1_N", plan)
    return plan


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    spark = get_session("ab_simhash_plan", cpus=8)
    fn = all_queries()["dedup_simhash"].fn

    new_plan = normalize(
        fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    )
    shipped = D.word_shingles
    try:
        D.word_shingles = old_word_shingles
        old_plan = normalize(
            fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        )
    finally:
        D.word_shingles = shipped

    assert new_plan == old_plan, "plans differ — word_shingles IS in the path"
    print(
        "IDENTICAL: dedup_simhash executed plan is byte-identical under "
        "old vs new word_shingles (%d chars) — the r10 rewrite is not in "
        "its path." % len(new_plan)
    )
    spark.stop()


if __name__ == "__main__":
    main()
