#!/usr/bin/env python
"""Dump `.explain("formatted")` for registry queries to text files.

Used for the committed `plans/r<N>/<query>_{before,after}.txt` evidence:
run once against the current tree for "after", and once with PLAN_REPO
pointing at a checkout of the pre-round commit for "before". With no query
names it dumps every registered query.

  PLAN_OUT=plans/r15 PLAN_SUFFIX=_after python scripts/dump_plans.py q1 q2 ...
  PLAN_REPO=/tmp/r14tree PLAN_OUT=plans/r15 PLAN_SUFFIX=_before \
      python scripts/dump_plans.py q1 q2 ...
  PLAN_OUT=/tmp/plans python scripts/dump_plans.py      # every query

SPARK_GRAFT_SF_DIR picks the data (default /root/testdata/sf0.1) so the
plan (AQE initial plan, join strategies from estimates) matches what the
bench executes.

What differs from run to run or from checkout to checkout is masked, so
two dumps compare with ``diff -r``: expression ids (``#123`` -> ``#N``),
exchange plan ids (``plan_id=N``), RDD ids (``RDD[N]``) and the checkout
path (``<repo>``). One line is still not reproducible and is left as it
is: ``value_equidepth_histogram``'s offsets array literal, which
``operators.rank.ntile_scalable`` bakes in from the per-partition counts
of a ``repartitionByRange`` whose bounds come from a random sample.
"""

from __future__ import annotations

import contextlib
import io
import os
import re
import sys

REPO = os.environ.get(
    "PLAN_REPO", os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
OUT = os.environ.get("PLAN_OUT", "plans/out")
SUFFIX = os.environ.get("PLAN_SUFFIX", "")
_MASKS = (
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
)


def _masked(plan: str) -> str:
    plan = plan.replace(REPO, "<repo>")
    for pattern, mask in _MASKS:
        plan = pattern.sub(mask, plan)
    return plan


def main() -> None:
    os.makedirs(OUT, exist_ok=True)

    from network_iq_spark.registry import QUERIES  # noqa: E402 — after path pin
    from network_iq_spark.session import get_spark  # noqa: E402

    names = sys.argv[1:] or sorted(QUERIES)

    spark = get_spark(app_name="dump-plans")
    spark.sparkContext.setLogLevel("ERROR")
    for name in names:
        spark.sparkContext.setJobDescription(f"plan: {name}")
        df = QUERIES[name](spark, SF_DIR)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        plan = _masked(buf.getvalue())
        path = os.path.join(OUT, f"{name}{SUFFIX}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        print(f"{path}: {len(plan)} bytes", flush=True)


if __name__ == "__main__":
    main()
