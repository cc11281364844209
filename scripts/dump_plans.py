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
"""

from __future__ import annotations

import contextlib
import io
import os
import sys

REPO = os.environ.get(
    "PLAN_REPO", os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
OUT = os.environ.get("PLAN_OUT", "plans/out")
SUFFIX = os.environ.get("PLAN_SUFFIX", "")


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
        path = os.path.join(OUT, f"{name}{SUFFIX}.txt")
        with open(path, "w") as fh:
            fh.write(buf.getvalue())
        print(f"{path}: {len(buf.getvalue())} bytes", flush=True)


if __name__ == "__main__":
    main()
