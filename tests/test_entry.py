"""t1 smoke: the driver contract itself."""

from __future__ import annotations

import glob
import json
import os

import __spark_entry__ as e


def test_entry_returns_rows(spark):
    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert df.columns[0] == "l_returnflag"


def test_every_query_has_registry_entry():
    qs = e.queries()
    assert "pricing_summary" in qs
    # every oracle key must correspond to a query
    assert set(e.oracle_sql()) <= set(qs)


def test_cli_catalog_list_and_run(spark):
    """--list prints every registered query; --run parses args (exercised
    in-process to avoid a second JVM)."""
    from network_iq_spark.__main__ import _catalog_main
    from network_iq_spark.registry import QUERIES

    import contextlib, io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        _catalog_main(["--list"])
    out = buf.getvalue()
    for name in QUERIES:
        assert name in out
    assert f"{len(QUERIES)} queries" in out

    import pytest as _pytest

    with _pytest.raises(SystemExit):
        _catalog_main(["--run", "not_a_query"])


def test_verify_first_names_all_resolve():
    """The driver hash-checks the first 50 queries of the sheet, so they are
    the 50 least recently verified: ordered by the round of their last
    ``hash_match: true`` stamp in the committed ``CORRECTNESS_r<NN>.json``
    files (none ranks as 0), ties by name."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    last: dict[str, int] = {}
    for path in glob.glob(os.path.join(root, "CORRECTNESS_r*.json")):
        rnd = int(os.path.basename(path)[len("CORRECTNESS_r"):-len(".json")])
        with open(path) as fh:
            for name, stamp in json.load(fh).items():
                if stamp["hash_match"] is True:
                    last[name] = max(last.get(name, 0), rnd)
    qs = e.queries()
    stalest = sorted(qs, key=lambda n: (last.get(n, 0), n))[:50]
    assert list(qs)[:50] == stalest
    # the sheet is 100% oracle-paired (bench-only queries are filtered out)
    assert set(e.oracle_sql()) == set(qs)
