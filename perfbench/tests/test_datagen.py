import os

import pyarrow.parquet as pq

from perfbench import checks, datagen


def test_telemetry_csv_same_seed_same_bytes():
    a = datagen.telemetry_csv_text(7, cells=3, days=2)
    assert a == datagen.telemetry_csv_text(7, cells=3, days=2)
    assert a != datagen.telemetry_csv_text(8, cells=3, days=2)
    lines = a.splitlines()
    assert lines[0].split(",") == list(datagen.TELEMETRY_COLUMNS)
    assert len(lines) == 1 + 3 * 2 * 24


def test_telemetry_csv_has_rows_the_cleansing_rule_drops():
    want = checks.telemetry_expectations(datagen.telemetry_csv_text(3, cells=4, days=3))
    assert 0 < want["raw_rows"] - want["rows"] < want["raw_rows"] // 20
    assert want["partitions"] == 4 * 3


def test_catalog_same_seed_same_bytes(tmp_path):
    def files(seed, name):
        out = tmp_path / name
        datagen.write_catalog(str(out), seed, 0.001)
        return {f: (out / f).read_bytes() for f in sorted(os.listdir(out))}

    a, b, c = files(5, "a"), files(5, "b"), files(6, "c")
    assert len(a) == 10 and a == b
    assert a["lineitem.parquet"] != c["lineitem.parquet"]
    assert pq.read_table(tmp_path / "a" / "embeddings.parquet").num_rows == 500
