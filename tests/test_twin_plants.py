"""Twin-plant parity: every planted-twin family of queries/media.py is
written once per engine — a Spark builder and a DuckDB SELECT — and the
two must plant the same (media_id, signal) rows. A desync would
otherwise surface only as a whole-query hash mismatch."""

from __future__ import annotations

import os

import duckdb
import pytest

from network_iq_spark.queries import media as Q

SF = "/root/testdata/sf0.001"

# (modality, Spark builder, DuckDB plant) per family: every transform
# arm row plus the dHash near-dup twins
FAMILIES = {
    f"{a.modality}_{a.axis}": (a.modality, a.twins, a.twins_sql)
    for a in Q._TRANSFORM_ARMS
}
FAMILIES["image_dhash"] = ("image", Q._dhash_twins, Q._DHASH_TWINS_SQL)


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    path = os.path.join(SF, "embeddings.parquet")
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{path}')")
    yield con
    con.close()


@pytest.mark.parametrize("family", sorted(FAMILIES))
def test_spark_and_sql_plant_the_same_twins(family, spark, duck):
    modality, twins, twins_sql = FAMILIES[family]
    _, src_sql, sig = Q._CORPUS[modality]
    if modality == "audio":
        src = Q._aud_walks(spark, SF)
    else:
        src = Q._img_grid(spark, SF)
    got = sorted(
        (r.media_id, tuple(r[sig]))
        for r in twins(src).select("media_id", sig).collect()
    )
    want = sorted(
        (mid, tuple(v))
        for mid, v in duck.execute(
            f"WITH {src_sql} SELECT media_id, {sig} FROM ({twins_sql})"
        ).fetchall()
    )
    assert got, family
    assert got == want
