from perfbench.workloads import DEDUP_UNITS, WORKLOADS, pass_order


def test_pass_order_is_seeded_and_keeps_units_adjacent():
    a = pass_order(DEDUP_UNITS, seed=3, pass_no=1)
    assert a == pass_order(DEDUP_UNITS, seed=3, pass_no=1)
    assert sorted(a) == sorted(n for u in DEDUP_UNITS for n in u)
    assert a[a.index("ann_ivfpq_topk") + 1] == "ann_pq_adc_topk"
    orders = {tuple(pass_order(DEDUP_UNITS, seed=s, pass_no=p)) for s in range(4) for p in range(4)}
    assert len(orders) > 1


def test_ingest_starts_every_pass():
    wl = WORKLOADS["ingest_refresh"]
    for p in range(5):
        order = wl.order(seed=9, pass_no=p)
        assert order[0] == "ingest" and order.count("ingest") == 1


def test_expected_results_cover_every_catalog_seed():
    import json

    from perfbench.workloads import CATALOG_SEEDS, EXPECTED_PATH, catalog_seed

    with open(EXPECTED_PATH, encoding="utf-8") as f:
        recorded = json.load(f)["audio_landmark_pairs"]
    assert set(recorded) == {str(s) for s in range(CATALOG_SEEDS)}
    assert {catalog_seed(s) for s in (0, 7, CATALOG_SEEDS + 7, 10**9)} <= set(range(CATALOG_SEEDS))
    assert catalog_seed(CATALOG_SEEDS + 7) == 7
