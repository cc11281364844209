"""Physical-plan assertions (SURVEY.md §4): the optimizations we rely on at
100 TB must actually appear in the plans — pushdown reaching the parquet
scan, column pruning in ReadSchema, broadcast joins for dim sides, and
TakeOrderedAndProject for top-k (no global sort materialization)."""

from __future__ import annotations

import pytest

from network_iq_spark.registry import QUERIES

SF = "/root/testdata/sf0.001"

# plan text comes from the session-scoped registry prefetch (one build per
# query per sf, overlapped in a thread pool — conftest._RegistryPrefetch);
# the autouse bridge keeps every _plan(spark, name) call site unchanged.
_PF: dict = {"pf": None}


@pytest.fixture(autouse=True, scope="module")
def _prefetch_bridge(registry_prefetch):
    _PF["pf"] = registry_prefetch
    yield


def _plan(spark, name: str) -> str:
    return _PF["pf"].entry(SF, name)["plan"]


def test_no_unpartitioned_window_in_any_registry_plan(spark):
    """No driver-facing query may plan `Window` with an empty partition
    spec (single-task global sort — the `WindowExec: No Partition Defined`
    warning). Agg-grain frames are re-expressed as broadcast self-joins
    (`centered_mavg_volume`), global ranks via `operators/rank.py`.

    An unpartitioned Window node prints `Window [fns], [order]` (two bracket
    groups); a partitioned one adds the partition list (three groups). A
    partition-only window (no ORDER BY — e.g. a per-key scalar aggregate
    frame) also prints two groups, but its second group is a partition
    list, distinguished from an ordering spec by the absence of ASC/DESC
    sort directions."""
    offenders = {}
    for name in sorted(QUERIES):
        plan = _plan(spark, name)
        hits = []
        for ln in plan.splitlines():
            s = ln.strip()
            if not s.lstrip("+-*( 0123456789)").startswith("Window "):
                continue
            # windowspecdefinition(args...) lists partition columns FIRST
            # (bare attrs), then ordering columns (attr ASC/DESC ...): an
            # unpartitioned spec is one whose FIRST argument already
            # carries a sort direction. Robust to however many bracket
            # groups the node prints.
            for frag in s.split("windowspecdefinition(")[1:]:
                first_arg = frag.split(",", 1)[0]
                if " ASC" in first_arg or " DESC" in first_arg:
                    hits.append(s)
                    break
        if hits:
            offenders[name] = hits[0][:120]
    assert not offenders, offenders


def test_filter_pushdown_reaches_scan(spark):
    plan = _plan(spark, "pricing_summary")
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan


def test_column_pruning(spark):
    """hourly_profile touches only ts+value — the scan must not read the
    other four event columns."""
    plan = _plan(spark, "hourly_profile")
    read = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read, plan
    assert "event_id" not in read[0] and "props" not in read[0]
    assert "ts" in read[0] and "value" in read[0]


def test_broadcast_join_for_dims(spark):
    plan = _plan(spark, "regional_revenue")
    assert "BroadcastHashJoin" in plan
    # the two big fact tables must NOT be broadcast: exactly one sort-merge
    # or shuffled-hash join between lineitem and orders is acceptable
    assert plan.count("BroadcastExchange") >= 3  # customer, nation, region


def test_topk_plans_take_ordered(spark):
    plan = _plan(spark, "top_revenue_customers")
    assert "TakeOrderedAndProject" in plan


def test_anti_and_semi_join_strategies(spark):
    anti = _plan(spark, "customers_without_orders")
    semi = _plan(spark, "customers_with_orders")
    assert "LeftAnti" in anti
    assert "LeftSemi" in semi


def test_partial_aggregation_before_exchange(spark):
    """Map-side combine: a partial HashAggregate must appear below the
    exchange so the shuffle carries one row per (task, key)."""
    plan = _plan(spark, "hourly_profile")
    assert plan.index("partial_") > 0
    assert "Exchange hashpartitioning(hour" in plan


def test_window_has_single_shuffle_per_key(spark):
    """rolling_features: all three window features share one partitioning on
    user_id — exactly one hash exchange on user_id in the plan."""
    plan = _plan(spark, "rolling_features")
    assert plan.count("Exchange hashpartitioning(user_id") == 1


@pytest.mark.parametrize(
    "name", ["latest_snapshot", "minmax_norm", "winsorized_profile"]
)
def test_no_unpartitioned_window_over_fact(spark, name):
    """The global-scalar queries must NOT plan an empty-partition WindowExec
    over the fact table (that moves every row to ONE partition — the
    `WindowExec: No Partition Defined` scale-killer). The agg→broadcast
    crossJoin shape keeps the fact side partitioned: expect a broadcast
    nested-loop join against the 1-row scalar side and zero Window nodes."""
    plan = _plan(spark, name)
    assert "Window" not in plan, plan
    # minmax/winsorize: BNLJ vs the 1-row scalar side; latest_snapshot:
    # Catalyst rewrites crossJoin+filter(ts == __mx__) into a broadcast
    # equi-join on ts — either way the build side is the broadcast scalar
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan


@pytest.mark.parametrize(
    "name, round_robin",
    [
        ("decoded_image_stats", 1),
        ("decoded_png_stats", 1),
        ("decoded_jpeg_stats", 1),
        ("decoded_jpeg420_stats", 2),
        ("decoded_jpeg_prog_stats", 2),
        ("decoded_gif_stats", 2),
    ],
)
def test_codec_stats_plan_shape(spark, name, round_robin):
    """The image codec-stats family is map-only apart from the final sort:
    one range exchange for the ORDER BY, the resize stage's spread, and
    for the heavy codecs (4:2:0 / progressive JPEG, GIF) one more spread
    before the encode. Any other exchange is a new shuffle."""
    plan = _plan(spark, name)
    assert plan.count("Exchange rangepartitioning") == 1
    assert plan.count("Exchange RoundRobinPartitioning") == round_robin
    assert plan.count("Exchange") == 1 + round_robin


def test_deterministic_sample_is_pure_map(spark):
    """Hash sampling must add ZERO exchanges — it's a filter, so the scan's
    parallelism carries through untouched at any scale."""
    from network_iq_spark.operators import sampling as SA
    from network_iq_spark.sources import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    plan = (
        SA.deterministic_sample(docs, "doc_id", 0.3)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan
    assert "Filter" in plan


def test_hash_split_is_pure_map(spark):
    from network_iq_spark.operators import sampling as SA
    from network_iq_spark.sources import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    plan = (
        SA.hash_split(docs, "doc_id", {"train": 0.8, "val": 0.2})
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan


def test_ivf_has_no_unbroadcast_cartesian(spark):
    """IVF's only nested-loop joins are against broadcast (tiny) sides —
    centroids and the scalar bounds; a plain CartesianProduct would mean
    the corpus is being crossed with itself."""
    import importlib.util

    spec = importlib.util.spec_from_file_location("e", "/root/repo/__spark_entry__.py")
    m = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(m)
    df = m.queries()["ivf_cosine_topk"](spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # vs broadcast centroids only


def test_simhash_pairs_registered_plan_has_no_cartesian(spark):
    """The driver-facing simhash_pairs runs the pigeonhole-blocked equi-join
    (recall 1.0); the all-pairs crossJoin lives only in tests as the
    semantic reference. A CartesianProduct here would be a scale-killer in
    the registered catalog."""
    plan = _plan(spark, "simhash_pairs")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_acctbal_quartiles_has_no_unpartitioned_window(spark):
    """Registered ntile runs the range-partition + offset global-rank plan;
    `NTILE OVER (ORDER BY ...)` with no partition key (single-task sort of
    the whole table) must not appear in the driver-facing catalog. The
    registered plan materializes the ranked stream (localCheckpoint), so
    the range exchange is asserted on the unmaterialized operator shape."""
    plan = _plan(spark, "acctbal_quartiles")
    assert "Window [ntile" not in plan, plan

    from network_iq_spark.operators.rank import ntile_scalable
    from network_iq_spark.sources import load_table

    c = load_table(spark, SF, "customer").select("c_acctbal", "c_custkey")
    shape = (
        ntile_scalable(c, 4, ["c_acctbal", "c_custkey"], materialize=False)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "rangepartitioning" in shape.lower(), shape
    assert "Window [ntile" not in shape, shape


def test_histogram_binning_uses_broadcast_scalar(spark):
    import importlib.util

    spec = importlib.util.spec_from_file_location("e", "/root/repo/__spark_entry__.py")
    m = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(m)
    df = m.queries()["value_histogram"](spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan  # 1-row bounds side
    assert "Window" not in plan               # not the global-window anti-pattern


def test_sequence_packing_window_is_sharded_and_pruned(spark):
    """Packing's prefix sum must be partitioned by the shard key (a global
    window would funnel the corpus through one task), and the scan must
    prune to the three columns the operator touches."""
    plan = _plan(spark, "sequence_packing")
    win = [ln for ln in plan.splitlines() if "Window" in ln and "sum" in ln.lower()]
    assert win and "shard" in win[0], plan
    read = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read and "lang" not in read[0] and "n_chars" not in read[0], plan


def test_semantic_dedup_has_no_unbroadcast_cartesian(spark):
    """The only nested-loop join is corpus x broadcast centroids; the pair
    generation must be an equi-join on the cell id, never a cross product."""
    plan = _plan(spark, "semantic_dedup")
    assert "CartesianProduct" not in plan, plan


def test_domain_mix_sample_broadcasts_rates(spark):
    """The per-group rate dim joins the fact side as a broadcast — the fact
    pass stays map-shaped (no shuffle of documents on lang)."""
    plan = _plan(spark, "domain_mix_sample")
    assert "BroadcastHashJoin" in plan, plan


def test_bigram_rarity_partial_aggregates(spark):
    """Both groupBys (corpus frequency, per-doc rollup) must partial-agg
    before their exchanges — map-side combine is what keeps the shuffled
    bytes proportional to distinct keys, not exploded bigrams."""
    plan = _plan(spark, "bigram_rarity")
    assert "partial_count" in plan, plan


def test_no_rdd_api_anywhere():
    """The engine is DataFrame-only: ``df.rdd`` forces full physical
    planning on the driver at every call, is unsupported under Spark
    Connect, and makes plan shape depend on cluster state at build time
    (ADVICE r4). ``ensure_parallelism`` sizes from ``inputFiles()`` +
    conf instead."""
    import pathlib
    import re

    root = pathlib.Path(__file__).resolve().parent.parent / "network_iq_spark"
    hits = [
        f"{p.relative_to(root)}:{i}"
        for p in sorted(root.rglob("*.py"))
        for i, line in enumerate(p.read_text().splitlines(), 1)
        if re.search(r"\.rdd\b", line)
    ]
    assert hits == []


def test_chunk_dedup_has_no_cartesian_and_partitioned_window(spark):
    """chunk_dedup's first-occurrence pick must run as a window over the
    chunk_text key (high-cardinality partitions), never a cartesian or an
    unpartitioned global window — asserted on the registered plan."""
    plan = _plan(spark, "chunk_dedup")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_unigram_surprisal_broadcasts_vocab(spark):
    """The vocab-sized aggregate must come back onto the exploded token
    stream as a broadcast hash join — a shuffled sort-merge join here would
    re-shuffle the full corpus token stream on the token key."""
    plan = _plan(spark, "unigram_surprisal")
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_shipping_priority_plan_shape(spark):
    """Q3 shape: customer dim broadcast, pushed filters on both fact scans,
    top-10 via TakeOrderedAndProject (no global sort materialization)."""
    plan = _plan(spark, "shipping_priority")
    assert "BroadcastHashJoin" in plan, plan
    assert "TakeOrderedAndProject" in plan, plan
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert any("o_orderdate" in ln for ln in pushed), pushed
    assert any("l_shipdate" in ln for ln in pushed), pushed


def test_nation_trade_volume_broadcasts_all_dims_single_shuffle(spark):
    """Q7 shape: five broadcast joins (orders side included at test scale),
    zero sort-merge joins, and exactly ONE hash exchange — the grouped
    aggregation. The same nation dim appears twice under different aliases
    without forcing a shuffle."""
    plan = _plan(spark, "nation_trade_volume")
    assert "SortMergeJoin" not in plan, plan
    assert plan.count("BroadcastHashJoin") >= 4, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_session_window_stats_single_shuffle(spark):
    """Native session_window grouping: one hash exchange on the user key,
    sessions merged within partitions — no global sort, no second pass."""
    plan = _plan(spark, "session_window_stats")
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "CartesianProduct" not in plan, plan


def test_semantic_dedup_scale_path_never_collects_centroid_table(spark):
    """The auto-cells (scale) path must not materialize the centroid table
    on the driver: the only driver-side collect the whole plan build +
    execution performs is the √k super-rep pick (ivf_assign_dist).
    Guards the 100 TB posture — with cells ∝ N, collecting all k centroids
    is ~0.5 GB through the driver at 10^9 vectors."""
    import math
    from unittest import mock

    # patch the CLASSIC subclass — pyspark.sql.DataFrame is the abstract
    # base in Spark 4 and instances override collect() on the subclass
    from pyspark.sql.classic.dataframe import DataFrame

    from network_iq_spark.operators import similarity as S
    from network_iq_spark.sources import load_table

    emb = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    n = emb.count()
    k = S.auto_n_cells(n)
    budget = math.isqrt(k)
    collected_sizes: list[int] = []
    real_collect = DataFrame.collect

    def spy(self):
        rows = real_collect(self)
        collected_sizes.append(len(rows))
        return rows

    with mock.patch.object(DataFrame, "collect", spy):
        out = S.semantic_dedup(emb, n_cells=None, threshold=0.30)
        assert out.count() == n  # execute without a driver-side collect
    assert collected_sizes, "expected the rep pick to collect"
    assert max(collected_sizes) <= budget, collected_sizes


def test_bucketed_join_has_no_exchange_on_join_key(spark):
    """The bucketed lineitem⋈orders must join bucket-to-bucket: a
    SortMergeJoin with NO Exchange on either orderkey side — the co-located
    layout is the point of paying the bucketed write. (The aggregate's
    exchange on o_orderpriority is expected and allowed.)"""
    plan = _plan(spark, "bucketed_order_lineitem")
    assert "SortMergeJoin" in plan, plan
    offending = [
        ln.strip()
        for ln in plan.splitlines()
        if "Exchange" in ln and "orderkey" in ln.lower()
    ]
    assert not offending, offending


def test_lateral_top_orders_decorrelates(spark):
    """The correlated LATERAL-LIMIT subquery must decorrelate into a ranked
    equi-join (window + hash/merge join), NEVER per-row subquery execution
    or a cartesian — the property that makes the declarative form also the
    scale form."""
    plan = _plan(spark, "lateral_top_orders")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "Window" in plan, plan
    assert "SortMergeJoin" in plan or "BroadcastHashJoin" in plan, plan


def test_no_cartesian_product_in_any_registry_plan(spark):
    """Standing guard: NO driver-facing query may plan a CartesianProduct.
    Bounded nested-loop joins against broadcast scalar/tiny sides print as
    BroadcastNestedLoopJoin and are policed per-query; an actual cartesian
    is always a scale-killer. Sweep measured clean at round 6."""
    offenders = []
    for name in sorted(QUERIES):
        if "CartesianProduct" in _plan(spark, name):
            offenders.append(name)
    assert not offenders, offenders


def test_dataset_card_single_grain_scan(spark):
    """dataset_card's 100 TB shape (r8): ONE corpus pass materializes the
    per-doc stat grain (localCheckpoint) and every stat family — volume,
    top-lang, exact-dup, MinHash near-dup, quality mean, splits — rolls
    up from it. The executed plan must contain NO parquet scan (the only
    corpus read happens inside the grain materialization); a regression
    back to per-family corpus scans reintroduces six reads of a 100 TB
    table for a one-row card."""
    plan = _plan(spark, "dataset_card")
    assert "Scan parquet" not in plan, plan[:2000]
    assert "ExistingRDD" in plan  # the materialized grain feeds the card


def test_pq_tier_collects_only_model_artifacts(spark):
    """PQ/IVF-PQ collect budget (VERDICT r7 item 3): `pq_codebook` /
    `pq_encode` / `assign_np_l2` ship centroids and codewords into the
    UDF closure on a "bounded model artifact" argument — m·k codebook
    rows and n_cells centroid rows, never corpus rows. Make that bound a
    standing assertion like the semantic-dedup √k spy: across plan build
    AND execution of the whole PQ query family, no single driver-side
    collect may exceed the m·k codebook size (512). Runs at sf0.1 — the
    one SF where corpus (5000) strictly exceeds the budget, so a
    regression that collects per-vector data cannot hide inside the
    artifact bound (at sf0.01 the 500-row corpus is SMALLER than the
    codebook and the spy couldn't discriminate)."""
    from unittest import mock

    from pyspark.sql.classic.dataframe import DataFrame

    from network_iq_spark.queries.similarity_q import _PQ_K, _PQ_M
    from network_iq_spark.sources import load_table

    sf_dir = "/root/testdata/sf0.1"
    budget = _PQ_M * _PQ_K  # 512: the codebook, the largest legal artifact
    corpus_n = load_table(spark, sf_dir, "embeddings").count()
    assert budget < corpus_n  # the spy can tell artifact from data

    collected_sizes: list[int] = []
    real_collect = DataFrame.collect

    def spy(self):
        rows = real_collect(self)
        collected_sizes.append(len(rows))
        return rows

    with mock.patch.object(DataFrame, "collect", spy):
        for name in ("ann_pq_adc_topk", "ann_pq_rerank_topk", "ann_ivfpq_topk"):
            out = QUERIES[name](spark, sf_dir)
            assert out.count() > 0, name
    assert collected_sizes, "expected codebook/centroid artifact collects"
    assert max(collected_sizes) <= budget, collected_sizes


def test_panels_queries_build_without_a_job(spark, count_jobs):
    """Building (not executing) a dashboard query on a warm session must
    launch no Spark job: an eager action at plan build (schema inference,
    a collect, a count) is a fixed per-query cost on every interaction.
    Covers the benchmark's ``panels`` workload."""
    from perfbench.workloads import PANELS

    for name in PANELS:
        QUERIES[name](spark, SF)  # warm: first builds may infer schemas
    launched = {}
    for name in PANELS:
        _, n = count_jobs(lambda: QUERIES[name](spark, SF))
        if n:
            launched[name] = n
    assert len(PANELS) == 26
    assert not launched, launched
