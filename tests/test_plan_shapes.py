"""Physical-plan regression tests — the engine's scale claims as
assertions (SCALE.md): filters push to parquet, projections prune
columns, dimension joins broadcast, top-k avoids global sorts,
ranked-window filters become group limits. If a refactor breaks one
of these, correctness tests stay green but 100 TB behavior regresses;
this file is what catches it."""

from __future__ import annotations

import pytest

from traffic_forecast_etl_spark.plans.catalog import QUERIES


def final_plan_of(df) -> str:
    """Execute and return ONLY the AQE final plan (the executed-plan
    string appends an '== Initial Plan ==' section that still shows
    the static pre-AQE join choices)."""
    df.collect()
    full = df._jdf.queryExecution().executedPlan().toString()
    return full.split("== Initial Plan ==")[0]


def plan_of(spark, name, sf_dir, mode="formatted") -> str:
    df = QUERIES[name](spark, sf_dir)
    jvm = spark._jvm
    return df._jdf.queryExecution().explainString(
        jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    )


@pytest.mark.parametrize(
    "query,needle",
    [
        # q1: shipdate filter reaches the parquet scan
        ("q1_pricing_summary", "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
        # p: exact literal pushdown
        ("p_project_filter", "PushedFilters: [IsNotNull(l_discount), EqualTo(l_discount,0.04)]"),
        # q3: dim joins broadcast; top-k is TakeOrdered, not Sort+Limit
        ("q3_shipping_priority", "BroadcastHashJoin"),
        ("q3_shipping_priority", "TakeOrderedAndProject"),
        ("o1_topk_sort", "TakeOrderedAndProject"),
        # q5 snowflake: every join broadcast (fact never shuffles pre-agg)
        ("q5_region_volume", "BroadcastHashJoin"),
        ("j2_fk_lookup", "BroadcastHashJoin"),
        ("j5_range_join", "BroadcastHashJoin"),
        # ranked-window top-k per group plans a WindowGroupLimit
        ("w2_topk_per_group", "WindowGroupLimit"),
    ],
)
def test_plan_contains(spark, sf_dir, query, needle):
    assert needle in plan_of(spark, query, sf_dir), f"{query} lost {needle!r}"


def test_j1_plan_shape_and_ts_encoding(spark, sf_dir):
    """j1's 100x plan, pinned: two pruned 2-column event scans (the
    purchase filter pushed into the second), one hash exchange per
    aggregate side, small side broadcast — and the ts column read as
    timestamp_ntz. The ReadSchema pin exists because a testdata
    re-encoding (us-NTZ <-> INT64-nanos, r2 commit 17b82ab) changes
    the decode path silently; if this gate trips, re-baseline j1's
    steady-state number in SCALE.md alongside the encoding."""
    import re

    plan = plan_of(spark, "j1_composite_key_join", sf_dir)
    assert "PushedFilters: [IsNotNull(event_type), EqualTo(event_type,purchase)]" in plan
    assert "ReadSchema: struct<ts:timestamp_ntz,value:double>" in plan
    assert "ReadSchema: struct<ts:timestamp_ntz,event_type:string>" in plan
    assert len(re.findall(r"\(\d+\) Exchange\b", plan)) == 2  # one per agg side
    assert len(re.findall(r"\(\d+\) BroadcastExchange", plan)) == 1
    assert "SortMergeJoin" not in plan


def test_d1_text_never_shuffles(spark, sf_dir):
    """Exact dedup's scale contract: the doc text collapses to an
    8-byte xxhash64 fingerprint BELOW the one exchange (map-side
    partial min/count on __fp), so the shuffle carries 16 bytes/row
    regardless of document size."""
    import re

    plan = plan_of(spark, "d1_exact_dedup", sf_dir, mode="simple")
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1
    assert "Exchange hashpartitioning(__fp" in plan
    assert "partial_min" in plan  # map-side combine before the exchange


def test_d10_diff_shuffles_hashes_not_payload(spark, sf_dir):
    """table_diff's scale contract: each side collapses its payload to
    one xxhash64 BEFORE the full-outer join, so the two shuffles move
    (key, 8-byte hash), never the row payload; null-safe keys stay
    hash-partitionable (coalesce/isnull equi-keys, no nested loop)."""
    import re

    plan = plan_of(spark, "d10_table_diff", sf_dir, mode="simple")
    assert "FullOuter" in plan
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 2
    assert "__h_l" in plan and "__h_r" in plan
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan


def test_q5_has_no_sort_merge_join_after_aqe(spark, sf_dir):
    """q5's sf-growing sides are unhinted (broadcast-hint policy,
    catalog.py header), so the STATIC plan may conservatively show
    SortMergeJoin — but AQE must convert every join to broadcast at
    tiny sf from the runtime sizes. Pin the FINAL adaptive plan."""
    final = final_plan_of(QUERIES["q5_region_volume"](spark, sf_dir))
    assert "BroadcastHashJoin" in final
    assert "SortMergeJoin" not in final, final[:800]


def test_q1_scan_prunes_columns(spark, sf_dir):
    """q1 must read exactly the 7 needed lineitem columns, not all 11."""
    plan = plan_of(spark, "q1_pricing_summary", sf_dir)
    import re

    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan[:400]
    cols = {c.split(":")[0] for c in m.group(1).split(",")}
    assert cols == {
        "l_quantity",
        "l_extendedprice",
        "l_discount",
        "l_tax",
        "l_returnflag",
        "l_linestatus",
        "l_shipdate",
    }


def test_winnow_has_single_shuffle(spark, sf_dir):
    """t6 winnowing: the groupBy(doc_id) must REUSE the window's
    hash partitioning on doc_id — explode → hash → one Exchange →
    window min → partial+final agg with no second shuffle. A second
    Exchange appearing means someone broke the partitioning chain
    (at 100 TB that's a full re-shuffle of the k-gram stream)."""
    import re

    plan = plan_of(spark, "t6_winnow_fingerprint", sf_dir)
    exchanges = re.findall(r"\(\d+\) Exchange", plan)
    assert len(exchanges) == 1, plan[:600]


def test_no_row_udfs_registered():
    """U1 contract: the engine has zero row-at-a-time Python UDFs —
    only Arrow-batched pandas UDFs / mapInPandas where documented."""
    import pathlib

    root = pathlib.Path(__file__).parent.parent / "traffic_forecast_etl_spark"
    offenders = []
    for f in root.rglob("*.py"):
        text = f.read_text()
        if "@F.udf" in text or "F.udf(" in text or "udf(lambda" in text:
            offenders.append(str(f))
    assert not offenders, offenders


@pytest.mark.parametrize(
    "query,needle",
    [
        # q4: the order-date range is pushed into the orders scan and
        # the correlated EXISTS plans as a semi join
        ("q4_order_priority", "PushedFilters: [IsNotNull(o_orderdate), GreaterThanOrEqual(o_orderdate"),
        ("q4_order_priority", "LeftSemi"),
        # q21: EXISTS -> semi, NOT EXISTS -> anti, supplier broadcast
        ("q21_waiting_supplier", "LeftSemi"),
        ("q21_waiting_supplier", "LeftAnti"),
        ("q21_waiting_supplier", "BroadcastHashJoin"),
        # q22 via SQL surface: Catalyst decorrelates NOT EXISTS with a
        # pushed date predicate to an anti join, scalar subquery to a
        # broadcast
        ("q22_dormant_customers", "LeftAnti"),
        ("q22_dormant_customers", "PushedFilters: [IsNotNull(o_orderdate), GreaterThanOrEqual(o_orderdate"),
    ],
)
def test_decorrelation_plan_shapes(spark, sf_dir, query, needle):
    assert needle in plan_of(spark, query, sf_dir), f"{query} lost {needle!r}"


# Queries allowed to funnel a full stream through one task or use a
# cartesian product, each with the documented justification.
_SINGLE_PARTITION_WINDOW_OK = {
    # global row_number ordering IS the operator's contract; the scale
    # path is temporal_split_at (date cutoff) — see relational.py
    "o2_temporal_split",
    # c3's documented coarse-layout window (shard-count granularity;
    # row-level scale passes strata_col) — c13 adds FFD inside the
    # coarse shards but keeps the same level-1 layout contract
    "c13_pack_best_fit",
    # deliberately tiny: ranks the 5-row distinct-agg output
    "a5_distinct_agg",
    # whole-frame totals over the per-SOURCE counts frame (O(sources)
    # rows — bytes through the single partition); chosen over the
    # 1-row-frame BroadcastNestedLoopJoin alternative, see
    # temperature_mix_rates
    "c5_temperature_mix",
}
_CARTESIAN_OK = {
    # broadcast query-side × corpus is the documented exact baseline
    "s1_cosine_topk",
    # blocked all-pairs cosine is O(n²) BY CONTRACT (oracle baseline;
    # guard-railed: auto-sized blocks + >1M-row refusal)
    "d5_embedding_neardup",
    # 1-row global-stats frame joined back onto the stream
    "a2_minmax_normalize", "a3_profile", "q14_promo_share",
    "q17_below_avg_parts", "p_const_first_row",
    # 1-row corpus-count (IDF denominator) broadcast onto the TF stream
    "t7_tfidf_topterms",
    # 1-row BM25 stats frame (N, avgdl, df per query term) broadcast
    # onto the map-only tf stream
    "t17_bm25_search",
    # 1-row exact-percentile threshold broadcast onto the corpus
    # (minmax_normalize_expr shape)
    "c6_adaptive_quality_gate",
    # 1-row (N, V) totals frame broadcast onto the token stream
    "t13_unigram_logprob",
    # 1-row (T, V) totals frame broadcast onto the bigram stream
    "t15_bigram_logprob",
    # 1-row id-bounds frame for the order-preserving range stratum
    # (auto-stratum packing path, VERDICT r7 item 2)
    "c13_pack_best_fit",
    # broadcast eval-set × corpus: the eval set is small BY CONTRACT
    # (same shape as s1's query side); corpus never shuffles
    "c7_embedding_decontaminate",
    # 1-row global-revenue threshold joined by INEQUALITY (value >
    # 0.08% of total) — no equi-key for Catalyst to convert, stays a
    # 1-row broadcast nested loop by construction (q15's max-equality
    # twin DOES convert to a BroadcastHashJoin)
    "q11_important_parts",
}


@pytest.mark.parametrize(
    "query,needle",
    [
        # q19: the three OR'd cross-side branches must still push
        # per-side residuals — quantity OR-bounds into the fact scan,
        # brand+size bounds into the part scan
        (
            "q19_disjunctive_revenue",
            "Or(Or(And(GreaterThanOrEqual(l_quantity,1.0),LessThanOrEqual(l_quantity,11.0))",
        ),
        ("q19_disjunctive_revenue", "Or(Or(And(EqualTo(p_brand,Brand#12)"),
        # q7: Catalyst infers each nation side's IN-list from the
        # symmetric-pair disjunction and pushes it to the (broadcast)
        # nation scans
        ("q7_nation_volume", "Or(EqualTo(n_name,NATION_1),EqualTo(n_name,NATION_2))"),
        ("q7_nation_volume", "BroadcastHashJoin"),
        # q13: the non-key join predicate lives in the ORDERS scan
        # (NOT the join output — customers with only urgent orders
        # must survive with count 0)
        ("q13_customer_distribution", "Not(EqualTo(o_orderpriority,1-URGENT))"),
        # q15: the rounded-revenue = max(revenue) filter becomes an
        # EQUI-join on the 1-row max frame (no nested loop)
        ("q15_top_supplier", "BroadcastHashJoin"),
        # q16/q8/q9: dim-side predicates stay on the broadcast side
        ("q16_supplier_count", "Not(EqualTo(p_brand,Brand#5))"),
        ("q8_market_share", "EqualTo(p_type,ECONOMY)"),
        ("q9_product_profit", "StringContains(p_name,red)"),
    ],
)
def test_round2_tpch_plan_shapes(spark, sf_dir, query, needle):
    assert needle in plan_of(spark, query, sf_dir), f"{query} lost {needle!r}"


def test_no_unjustified_single_partition_windows(spark, sf_dir):
    """Catalog-wide scale audit: a Window with `Exchange
    SinglePartition` below it pushes the FULL stream through one task
    (the trap fixed in minmax_normalize_expr). Every occurrence must
    be on the allow-list with a documented reason."""
    offenders = []
    for name in QUERIES:
        if name.startswith("st"):  # streaming plans build sinks, not explains
            continue
        plan = plan_of(spark, name, sf_dir, mode="simple")
        lines = plan.splitlines()
        for i, ln in enumerate(lines):
            if "Window" not in ln:
                continue
            # the Window's required child exchange is the FIRST
            # Exchange printed below it; a SinglePartition exchange
            # elsewhere in the tree (e.g. a 1-row count branch) is fine
            for nxt in lines[i + 1:]:
                if "Exchange" in nxt:
                    if (
                        "Exchange SinglePartition" in nxt
                        and name not in _SINGLE_PARTITION_WINDOW_OK
                    ):
                        offenders.append(name)
                    break
    assert not offenders, f"single-partition window in: {sorted(set(offenders))}"


def test_no_unjustified_cartesian_products(spark, sf_dir):
    offenders = []
    for name in QUERIES:
        if name.startswith("st"):
            continue
        plan = plan_of(spark, name, sf_dir, mode="simple")
        if ("CartesianProduct" in plan or "BroadcastNestedLoopJoin" in plan) and (
            name not in _CARTESIAN_OK
        ):
            offenders.append(name)
    assert not offenders, f"unjustified cartesian/nested-loop in: {offenders}"


def test_exact_first_text_never_shuffles(spark, sf_dir):
    """The near-dedup exact-first pre-pass inherits d1's scale
    contract: its fp-keyed window shuffles the 8-byte fingerprint and
    the id — the document text collapses to xxhash64 below every
    exchange."""
    import re

    from traffic_forecast_etl_spark.operators.dedup import minhash_lsh_pairs
    from traffic_forecast_etl_spark.sources.tables import load_table

    docs = load_table(spark, "documents", sf_dir)
    edges = minhash_lsh_pairs(docs, "text", "doc_id").filter("exact_member")
    plan = edges._jdf.queryExecution().executedPlan().toString()
    for ex in re.findall(r"Exchange hashpartitioning\(([^)]*)", plan):
        assert "text" not in ex, ex
    assert "Exchange hashpartitioning(__fp" in plan  # the rep window's key


# Broadcast hints allowed in plans/catalog.py — ONLY sides whose size
# is independent of scale factor (policy in catalog.py's module
# docstring, VERDICT r7 item 1). An explicit hint overrides both
# autoBroadcastJoinThreshold and AQE's runtime size check, so a hint
# on an sf-growing side (orders/customer/part/supplier or aggregates
# keyed by their keys) is an OOM at 100 TB.
_BROADCAST_ROOT_ALLOWLIST = {
    "n", "r", "n1", "n2",   # nation (25 rows) / region (5 rows)
    "total", "mx", "thr",    # 1-row global aggregates (q11/q15/c6)
    "bounds",                # per-event_type min/max (fixed cardinality)
}


def test_broadcast_hint_allowlist():
    """Every F.broadcast() in the catalog must target an allowlisted
    fixed-size frame. Catching a reintroduced hint on a scale-growing
    table here is cheaper than catching the OOM on a cluster."""
    import pathlib
    import re

    src = (
        pathlib.Path(__file__).parent.parent
        / "traffic_forecast_etl_spark" / "plans" / "catalog.py"
    ).read_text()
    roots = re.findall(r"F\.broadcast\(\s*(\w+)", src)
    offenders = sorted(set(roots) - _BROADCAST_ROOT_ALLOWLIST)
    assert not offenders, (
        f"broadcast hint on non-allowlisted frames {offenders}; if the "
        "side is genuinely sf-independent, extend the allowlist WITH a "
        "size argument, otherwise drop the hint and let AQE decide"
    )


@pytest.mark.parametrize(
    "query",
    ["q3_shipping_priority", "q10_returned_items", "q12_priority_shipmode",
     "q14_promo_share", "q18_large_orders"],
)
def test_aqe_picks_broadcast_without_hints(spark, sf_dir, query):
    """The de-hinted q-family must still get broadcast joins at tiny
    sf — from Spark's own size estimates / AQE runtime stats, not from
    hints. Executes the query (AQE finalizes the plan at runtime) and
    pins BroadcastHashJoin in the FINAL adaptive plan with no
    SortMergeJoin fallback."""
    final = final_plan_of(QUERIES[query](spark, sf_dir))
    assert "BroadcastHashJoin" in final, f"{query}: no broadcast join\n{final[:800]}"
    assert "SortMergeJoin" not in final, f"{query}: sort-merge at tiny sf\n{final[:800]}"


def test_ivf_route_is_one_narrow_projection(spark):
    """IVF routing scores the k centroids as one array literal per
    query: no exchange, no window and no Python node — a map over the
    query batch, however many centroids or probes."""
    from traffic_forecast_etl_spark.operators.similarity import _route

    q = spark.createDataFrame(
        [(i, [float(i), 1.0, 0.5]) for i in range(6)], "__qid long, __qv array<double>"
    )
    routed = _route(q, [[1.0, 0.0, 0.0], [0.0, 1.0, 0.0], [0.0, 0.0, 1.0]], 2)
    plan = routed._jdf.queryExecution().executedPlan().toString()
    for node in ("Exchange", "Window", "Python", "Pandas", "Join"):
        assert node not in plan, plan
    assert routed.count() == 12


def test_forecast_fresh_rows_broadcasts_without_shuffle(spark, tmp_path):
    """A forecast batch (one-partition payload, checkpointed as the
    plane does) against an existing sink: the insert's final plan
    dedups in place, with no hash exchange, and anti-joins against a
    broadcast of the sink's range-pruned scan."""
    import re

    from traffic_forecast_etl_spark.plans.forecast import normalize_forecast
    from traffic_forecast_etl_spark.sinks import fresh_rows, insert_if_absent
    from traffic_forecast_etl_spark.sources.json_payload import read_json_payload

    payload = [
        {"DateTime": f"2015-06-01T{h:02d}:00:00+02:00", "Temperature": {"Value": 20.0, "Unit": "C"},
         "Wind": {"Speed": {"Value": 5.0}}, "HasPrecipitation": False}
        for h in range(12)
    ]
    forecast = normalize_forecast(read_json_payload(spark, payload)).localCheckpoint(eager=True)
    batch = forecast.select("datetime", "temperature")
    path = str(tmp_path / "weather")
    assert insert_if_absent(spark, batch.limit(6), path, keys=["datetime"]) == 6
    final = final_plan_of(fresh_rows(spark, batch, path, keys=["datetime"]))
    assert "Exchange hashpartitioning" not in final, final
    assert re.search(r"BroadcastHashJoin .*LeftAnti", final), final


# Keys whose plans legitimately cross into Python — ALL Arrow-batched
# (pandas_udf / applyInPandas / mapInPandas), each a documented
# boundary where no native expression exists. Row-at-a-time
# BatchEvalPython is allowed NOWHERE.
_ARROW_BOUNDARY_OK = {
    # FFD greedy bin state (order-dependent heuristic, text.py)
    "c13_pack_best_fit",
    # packed-float L2/hamming kernels over array<float> sketches
    "d5_embedding_neardup", "d11_embedding_neardup_lsh", "s2_lsh_ann",
    # PQ ADC scoring over m-byte codes + per-query shortlist refine
    "s6_ivf_pq_ann",
    # media decode/resize kernels (binary columns, multimodal.py)
    "m1_media_features", "m3_resize",
}


def test_no_python_row_nodes_in_any_catalog_plan(spark, sf_dir):
    """Catalog-wide U1 audit at the PLAN level (stronger than the
    source-level @udf grep): no query may plan a row-at-a-time
    BatchEvalPython node anywhere, and Arrow-batched Python nodes may
    appear only in the documented-boundary allowlist. A native-expr
    refactor that silently falls back to a Python UDF regresses 10 to
    100x at 100 TB — this is what catches it."""
    offenders = {}
    for name in QUERIES:
        if name.startswith("st"):  # streaming builders make sinks
            continue
        plan = plan_of(spark, name, sf_dir, mode="simple")
        if "BatchEvalPython" in plan:
            offenders[name] = "BatchEvalPython (row-at-a-time!)"
            continue
        arrow = [
            n
            for n in (
                "ArrowEvalPython", "FlatMapGroupsInPandas", "MapInPandas",
                "FlatMapGroupsInPandasWithState",
            )
            if n in plan
        ]
        if arrow and name not in _ARROW_BOUNDARY_OK:
            offenders[name] = arrow
    assert not offenders, f"undocumented Python plan nodes: {offenders}"
