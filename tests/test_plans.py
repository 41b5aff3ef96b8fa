"""Physical-plan assertions (SURVEY §4.2 / BASELINE.md internal targets):
pushdown reaches the scan, small dims broadcast, window chains share one
shuffle, hot paths stay in whole-stage codegen."""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from polars_quant_spark.queries import QUERIES
from polars_quant_spark.sources.bars import bars, load_table


from polars_quant_spark.plans.inspect import n_exchanges
from polars_quant_spark.plans.inspect import plan_str as plan


def test_q1_filter_pushdown(spark, sf_dir):
    p = plan(QUERIES["rel_q1_pricing_summary"](spark, sf_dir))
    assert "PushedFilters" in p
    assert "LessThanOrEqual(l_shipdate" in p


def test_q1_column_pruning(spark, sf_dir):
    p = plan(QUERIES["rel_q1_pricing_summary"](spark, sf_dir))
    # ReadSchema should exclude unused columns like l_partkey/l_suppkey
    read = [line for line in p.splitlines() if "ReadSchema" in line][0]
    assert "l_partkey" not in read
    assert "l_quantity" in read


def test_q3_broadcasts_customer(spark, sf_dir):
    # customer carries NO forced hint (it scales with SF); at test SF the
    # statistics-based planner still picks broadcast — that's the point:
    # the choice is the optimizer's, not hard-coded.
    p = plan(QUERIES["rel_q3_shipping_priority"](spark, sf_dir))
    assert "BroadcastHashJoin" in p
    # top-k must not globally sort: TakeOrderedAndProject
    assert "TakeOrderedAndProject" in p


def test_q5_star_join_broadcasts(spark, sf_dir):
    p = plan(QUERIES["rel_q5_region_revenue"](spark, sf_dir))
    assert p.count("BroadcastHashJoin") >= 3


def test_no_forced_broadcast_of_sf_scaled_tables():
    """Only fixed-size dims (nation 25 rows, region 5) may carry an explicit
    F.broadcast hint; customer/supplier/orders/lineitem/part grow with SF and
    a forced hint would OOM at 100× (VERDICT r1 'what's wrong' #2).

    Scope: the TPC-H modules' allowlist discipline. Since round 8 the
    GLOBAL net over every module is test_forced_broadcast_ratchet below
    (docs/broadcast_ratchet.json + docs/BROADCAST_TRIAGE.md) — this test
    stays as the stricter per-name rule for the relational surface."""
    import inspect

    import polars_quant_spark.queries as qmod
    import polars_quant_spark.queries_tpch as tmod

    # nation/region are fixed-size; total/mx/winners/n_orders are tiny
    # agg-derived frames (global scalars / max-ties) that do NOT grow with SF.
    allowed = ("na", "re", "total", "tot", "mx", "winners", "n_orders", "base",
               "sells", "buys", "bounds", "nm", "cut", "sched", "full", "nbg",
               "scal", "cps", "days", "dec")
    for mod in (qmod, tmod):
        src = inspect.getsource(mod)
        for line in src.splitlines():
            if "F.broadcast(" in line:
                target = line.split("F.broadcast(", 1)[1]
                assert target.startswith(allowed), line


def test_indicator_chain_single_exchange(spark, sf_dir):
    """A multi-indicator select over one window spec must shuffle exactly
    once (bars' own row_number partitioning is reused)."""
    from polars_quant_spark.functions import momentum as mo
    from polars_quant_spark.functions import overlap as ov

    b = bars(spark, sf_dir)
    w = Window.partitionBy("symbol").orderBy("t")
    df = b.select(
        "symbol",
        "t",
        ov.sma("close", 20, w).alias("sma"),
        mo.mom("close", 10, w).alias("mom"),
        mo.willr("high", "low", "close", 14, w).alias("willr"),
    )
    p = plan(df)
    # one hashpartitioning exchange on event_type/symbol, nothing else
    assert n_exchanges(p) == 1


def test_patterns_exchanges(spark, sf_dir):
    from polars_quant_spark.functions import pattern as pat

    # default: the window's hash exchange + the deliberate round-robin
    # rebalance before the CPU-heavy 61-column projection (escapes AQE's
    # size-based coalescing and fat-symbol skew)
    p = plan(pat.with_patterns(bars(spark, sf_dir)))
    assert n_exchanges(p) == 2
    assert "RoundRobinPartitioning" in p
    # repartition=0 opts out (symbol-bucketed stores): window exchange only
    p0 = plan(pat.with_patterns(bars(spark, sf_dir), repartition=0))
    assert n_exchanges(p0) == 1


def test_bars_scan_prunes_columns(spark, sf_dir):
    p = plan(bars(spark, sf_dir))
    read = [line for line in p.splitlines() if "ReadSchema" in line][0]
    assert "props" not in read  # unused events column never read


def test_cosine_topk_broadcasts_queries(spark, sf_dir):
    from polars_quant_spark.operators import similarity

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.orderBy("vec_id").limit(5).select(F.col("vec_id").alias("query_id"), "embedding")
    p = plan(similarity.cosine_topk(emb, q, k=5))
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p


def test_ivf_assign_zero_shuffle_and_compiled(spark, sf_dir):
    """Bucket assignment must be a pure projection — no exchange between
    the corpus scan and the bucket column (r1 shuffled n·c rows through a
    per-id window) — and must stay compiled (its expression shape
    previously overran janino's 64 KB limit → interpreted fallback)."""
    from polars_quant_spark.operators import similarity

    emb = load_table(spark, sf_dir, "embeddings")
    cents = similarity.hash_centroids(emb, 16)
    out = similarity.ivf_assign(emb, cents)
    assert n_exchanges(plan(out)) == 0
    old = spark.conf.get("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try:
        assert out.count() > 0
    finally:
        spark.conf.set("spark.sql.codegen.fallback", old)


def test_embedding_near_dupes_is_blocked_not_all_pairs(spark, sf_dir):
    """The declared near-dup path must join per-bucket, never build the
    O(n²) cartesian pair space (VERDICT r1 'what's wrong' #1)."""
    from polars_quant_spark.operators import similarity

    emb = load_table(spark, sf_dir, "embeddings")
    p = plan(similarity.embedding_near_dupes(emb, threshold=0.9))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_simhash_df_single_shuffle(spark, sf_dir):
    """The codegen SimHash (explode → 32 conditional sums) must shuffle on
    the doc id for the agg plus the widen rebalance and the final doc join —
    and contain no interpreted nested-HOF aggregate lambdas."""
    from polars_quant_spark.operators import dedup

    docs = load_table(spark, sf_dir, "documents")
    p = plan(dedup.simhash_df(docs))
    assert "aggregate(" not in p  # the interpreted HOF form is gone
    assert n_exchanges(p) <= 4


def test_widen_preserves_pushdown_and_pruning(spark, sf_dir):
    """widen()'s round-robin repartition must not block predicate pushdown
    or column pruning (SCALE.md 'narrow scans' note)."""
    from polars_quant_spark.functions._util import widen

    li = widen(load_table(spark, sf_dir, "lineitem"))
    df = li.where(
        F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp")
    ).select("l_extendedprice")
    p = plan(df)
    assert "GreaterThanOrEqual(l_shipdate" in p  # pushed to the scan
    read = [line for line in p.splitlines() if "ReadSchema" in line][0]
    assert "l_partkey" not in read  # pruned through the exchange
    assert "RoundRobinPartitioning" in p or "Exchange" in p


def test_recurrence_single_shuffle(spark, sf_dir):
    from polars_quant_spark.operators.recurrence import Rec, with_recurrences

    b = bars(spark, sf_dir)
    out = with_recurrences(
        b,
        [
            Rec("e", "ema", ["close"], {"p": 12}),
            Rec("r", "rsi", ["close"], {"p": 14}),
        ],
    )
    p = plan(out)
    # bars window partitioning + the groupBy(symbol) for applyInPandas may
    # reuse the same partitioning; at most 2 exchanges, never per-indicator
    assert n_exchanges(p) <= 2
    import re
    assert len(re.findall(r"\(\d+\) FlatMapGroupsIn(?:Pandas|Arrow)", p)) == 1


def test_bucketed_bars_no_exchange(spark, sf_dir, tmp_path_factory):
    """A symbol-bucketed bar store must run the indicator window with ZERO
    exchanges — the scale-notes claim ('bucket the store, delete the
    exchange'), proven on a real bucketed table."""
    from polars_quant_spark.functions import momentum as mo
    from polars_quant_spark.functions import overlap as ov
    from polars_quant_spark.sources.bars import (
        bars,
        read_bucketed_bars,
        write_bucketed_bars,
    )

    write_bucketed_bars(bars(spark, sf_dir), "bars_bucketed_t", buckets=8)
    try:
        b = read_bucketed_bars(spark, "bars_bucketed_t")
        w = Window.partitionBy("symbol").orderBy("t")
        df = b.select(
            "symbol",
            "t",
            ov.sma("close", 20, w).alias("sma"),
            mo.willr("high", "low", "close", 14, w).alias("willr"),
        )
        p = plan(df)
        assert n_exchanges(p) == 0, p
        assert df.count() > 0
    finally:
        spark.sql("DROP TABLE IF EXISTS bars_bucketed_t")


def test_stratified_sample_is_pure_filter(spark, sf_dir):
    """Sampling must add zero exchanges — selection and re-weighting ride
    the scan as a codegen'd filter."""
    from polars_quant_spark.operators import sketch

    docs = load_table(spark, sf_dir, "documents")
    p = plan(sketch.stratified_sample(docs, "doc_id", {"src0": 0.5, "src1": 1.0}, "source"))
    assert n_exchanges(p) == 0


def test_contamination_broadcasts_probes(spark, sf_dir):
    """The corpus side must never shuffle its shingle rows for the probe
    join — probes broadcast; the only exchanges are the widen rebalance and
    the (probe, doc) pair aggregation."""
    from polars_quant_spark.operators import dedup

    docs = load_table(spark, sf_dir, "documents")
    probes = docs.where(F.col("doc_id") % 50 == 7).select(
        F.col("doc_id").alias("probe_id"), "text"
    )
    p = plan(dedup.contamination(docs, probes, min_shared=2))
    assert "BroadcastHashJoin" in p
    # widen (×2 sides) + pair agg; no shingle-keyed repartition of the corpus
    assert n_exchanges(p) <= 3, p


def test_kmv_never_sorts_a_whole_group(spark, sf_dir):
    """The level-1 window must partition by (group, partition-id): the plan
    carries a _pid-keyed window before the per-group ranking."""
    from polars_quant_spark.operators import sketch

    ev = load_table(spark, sf_dir, "events")
    p = plan(sketch.kmv_distinct(ev, "user_id", by=["event_type"], k=32))
    assert "_pid" in p
    # distinct + two window exchanges + final agg reuse ≤ 4
    assert n_exchanges(p) <= 4, p


def test_ngram_jaccard_no_cartesian(spark, sf_dir):
    """Exact Jaccard goes through the inverted-index equi-join — never a
    cartesian/NL pair product."""
    from polars_quant_spark.operators.dedup import ngram_jaccard_pairs

    docs = load_table(spark, sf_dir, "documents")
    p = plan(ngram_jaccard_pairs(docs, threshold=0.5))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "SortMergeJoin" in p or "ShuffledHashJoin" in p or "BroadcastHashJoin" in p


def test_span_dedup_broadcasts_banned_set(spark, sf_dir):
    """The banned (boilerplate) span set is small by construction and must
    broadcast back onto the exploded span rows."""
    from polars_quant_spark.operators.text import remove_duplicated_spans

    docs = load_table(spark, sf_dir, "documents")
    p = plan(remove_duplicated_spans(docs, width=2, max_docs=20))
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_oov_vocab_topk_and_broadcast(spark, sf_dir):
    """Vocabulary selection must be top-N (TakeOrderedAndProject), never a
    global sort; the vocab membership join must broadcast."""
    from polars_quant_spark.operators.text import oov_stats

    docs = load_table(spark, sf_dir, "documents")
    p = plan(oov_stats(docs, vocab_size=16))
    assert "TakeOrderedAndProject" in p
    assert "BroadcastHashJoin" in p


def test_chunked_windows_forces_block_exchange(spark, sf_dir):
    """The chunked evaluation must add exactly ONE exchange beyond the bars
    view — the explicit (symbol, block) repartition. Without it Spark elides
    the exchange (hashpartitioning(symbol) already satisfies the clustered
    distribution) and the window silently runs at #symbols parallelism,
    which defeats the operator."""
    from polars_quant_spark.functions import overlap as ov
    from polars_quant_spark.operators.chunked import with_chunked_windows

    b = bars(spark, sf_dir)
    base = n_exchanges(plan(b))
    p = plan(
        with_chunked_windows(
            b, {"s": lambda w: ov.sma("close", 20, w)}, lookback=19, chunk=512
        )
    )
    assert n_exchanges(p) == base + 1
    assert "_ck" in p  # window keyed by the block column


def test_auto_chunk_windows_dispatch(spark, sf_dir):
    """auto_chunk_windows must be a PLAN-LEVEL dispatch: short per-key
    histories get the plain window (no halo explode, no block column),
    long ones get the chunked plan (block exchange + _ck window). Both
    paths are bit-identical, so only the plan shape distinguishes them."""
    from polars_quant_spark.functions import overlap as ov
    from polars_quant_spark.operators.chunked import auto_chunk_windows

    b = bars(spark, sf_dir)
    builders = {"s": lambda w: ov.sma("close", 20, w)}
    plain = plan(
        auto_chunk_windows(b, builders, lookback=19, max_rows_per_key=10_000)
    )
    assert "_ck" not in plain and "Generate" not in plain  # no explode
    chunked = plan(
        auto_chunk_windows(
            b, builders, lookback=19, chunk=512, max_rows_per_key=10_000_000
        )
    )
    assert "_ck" in chunked
    # measured-dispatch arm: tiny test data is always below the default
    # threshold, so the count-by-key probe must pick the plain window
    measured = plan(auto_chunk_windows(b, builders, lookback=19))
    assert "_ck" not in measured
    # dispatch moves the work, not the answer
    a = auto_chunk_windows(b, builders, lookback=19, max_rows_per_key=10_000)
    c = auto_chunk_windows(
        b, builders, lookback=19, chunk=512, max_rows_per_key=10_000_000
    )
    sa = sorted(map(tuple, a.select("symbol", "t", "s").collect()))
    sc = sorted(map(tuple, c.select("symbol", "t", "s").collect()))
    assert sa == sc
    # dense-order contract (ADVICE r5): the measured arm must REFUSE a
    # sparse order column instead of letting a data-size increase flip the
    # dispatch onto the chunked arm and corrupt chunk-boundary rows
    sparse = b.withColumn("t", F.col("t") * 2)
    with pytest.raises(ValueError, match="dense 1-based"):
        auto_chunk_windows(sparse, builders, lookback=19)
    # ADVICE r6 + code-review r7: non-numeric order columns must be
    # rejected OUTRIGHT (type check, before any job) — a numeric STRING
    # like "17" try_casts cleanly and would pass the density probe, then
    # corrupt the chunked arm because chunk ids are numeric but the window
    # sorts lexicographically ("1","10","100","11",…)
    stringy = b.withColumn("t", F.col("t").cast("string"))
    with pytest.raises(ValueError, match="NUMERIC dense 1-based"):
        auto_chunk_windows(stringy, builders, lookback=19)
    from polars_quant_spark.operators.chunked import with_chunked_windows

    with pytest.raises(ValueError, match="NUMERIC dense 1-based"):
        with_chunked_windows(stringy, builders, lookback=19)
    # code-review r7: duplicate-plus-gap orders (min 1, max n, count n but
    # NOT a permutation, e.g. [1,2,2,4]) must also fail the density probe
    dupgap = b.withColumn(
        "t",
        F.when(F.col("t") == 2, F.lit(3)).otherwise(F.col("t")),
    )
    with pytest.raises(ValueError, match="dense 1-based"):
        auto_chunk_windows(dupgap, builders, lookback=19)


def test_token_budget_broadcasts_bins(spark, sf_dir):
    """The bins frame (≤ one row per distinct 6-dp quality) must broadcast;
    no global single-partition sort of the docs frame."""
    from polars_quant_spark.operators.text import select_token_budget

    docs = load_table(spark, sf_dir, "documents")
    p = plan(select_token_budget(docs, budget=10_000))
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_semi_join_never_materializes_probe_columns(spark, sf_dir):
    """rel_q4: EXISTS must plan as a LeftSemi hash join (each order emitted
    at most once, probe side reduced to its key) with the returnflag filter
    pushed to the lineitem scan."""
    p = plan(QUERIES["rel_q4_priority_semi"](spark, sf_dir))
    assert "LeftSemi" in p
    assert "EqualTo(l_returnflag,R)" in p or "l_returnflag" in p
    read = [ln for ln in p.splitlines() if "ReadSchema" in ln and "l_orderkey" in ln][0]
    assert "l_extendedprice" not in read  # keys-only probe side


def test_anti_join_shape(spark, sf_dir):
    """rel_q22: NOT EXISTS must plan as a LeftAnti join with the date filter
    pushed to the orders scan — no outer join + null filter fallback."""
    p = plan(QUERIES["rel_q22_inactive_anti"](spark, sf_dir))
    assert "LeftAnti" in p
    assert "SortMergeJoin" in p or "BroadcastHashJoin" in p or "ShuffledHashJoin" in p


def test_topk_per_group_uses_window_group_limit(spark, sf_dir):
    """rel_topk_per_group: the rank<=k filter must push into
    WindowGroupLimit on BOTH sides of the exchange (partial map-side top-k,
    then final) — the shuffle carries per-task survivors, not the table."""
    p = plan(QUERIES["rel_topk_per_group"](spark, sf_dir))
    assert p.count("WindowGroupLimit") >= 2


def test_clean_stats_broadcast_no_fact_shuffle(spark, sf_dir):
    """winsorize/zscore attach group stats via broadcast join-back: the plan
    must contain no Window (the old per-group-window form shuffled every
    fact row; keyless form degenerated to a single-task global window) and
    must probe the stats via BroadcastHashJoin."""
    from polars_quant_spark.operators.clean import winsorize, zscore

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice"
    )
    for out in (
        winsorize(li, "l_extendedprice", group_by=["l_returnflag"]),
        winsorize(li, "l_extendedprice", method="mad"),
        zscore(li, "l_extendedprice", group_by=["l_returnflag"]),
    ):
        p = plan(out)
        assert "BroadcastHashJoin" in p or "BroadcastNestedLoopJoin" in p
        assert "Window" not in p


def test_funnel_windows_share_one_exchange(spark, sf_dir):
    """events_funnel: the three chained conditional-min windows must share a
    single hashpartitioning(user_id) exchange — total exchanges are that
    one + the stage rollup + the final sort, nothing per step."""
    p = plan(QUERIES["events_funnel"](spark, sf_dir))
    assert p.count(") Window") == 3
    assert n_exchanges(p) == 3


def test_funnel_depth_never_adds_an_exchange(spark, sf_dir):
    """The promoted operator's headline scale claim (operators/events.py::
    funnel_step_times): each step's conditional min references the previous
    step's column under the SAME user partitioning, so funnel DEPTH adds
    windows but never a shuffle. A 5-step funnel must plan the same number
    of exchanges as a 2-step one (the per-user aggregate reuses the window
    exchange; only the source scan side pays)."""
    from polars_quant_spark.operators.events import funnel_step_times
    from polars_quant_spark.sources.bars import load_table, ts_us_expr

    ev0 = load_table(spark, sf_dir, "events")
    ev = ev0.select("user_id", "event_type", ts_us_expr(ev0).alias("ts_us"))
    p2 = plan(funnel_step_times(ev, ["view", "click"]))
    p5 = plan(funnel_step_times(ev, ["view", "click", "view", "click", "purchase"]))
    assert p5.count(") Window") == 5
    assert n_exchanges(p5) == n_exchanges(p2) == 1


def test_cohort_retention_single_user_shuffle(spark):
    """operators/events.py::cohort_retention's claim: the per-user dedup
    groupBy reuses the window-min's hashpartitioning(user_id) exchange
    (subset partitioning satisfies the clustered distribution), so the
    user axis is shuffled EXACTLY once — the remaining exchanges are the
    cohort-cell rollup and the output sort, neither user-sized."""
    from polars_quant_spark.operators.events import cohort_retention

    df = spark.createDataFrame([("u", 1), ("u", 9), ("v", 2)], ["user_id", "day"])
    p = plan(cohort_retention(df))
    assert n_exchanges(p) == 3
    user_exchanges = [
        ln for ln in p.splitlines()
        if "hashpartitioning" in ln and "user_id" in ln
    ]
    assert len(user_exchanges) == 1, user_exchanges


def test_partition_pruning_on_date_partitioned_store(spark, sf_dir, tmp_path):
    """The 100 TB layout is date-partitioned parquet; a day filter must
    prune at the PARTITION level (PartitionFilters in the scan, files from
    other days never opened), not just at the row level."""
    from polars_quant_spark.sources.bars import load_table, ts_us_expr

    ev = load_table(spark, sf_dir, "events")
    path = str(tmp_path / "events_by_day")
    ev.withColumn("_us", ts_us_expr(ev)).withColumn(
        "day", F.expr("_us div 86400000000").cast("int")
    ).drop("_us").write.partitionBy("day").mode("overwrite").parquet(path)
    days = [r["day"] for r in spark.read.parquet(path).select("day").distinct().collect()]
    target = sorted(days)[0]
    q = spark.read.parquet(path).where(F.col("day") == target).groupBy("event_type").count()
    p = plan(q)
    assert "PartitionFilters" in p
    pf_line = [ln for ln in p.splitlines() if "PartitionFilters" in ln][0]
    assert "day" in pf_line and "dynamicpruning" not in pf_line
    got = {r["event_type"]: r["count"] for r in q.collect()}
    exp_rows = spark.read.parquet(path).collect()
    exp: dict = {}
    for r in exp_rows:
        if r["day"] == target:
            exp[r["event_type"]] = exp.get(r["event_type"], 0) + 1
    assert got == exp


def test_q19_disjunction_pushes_implied_filters(spark, sf_dir):
    """The OR-of-ANDs must yield implied per-side pushed filters (brand set
    on part, quantity envelope on lineitem) BEFORE the join — the reason
    q19 is written declaratively instead of as three unioned branches."""
    p = plan(QUERIES["rel_q19_disjunctive_revenue"](spark, sf_dir))
    pushed = [ln for ln in p.splitlines() if "PushedFilters" in ln]
    assert any("l_quantity" in ln for ln in pushed), pushed
    assert any("p_brand" in ln or "p_size" in ln for ln in pushed), pushed


def test_q18_semi_join_before_wide_joins(spark, sf_dir):
    """The HAVING survivors semi-join lineitem (keys-only probe) and no
    global sort appears — top-k is TakeOrderedAndProject."""
    p = plan(QUERIES["rel_q18_large_orders"](spark, sf_dir))
    assert "LeftSemi" in p
    assert "TakeOrderedAndProject" in p


def test_q11_scalar_threshold_reuses_aggregate(spark, sf_dir):
    """The global total must come from the per-part partials (shuffle
    reuse), not a second parquet scan of lineitem."""
    p = plan(QUERIES["rel_q11_important_parts"](spark, sf_dir))
    import re as _re

    scans = _re.findall(r"Scan parquet .*lineitem", p)
    assert len(scans) <= 1 or "ReusedExchange" in p, p[:2000]
    assert "TakeOrderedAndProject" in p


def test_q21_decorrelates_to_single_lineitem_pair(spark, sf_dir):
    """The double-correlation must not become lineitem self-joins plus
    cartesian residue: no CartesianProduct / BroadcastNestedLoopJoin."""
    p = plan(QUERIES["rel_q21_sole_returner"](spark, sf_dir))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoop" not in p


def test_unpivot_is_single_scan_expand(spark, sf_dir):
    """Native unpivot must read lineitem ONCE (one Expand node), not the
    UNION-ALL twin's four scans."""
    p = plan(QUERIES["rel_unpivot_measures"](spark, sf_dir))
    import re as _re

    assert len(_re.findall(r"\(\d+\) Scan parquet", p)) == 1
    assert "Expand" in p


def test_new_composition_queries_have_no_cartesian(spark, sf_dir):
    """The newest composition queries must stay bucketed/bounded: no
    CartesianProduct and no broadcast nested loop EXCEPT the deliberate
    1-row scalar broadcasts (market-basket order count, PMI totals)."""
    from polars_quant_spark.plans.inspect import plan_str

    for name in ("rel_market_basket", "doc_hybrid_search", "doc_bigram_pmi"):
        p = plan_str(QUERIES[name](spark, sf_dir))
        assert "CartesianProduct" not in p, name
    # the pair joins themselves must be hash joins on real keys
    p = plan_str(QUERIES["rel_market_basket"](spark, sf_dir))
    assert "SortMergeJoin" in p or "ShuffledHashJoin" in p or "BroadcastHashJoin" in p


def test_moment_queries_single_shuffle(spark, sf_dir):
    """The quantized-moment aggregates (range vol, skew/kurt, variance
    ratio) must be one hash-aggregate pass: at most one hash exchange on
    symbol (the window queries reuse it for the groupBy) plus the final
    rangepartitioning for orderBy — and no joins at all."""
    from polars_quant_spark.plans.inspect import n_exchanges, plan_str

    for name in ("bars_range_vol", "bars_moment_stats", "bars_variance_ratio"):
        df = QUERIES[name](spark, sf_dir)
        p = plan_str(df)
        assert "Join" not in p, name
        assert n_exchanges(df) <= 2, (name, p[:2000])


def test_round2_additions_plan_hygiene(spark, sf_dir):
    """Newest analytics queries: no unbounded cartesians (broadcast
    1-row/scalar fan-outs are the only nested-loop joins allowed), and the
    single-scan aggregates stay join-free."""
    from polars_quant_spark.plans.inspect import plan_str

    for name in (
        "bars_updown_beta",
        "bars_rolling_corr",
        "bars_pairs_adf",
        "rel_brand_robust_stats",
        "events_peak_concurrency",
        "events_survival_curve",
        "events_value_psi",
        "events_ab_test",
        "emb_label_centroids",
        "bt_permutation_pvalue",
    ):
        p = plan_str(QUERIES[name](spark, sf_dir))
        assert "CartesianProduct" not in p, name
    # pure single-aggregate queries must not contain any join at all
    for name in ("bars_range_vol", "bars_hurst", "events_k_anonymity", "doc_char_entropy"):
        p = plan_str(QUERIES[name](spark, sf_dir))
        assert "Join" not in p, name


def test_round2_wave2_plan_hygiene(spark, sf_dir):
    """Second wave: statistical tests, CF, sampling, SCD-2 — bounded
    plans only (scalar broadcasts allowed, no CartesianProduct)."""
    from polars_quant_spark.plans.inspect import plan_str

    for name in (
        "events_ks_test",
        "events_mannwhitney",
        "events_chi2_independence",
        "events_benford",
        "bars_ljung_box",
        "bars_two_asset_frontier",
        "rel_item_cf",
        "doc_weighted_sample",
        "rel_scd2_asof",
        "events_multitouch_attribution",
        "doc_incremental_dedup",
        "doc_bigram_perplexity",
        "emb_pca_power",
        "doc_lsh_recall",
    ):
        p = plan_str(QUERIES[name](spark, sf_dir))
        assert "CartesianProduct" not in p, name
    # runs test / moment ladders stay join-free
    for name in ("bars_runs_test", "doc_readability", "doc_tokenizer_fertility"):
        p = plan_str(QUERIES[name](spark, sf_dir))
        assert "Join" not in p, name


def test_round2_wave3_plan_hygiene(spark, sf_dir):
    """Third wave: sketches, survival, migration, microstructure —
    bounded plans (scalar broadcasts only), no cartesians."""
    from polars_quant_spark.plans.inspect import plan_str

    for name in (
        "events_hll_distinct",
        "doc_bloom_filter",
        "events_kaplan_meier",
        "events_decile_migration",
        "events_power_calc",
        "events_mix_shift",
        "rel_abc_analysis",
        "events_lateness_profile",
        "emb_hubness",
        "emb_dim_profile",
        "bars_volume_bars",
        "events_cusum",
        "ops_partition_planner",
    ):
        p = plan_str(QUERIES[name](spark, sf_dir))
        assert "CartesianProduct" not in p, name
    for name in ("bars_roll_spread", "bars_gap_fill", "bars_weekday_effect",
                 "ind_parkinson_20", "ind_breakout_efficacy", "bars_kyle_lambda"):
        p = plan_str(QUERIES[name](spark, sf_dir))
        assert "Join" not in p, name


def test_kmeans_training_has_no_posexplode_and_samples(spark, sf_dir):
    """Lloyd's training must never explode the corpus: the per-round stats
    come from one fused mapInArrow pass over the md5-prefix SAMPLE, so the
    plan has no Generate (posexplode) node, exactly one exchange (the k·d
    partial merge), and a sample filter between scan and kernel
    (VERDICT r2 'what's wrong' #1)."""
    from polars_quant_spark.operators import similarity as sim
    from polars_quant_spark.plans.inspect import n_exchanges, plan_str

    emb = load_table(spark, sf_dir, "embeddings")
    train = sim.train_sample(emb)
    cents = [(i, [float(i == d) for d in range(64)]) for i in range(4)]
    stats = (
        sim._train_stats(train, cents, "embedding")
        .groupBy("bucket", "dim")
        .agg(F.sum(F.col("s").cast("decimal(38,0)")).alias("s"), F.sum("n").alias("n"))
    )
    p = plan_str(stats)
    assert "Generate" not in p  # no posexplode of the corpus
    assert n_exchanges(stats) == 1  # only the k·d-row partial merge
    # the sample predicate sits under the kernel, before any shuffle
    assert "md5" in p and "Filter" in p


def test_promoted_recurrence_compositions_stay_one_pass(spark, sf_dir):
    """The round-7 library promotions that compose recurrence kernels
    (keltner: EMA+ATR; tsi: four chained EMAs; mass_index: EMA-of-EMA;
    elder_ray: one EMA) must each plan as exactly ONE grouped-kernel node
    — adding kernels costs numpy time inside the pass, never a second
    Arrow round-trip or shuffle."""
    import re

    from polars_quant_spark.functions.momentum import tsi
    from polars_quant_spark.functions.trend import elder_ray, keltner, mass_index

    b = bars(spark, sf_dir)
    for name, df in [
        ("keltner", keltner(b)),
        ("tsi", tsi(b)),
        ("mass_index", mass_index(b)),
        ("elder_ray", elder_ray(b)),
    ]:
        p = plan(df)
        n = len(re.findall(r"\(\d+\) FlatMapGroupsIn(?:Pandas|Arrow)", p))
        assert n == 1, f"{name}: {n} applyInPandas passes (want 1)"
        assert n_exchanges(p) <= 2, f"{name}: too many exchanges"


def test_bootstrap_never_broadcasts_the_probe_fanout(spark, sf_dir):
    """Both sides of the bootstrap's probes↔prefix join scale with the
    data, but the probes side descends from a symbols-sized aggregate
    through three explodes, so Catalyst's size estimate stays tiny and
    (without the hint) the planner broadcasts what is actually the bigger
    side — caught OOMing at the 64× scale smoke. The join must stay
    sort-merge at every SF."""
    from polars_quant_spark.backtest.bootstrap import bootstrap_bands
    from polars_quant_spark.sources.bars import bars

    p = plan(bootstrap_bands(bars(spark, sf_dir), paths=8, block=16))
    assert "SortMergeJoin" in p
    assert "BroadcastHashJoin" not in p


def test_forced_broadcast_ratchet():
    """Source-level net over the WHOLE package (VERDICT r7 #1): every
    forced-broadcast site is pinned in docs/broadcast_ratchet.json with a
    written triage in docs/BROADCAST_TRIAGE.md. Any new site, any count
    increase, or any stale entry fails here — a new F.broadcast anywhere in
    polars_quant_spark/ forces a deliberate triage + regeneration
    (python tools/broadcast_ratchet.py --write). This net has no module
    gaps and no lineage blind spot (it reads source, not plans), closing
    the hole that let pagerank's forced degree broadcast survive r7."""
    import json

    from tools.broadcast_ratchet import SNAPSHOT, inventory

    frozen = json.load(open(SNAPSHOT))
    inv = inventory()
    new = sorted(k for k in inv if k not in frozen)
    grew = sorted(k for k in inv if k in frozen and inv[k] > frozen[k])
    gone = sorted(k for k in frozen if inv.get(k, 0) < frozen[k])
    assert not new, f"untriaged forced-broadcast sites: {new}"
    assert not grew, f"forced-broadcast count grew at: {grew}"
    assert not gone, f"stale ratchet entries (regenerate): {gone}"


def test_broadcast_ratchet_visitor_catches_every_spelling():
    """The ratchet's AST net must see all three broadcast spellings —
    F.broadcast(df), df.hint('broadcast'), and the bare broadcast(df) via
    `from pyspark.sql.functions import broadcast` (the round-10 advisor
    found the last one invisible: an idiomatic import would have silently
    bypassed the ratchet)."""
    import ast as _ast

    from tools.broadcast_ratchet import _Visitor

    src = (
        "from pyspark.sql.functions import broadcast\n"
        "from pyspark.sql.functions import broadcast as bcast\n"
        "def f(df, dim):\n"
        "    a = df.join(F.broadcast(dim), 'k')\n"
        "    b = df.join(dim.hint('broadcast'), 'k')\n"
        "    c = df.join(broadcast(dim), 'k')\n"
        "    d = df.join(bcast(dim), 'k')\n"
    )
    v = _Visitor()
    v.visit(_ast.parse(src))
    assert v.sites == [("f", "dim")] * 4


def test_pagerank_loop_carries_no_forced_broadcast(spark):
    """The power-iteration loop must not hint-broadcast anything that
    scales with the graph: the per-node degree frame is folded into the
    checkpointed edge list once, and the only remaining hints are the
    one-row n_nodes scalar (1 init + 1 per iteration). Mirrors
    test_bootstrap_never_broadcasts_the_probe_fanout — this shape escaped
    the r7 plan audit because localCheckpoint truncates lineage."""
    import re as _re

    from polars_quant_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d")], ["src", "dst"]
    )
    iters = 3
    p = plan(pagerank(edges, iters=iters), mode="extended")
    # hints are visible pre-optimization; count them in the analyzed
    # section only (extended mode prints several plan renderings)
    analyzed = p.split("== Analyzed Logical Plan ==")[1].split(
        "== Optimized Logical Plan =="
    )[0]
    hints = _re.findall(r"ResolvedHint \(strategy=broadcast\)", analyzed)
    assert len(hints) == iters + 1, (
        f"{len(hints)} broadcast hints in the pagerank plan (want "
        f"{iters + 1}: the one-row n_nodes scalar only)"
    )


def test_riskstats_exchange_counts(spark, sf_dir):
    """The round-8 promotions keep their query-local plan shapes: one
    per-key exchange for the single-pass stats; rolling_beta adds the
    per-t market collapse + the join back (3 total, no forced broadcast
    anywhere — the per-t frame is AQE-decided)."""
    from polars_quant_spark.functions import riskstats as rs

    b = bars(spark, sf_dir)
    assert n_exchanges(plan(rs.sortino(b))) == 1
    assert n_exchanges(plan(rs.variance_ratio(b))) == 1
    assert n_exchanges(plan(rs.hurst(b))) == 1
    assert n_exchanges(plan(rs.rolling_beta(b))) == 3


def test_lsh_pipelines_never_broadcast_explode_derived_sides(spark, sf_dir):
    """Round-8 regression lock: the LSH/SimHash/n-gram pipelines' corpus-
    scaled joins are merge-pinned because their explode-derived sides keep
    a tiny size ESTIMATE at any corpus size — the static planner would
    broadcast them, AQE rescues only AQE-full paths, and the AQE-less
    compilations (localCheckpoint/.rdd in the iterative graph ops,
    persist's cached plan) build the broadcast for real (doc_pagerank
    OOM'd the driver at the 64× smoke). Uses the audit tool's signature:
    no BroadcastExchange may sit above a Generate in these plans."""
    from tools.audit_broadcast_explode import broadcast_explode_sites

    from polars_quant_spark.operators import dedup

    docs = load_table(spark, sf_dir, "documents")
    # Pinned per-pipeline triage counts. The n-gram/containment pipelines
    # legitimately keep EXACTLY TWO broadcast-above-explode sites: the
    # FORCED skew-cap anti-join (big/hot — an aggregate that collapses the
    # explode to the bounded over-cap set), duplicated across the
    # self-join's two sides. MinHash keeps ONE since round 13: its banded
    # self-join was replaced by bucket-grouped pair explosion (the cap
    # anti-join appears once, pair generation is agg+explode, no join).
    # The SimHash pipelines keep ZERO (their per-doc hash join is
    # merge-pinned; writing this test caught it broadcasting the
    # one-row-per-doc frame). A count above the pin means a corpus-scaled
    # frame lost its merge pin; below means the skew cap itself changed —
    # retriage either way.
    for name, df, expect in [
        ("minhash_dedup_pairs", dedup.minhash_dedup_pairs(docs, threshold=0.5), 1),
        # containment shares minhash's candidate generation -> also 1
        ("containment_pairs", dedup.containment_pairs(docs, threshold=0.5), 1),
        ("simhash_near_dupes", dedup.simhash_near_dupes(docs), 0),
        ("simhash_df", dedup.simhash_df(docs), 0),
        ("ngram_jaccard_pairs", dedup.ngram_jaccard_pairs(docs, threshold=0.5), 2),
        # round-10: delete-one-key blocking — same shape as the shingle
        # pipelines (key explode → forced skew-cap anti-join on both
        # self-join sides → merge-pinned pair + name joins)
        ("token_edit_pairs", dedup.token_edit_pairs(docs), 2),
    ]:
        p = df._jdf.queryExecution().executedPlan().toString()
        sites = [s for s in broadcast_explode_sites(p) if s.startswith("[explode]")]
        assert len(sites) == expect, (
            f"{name}: {len(sites)} broadcast-above-explode sites "
            f"(triaged: {expect}): {sites[:3]}"
        )
        assert "SortMergeJoin" in p, f"{name}: expected merge-pinned joins"


def test_rp_lsh_topk_plan_hygiene(spark, sf_dir):
    """The train-free LSH path must join corpus↔probes on the bucket key
    (equi join — never a cartesian/NL pair product), and the signature
    frame (one row per vector but posexplode-descended, so tiny size
    estimate) must stay merge-pinned against the corpus."""
    from polars_quant_spark.operators import similarity

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.limit(4).select(F.col("vec_id").alias("query_id"), "embedding")
    p = plan(similarity.rp_lsh_topk(emb, queries, k=5, planes=6))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "SortMergeJoin" in p  # the merge-pinned corpus↔signature join


def test_segmented_seed_joins_are_merge_pinned_at_source():
    """Every continuation-seed (and totals) join in operators/segmented.py
    compiles inside a checkpoint-truncated subtree where AQE cannot demote
    a bad static broadcast, and the joined frame descends from a Python
    UDF (estimate-poisoned) — so each MUST carry the merge hint at the
    source (the r8 landmine contract). Plan-level assertion is not
    possible from outside: the per-pass joins hide behind InMemoryRelation
    display collapse, so this pins the invariant at the source level, the
    same net as test_forced_broadcast_ratchet.

    Every segmented operator runs through the one pass driver, so "every
    operator pins its seed join" is: exactly one grouped-kernel call and
    exactly one seed join in the module, and that join is merge-hinted.
    None of the grouped-kernel modules keeps an applyInPandas arm."""
    import os
    import re

    pkg = os.path.join(os.path.dirname(__file__), "..", "polars_quant_spark")

    def source(*parts):
        with open(os.path.join(pkg, *parts)) as fh:
            return fh.read()

    src = source("operators", "segmented.py")
    assert src.count(".applyInArrow(") == 1
    seed_joins = re.findall(r"\.join\(\s*seeds_df[^,]*", src)
    assert seed_joins == ['.join(seeds_df.hint("merge")'], seed_joins
    # the totals join must be hint-pinned too
    # ((?!\.hint) = a bare frame reference with no hint call)
    assert not re.search(r"\.join\(\s*totals(?!\.hint)", src)
    assert 'totals.hint("merge")' in src
    for parts in (
        ("operators", "segmented.py"),
        ("operators", "recurrence.py"),
        ("backtest", "vectorized.py"),
        ("backtest", "margin.py"),
    ):
        assert ".applyInPandas(" not in source(*parts), parts


def test_driver_jvm_runs_with_the_jit_flags(spark):
    """The driver JVM the session runs in was started with every flag of
    ``session._DRIVER_JIT_OPTIONS`` (``get_spark`` passes them through
    ``spark.driver.defaultJavaOptions``)."""
    from polars_quant_spark.session import _DRIVER_JIT_OPTIONS

    mf = spark._jvm.java.lang.management.ManagementFactory
    args = set(mf.getRuntimeMXBean().getInputArguments())
    assert _DRIVER_JIT_OPTIONS and set(_DRIVER_JIT_OPTIONS) <= args, sorted(args)


def test_warm_rebuild_compiles_no_class(spark):
    """A warm job compiles nothing: building and running the same plans a
    second time must find every generated class in Spark's codegen cache.
    Two things broke this: the default 100-entry cache (a 4-segment LRU
    that evicts at ~25 classes per segment, fewer than one job's working
    set; session.get_spark sizes it to 1024), and a per-call LIMIT in
    connected_components' convergence probe, whose counter name is unique
    per plan so its class never hits the cache. The three frames together
    generate more classes than one default-cache segment holds."""
    import numpy as np
    import pandas as pd

    from polars_quant_spark.backtest.vectorized import vectorized_backtest
    from polars_quant_spark.operators import dedup
    from polars_quant_spark.operators.recurrence import Rec, with_recurrences
    from polars_quant_spark.operators.segmented import indicator_family_segmented

    rng = np.random.default_rng(3)
    n = 120
    close = 100.0 + np.cumsum(rng.normal(0, 1, 2 * n))
    bars_pdf = pd.DataFrame(
        {
            "symbol": ["A"] * n + ["B"] * n,
            "t": np.tile(np.arange(n), 2),
            "close": close,
            "high": close * 1.01,
            "low": close * 0.99,
        }
    )
    edges_pdf = pd.DataFrame({"id_a": [1, 2, 3, 7, 10], "id_b": [2, 3, 4, 8, 11]})

    def run_all() -> None:
        b = spark.createDataFrame(bars_pdf)
        sig = with_recurrences(b, [Rec("e", "ema", ["close"], {"p": 10})])
        sig = sig.withColumn("buy", F.col("close") > F.col("e")).withColumn(
            "sell", F.col("close") < F.col("e")
        )
        vectorized_backtest(sig).collect()
        # n rows per symbol at n // 2 rows per segment: 2 segments
        indicator_family_segmented(b, segment_rows=n // 2).collect()
        dedup.connected_components(spark.createDataFrame(edges_pdf)).collect()

    compiled = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    run_all()
    before = compiled.getCount()
    run_all()
    assert compiled.getCount() - before == 0
