"""Physical-plan regression tests: pushdown, broadcast, shuffle counts.

These inspect the optimized/physical plan text, not results — the
properties that decide the cluster bill at 100 TB: does the parquet
scan receive the filters and the pruned schema, do small dimensions
broadcast, and does a stack of window operators reuse ONE entity
shuffle instead of one per operator.
"""
from __future__ import annotations

import re

import pytest

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def plan_str(df, mode: str = "formatted") -> str:
    """The explain text as a string (what df.explain(mode) prints)."""
    jvm = df.sparkSession._jvm
    return jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), mode)


def n_exchanges(df) -> int:
    """Number of shuffle exchanges in the physical plan (excludes
    broadcast exchanges and AQE re-used ones)."""
    txt = plan_str(df, "simple")
    return len(re.findall(r"Exchange (?:hash|range)partitioning", txt))


def test_scan_pushdown_and_pruning(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    q = (li.filter(F.col("l_quantity") < 24)
           .select("l_orderkey", "l_quantity"))
    txt = plan_str(q)
    assert "PushedFilters" in txt and "l_quantity" in txt.split(
        "PushedFilters", 1)[1].split("\n", 1)[0]
    read_schema = re.search(r"ReadSchema: struct<([^>]*)>", txt).group(1)
    cols = {c.split(":")[0] for c in read_schema.split(",") if c}
    assert cols == {"l_orderkey", "l_quantity"}, read_schema


def test_small_dim_joins_broadcast(spark):
    import __spark_entry__ as se
    q = se.q_broadcast_join_agg(spark, SF)
    txt = plan_str(q, "simple")
    assert txt.count("BroadcastHashJoin") == 2
    assert "SortMergeJoin" not in txt


def test_window_stack_single_shuffle(spark):
    """sessionize + lags + rolling on one entity clustering must cost
    exactly one hash shuffle of the input."""
    from hiselspark.operators.windows import (rolling_aggregates,
                                              sessionize, with_lags)
    ev = spark.read.parquet(f"{SF}/events.parquet")
    out = sessionize(ev, "user_id", "ts")
    out = with_lags(out, "user_id", "ts", ["value"], lags=(1, 2))
    out = rolling_aggregates(out, "user_id", "ts", {"value": ["mean"]},
                             window_seconds=3600.0)
    assert n_exchanges(out) == 1, plan_str(out, "simple")


def test_asof_join_single_shuffle(spark):
    """The union+running-last as-of join is ONE shuffle on the entity
    key (the union of both sides shuffles once)."""
    from hiselspark.operators.asof import asof_join
    ev = spark.read.parquet(f"{SF}/events.parquet")
    labels = ev.select("user_id", "ts", "event_id")
    feats = ev.select("user_id", "ts", F.col("value").alias("v"))
    out = asof_join(labels, feats, on="user_id", left_ts="ts",
                    right_ts="ts", value_cols=["v"])
    assert n_exchanges(out) == 1, plan_str(out, "simple")


def test_interval_join_is_equi_join(spark):
    """The bucketized interval join plans as a hash/sort-merge EQUI
    join (join keys present), not a cartesian/broadcast-nested-loop."""
    from hiselspark.operators.interval_join import interval_join
    ev = spark.read.parquet(f"{SF}/events.parquet")
    left = ev.select("user_id", "ts", "event_id")
    right = ev.select("user_id", "ts", F.col("value").alias("v"))
    out = interval_join(left, right, on="user_id",
                        lo_seconds=-3600.0, hi_seconds=0.0,
                        value_cols=["v"])
    txt = plan_str(out, "simple")
    assert "CartesianProduct" not in txt
    assert "BroadcastNestedLoopJoin" not in txt


def test_tpch_q1_partial_aggregation(spark):
    import __spark_entry__ as se
    txt = plan_str(se.q_tpch_q1(spark, SF), "simple")
    # map-side combine: a partial_sum before the exchange
    assert "partial_sum" in txt or "HashAggregate" in txt
    assert txt.count("Exchange hashpartitioning") <= 2  # agg + orderBy


def test_flagship_hash_mode_plan_no_global_sort(spark):
    """The production (hash-mode) batching the flagship entry runs must
    contain NO global sort or single-partition exchange: one hash
    shuffle on the minibatch key; the per-minibatch blocks are then
    collected and summed on the driver.  (The old parity path planned
    a rangepartitioning Sort for the global row_number — the
    scale-killer this test pins against.)  Checked on the block frame
    the selector itself collects."""
    from hiselspark.selection import SparkHSICSelector
    from tools.codegen_fallbacks import recorded_actions

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    wide = emb.select(
        "vec_id",
        F.col("label").cast("double").alias("y"),
        *[F.col("embedding")[i].cast("double").alias(f"e{i}")
          for i in range(8)])
    cols = [f"e{i}" for i in range(8)]
    with recorded_actions() as frames:
        SparkHSICSelector(wide, cols, ["y"]).sufficient_stats(
            minibatch_size=100, order_col="vec_id")
    blocks = [f for f in frames if "FlatMapGroupsInPandas"
              in plan_str(f, "simple")]
    assert len(blocks) == 1, len(frames)
    txt = plan_str(blocks[0], "simple").split("== Initial Plan ==")[0]
    assert "rangepartitioning" not in txt, txt
    assert "SinglePartition" not in txt, txt
    assert txt.count("Exchange hashpartitioning") == 1, txt
    assert "Exchange hashpartitioning(__mb" in txt, txt


def test_hash_mode_epochs_augment_batches(spark):
    """epochs=2 in hash mode must consume ~2n rows (each row lands in
    two per-epoch minibatch groupings) and keep the planted ranking."""
    import numpy as np
    import pandas as pd
    rng = np.random.default_rng(4)
    n = 600
    x0 = rng.normal(size=n)
    pdf = pd.DataFrame({
        "x0": x0, "x1": rng.normal(size=n), "x2": rng.normal(size=n),
        "y": x0 * 2.0 + 0.1 * rng.normal(size=n),
    })
    from hiselspark.selection import SparkHSICSelector
    df = spark.createDataFrame(pdf).repartition(4)
    sel = SparkHSICSelector(df, ["x0", "x1", "x2"], ["y"])
    r1 = sel.run(number_of_features=1, minibatch_size=100, mode="hash")
    r2 = sel.run(number_of_features=1, minibatch_size=100, mode="hash",
                 epochs=2)
    assert r1.features == ["x0"] and r2.features == ["x0"]
    assert r2.n_rows_used >= int(1.9 * r1.n_rows_used)
    assert r2.n_minibatches >= 2 * r1.n_minibatches - 2


def test_bucketed_join_no_shuffle(spark, tmp_path):
    """A join of two tables bucketed on the join key with equal bucket
    counts must show ZERO shuffle exchanges — the bucketed layout paid
    the shuffle once at write time (the 100-TB lever for repeated
    fact-fact joins)."""
    from hiselspark.sources.bucketed import write_bucketed
    ev = spark.read.parquet(f"{SF}/events.parquet")
    facts = ev.select("event_id", "user_id", "value")
    dims = (ev.groupBy("user_id")
              .agg(F.count("*").alias("user_n")))
    spark.sql("DROP TABLE IF EXISTS bkt_facts")
    spark.sql("DROP TABLE IF EXISTS bkt_dims")
    write_bucketed(facts, "bkt_facts", ["user_id"], 8,
                   path=str(tmp_path / "facts"))
    write_bucketed(dims, "bkt_dims", ["user_id"], 8,
                   path=str(tmp_path / "dims"))
    j = (spark.table("bkt_facts")
         .join(spark.table("bkt_dims").hint("merge"), "user_id")
         .groupBy("user_n").agg(F.count("*").alias("n")))
    assert n_exchanges(j) <= 1, plan_str(j, "simple")
    # the join itself must not shuffle either side: in physical-plan
    # text the join's children print BELOW the SortMergeJoin line, so
    # any join-side Exchange would appear in the [1] half
    txt = plan_str(j, "simple")
    join_children = txt.split("SortMergeJoin", 1)[1]
    assert "Exchange hashpartitioning(user_id" not in join_children, txt
    # results equal the plain (shuffling) join
    plain = (facts.join(dims, "user_id")
             .groupBy("user_n").agg(F.count("*").alias("n")))
    assert sorted(map(tuple, j.collect())) == \
        sorted(map(tuple, plain.collect()))
    spark.sql("DROP TABLE IF EXISTS bkt_facts")
    spark.sql("DROP TABLE IF EXISTS bkt_dims")


def test_curation_operators_plan_shapes(spark):
    """The corpus-curation operators keep their promised shuffle
    budgets: sampling/PII are map-only (zero exchanges), packing costs
    exactly ONE shuffle and its manifest piggybacks on it (grouping on
    (stream, seq) is satisfied by the stream partitioning), quota uses
    its two-level rank, and the token-budget dmin join broadcasts."""
    from hiselspark.operators.packing import (pack_sequences,
                                              sequence_manifest)
    from hiselspark.operators.pii import with_pii
    from hiselspark.operators.repetition import repetition_stats
    from hiselspark.operators.sampling import (hash_sample,
                                               quota_sample,
                                               token_budget_sample)
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    assert n_exchanges(hash_sample(docs, 0.3)) == 0
    assert n_exchanges(with_pii(docs)) == 0
    seg = pack_sequences(docs, seq_len=128, n_streams=4)
    assert n_exchanges(seg) == 1, plan_str(seg, "simple")
    man = sequence_manifest(pack_sequences(docs, seq_len=128,
                                           n_streams=4))
    assert n_exchanges(man) == 1, plan_str(man, "simple")
    assert n_exchanges(quota_sample(docs, "source", 10)) == 2
    tb = token_budget_sample(docs, "source", 500)
    txt = plan_str(tb, "simple")
    # the per-group minimal-dropped-priority side joins as a broadcast
    assert "BroadcastHashJoin" in txt, txt
    assert "SortMergeJoin" not in txt, txt
    assert n_exchanges(tb) <= 4, txt
    assert n_exchanges(repetition_stats(docs)) <= 4


def test_pit_encodings_share_one_shuffle(spark):
    """target + count encoding stack into ONE category-key exchange:
    both windows cluster by the same key, so at corpus scale the pair
    costs a single shuffle, not one per encoding."""
    from hiselspark.operators.encoding import (count_encode_pit,
                                               target_encode_pit)
    ev = spark.read.parquet(f"{SF}/events.parquet")
    out = target_encode_pit(ev, "event_type", "value",
                            prior=1.0, smoothing=2.0)
    out = count_encode_pit(out, "event_type")
    assert n_exchanges(out) == 1, plan_str(out, "simple")


def test_timeline_ops_share_one_shuffle(spark):
    """rolling_corr (range window over six sums) + ewma (row window)
    on the same entity key reuse ONE entity exchange; Catalyst
    collapses the six sufficient sums into a single WindowExec."""
    from hiselspark.operators.windows import ewma, rolling_corr
    ev = (spark.read.parquet(f"{SF}/events.parquet")
          .withColumn("cents", F.round(F.col("value") * 100).cast("long"))
          .withColumn("k", F.get_json_object("props", "$.k").cast("long")))
    out = rolling_corr(ev, "user_id", "ts", "cents", "k", 86400.0)
    out = ewma(out, "user_id", "ts", "cents", tie_cols=("event_id",))
    assert n_exchanges(out) == 1, plan_str(out, "simple")
    # one WindowExec per distinct (order, frame), not per aggregate
    assert plan_str(out, "simple").count("Window") == 2


def test_resample_plan_has_no_driver_loop_or_cartesian(spark):
    """grid generation is sequence/explode over the bounds aggregate —
    no BroadcastNestedLoopJoin / CartesianProduct, bounded exchanges."""
    from hiselspark.operators.resample import resample_ffill
    ev = (spark.read.parquet(f"{SF}/events.parquet")
          .withColumn("cents", F.round(F.col("value") * 100).cast("long")))
    out = resample_ffill(ev, "user_id", "ts", 21600, ["cents"],
                         tie_col="event_id")
    txt = plan_str(out, "simple")
    assert "CartesianProduct" not in txt
    assert "BroadcastNestedLoopJoin" not in txt
    assert n_exchanges(out) <= 3, txt


def test_new_rolling_family_shares_one_shuffle(spark):
    """rolling_slope + rolling_moments + rolling_twap + time_since_event
    + horizon_lag stacked on one entity key still cost exactly ONE
    full-frame hash exchange; the range-frame sufficient sums collapse
    into shared WindowExecs."""
    from hiselspark.operators.windows import (horizon_lag,
                                              rolling_moments,
                                              rolling_slope,
                                              rolling_twap,
                                              time_since_event)
    ev = (spark.read.parquet(f"{SF}/events.parquet")
          .withColumn("cents", F.round(F.col("value") * 100).cast("long")))
    out = rolling_slope(ev, "user_id", "ts", "cents", 86400.0)
    out = rolling_moments(out, "user_id", "ts", "cents", 86400.0)
    out = rolling_twap(out, "user_id", "ts", "cents", 86400.0, "event_id")
    out = time_since_event(out, "user_id", "ts",
                           F.col("event_type") == "error", "event_id")
    out = horizon_lag(out, "user_id", "ts", "cents", 3600.0, "event_id")
    assert n_exchanges(out) == 1, plan_str(out, "simple")


def test_cross_sectional_never_sorts_full_frame(spark):
    """cross_sectional_features must rank via the aggregate-then-join
    plan: the only Sort allowed on the FULL frame is none — sorts may
    appear on the (bucket, value) aggregate only (cardinality =
    distinct values), and the join back must be an equi-join, no
    cartesian/nested-loop."""
    from hiselspark.operators.windows import cross_sectional_features
    ev = (spark.read.parquet(f"{SF}/events.parquet")
          .withColumn("cents", F.round(F.col("value") * 100).cast("long")))
    out = cross_sectional_features(ev, "ts", "cents", bucket="day")
    txt = plan_str(out, "simple")
    assert "CartesianProduct" not in txt
    assert "BroadcastNestedLoopJoin" not in txt
    # every Sort node must sit above the aggregated (bucket, value)
    # frame, i.e. below it there is a HashAggregate, not the raw scan
    for frag in txt.split("Sort ")[1:]:
        assert "HashAggregate" in frag, txt


def test_asof_join_multi_single_shuffle_single_window(spark):
    """K feature tables enrich the label stream in ONE entity-hash
    shuffle and ONE WindowExec: all K running last() aggregates share
    the same partitioning and ordering, so Catalyst fuses them."""
    from hiselspark.operators.asof import asof_join_multi
    ev = spark.read.parquet(f"{SF}/events.parquet")
    labels = ev.select("user_id", "ts", "event_id")
    t1 = ev.select("user_id", "ts", F.col("value").alias("a"))
    t2 = ev.select("user_id", "ts", F.col("value").alias("b"))
    t3 = ev.select("user_id", "ts", F.col("value").alias("c"))
    out = asof_join_multi(labels, {"x": t1, "y": t2, "z": t3},
                          on="user_id", left_ts="ts", right_ts="ts")
    assert n_exchanges(out) == 1, plan_str(out, "simple")
    assert plan_str(out, "simple").count("Window") == 1


def test_new_window_family_shares_one_shuffle(spark):
    """rank/MAD/drawdown/CUSUM/seasonal compose on entity clusterings
    and must reuse ONE entity shuffle — including seasonal_baseline,
    whose (entity, phase) clustering is satisfied by the entity-only
    hash partitioning (Spark's subset-cluster-keys rule)."""
    from hiselspark.operators.windows import (cusum, rolling_mad,
                                              rolling_rank,
                                              running_drawdown,
                                              seasonal_baseline)
    ev = spark.read.parquet(f"{SF}/events.parquet")
    out = rolling_rank(ev, "user_id", "ts", "value", 3600.0)
    out = rolling_mad(out, "user_id", "ts", "value", 3600.0)
    out = running_drawdown(out, "user_id", "ts", "value",
                           tiebreak=("event_id",))
    out = cusum(out, "user_id", "ts", "value", target=10.0,
                tiebreak=("event_id",))
    assert n_exchanges(out) == 1, plan_str(out, "simple")
    out = seasonal_baseline(out, "user_id", "ts", "value")
    assert n_exchanges(out) == 1, plan_str(out, "simple")


def test_ohlc_single_shuffle(spark):
    """The two row_number windows and the final groupBy of ohlc_bars
    must share one (entity, bar) hash partitioning."""
    from hiselspark.operators.resample import ohlc_bars
    ev = spark.read.parquet(f"{SF}/events.parquet")
    out = ohlc_bars(ev, "user_id", "ts", "value", 86400,
                    tiebreak=("event_id",))
    assert n_exchanges(out) == 1, plan_str(out, "simple")


def test_corr_matrix_is_one_reduction(spark):
    """All pairwise sufficient statistics reduce in a single partial
    aggregation — no shuffle of data rows, no per-pair passes."""
    from hiselspark.operators.profile import corr_matrix
    li = (spark.read.parquet(f"{SF}/lineitem.parquet")
          .select(F.round("l_quantity").cast("long").alias("a"),
                  F.round("l_extendedprice").cast("long").alias("b"),
                  F.round(F.col("l_discount") * 10000).cast("long")
                   .alias("c")))
    out = corr_matrix(li, ["a", "b", "c"])
    txt = plan_str(out, "simple")
    assert "Exchange hashpartitioning" not in txt
    # single-partition exchange for the global agg is fine; the scan
    # must appear once per union branch at most — partial aggregation
    assert "HashAggregate" in txt


def test_pca_fit_plan_is_map_only(spark):
    """pca_fit's sufficient-stats pass must not shuffle embedding
    rows: mapInPandas straight over the scan."""
    from hiselspark.operators.projection import _PARTIAL_SCHEMA, _partials
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    part = (emb.select("embedding")
               .mapInPandas(_partials("embedding", 10**6),
                            _PARTIAL_SCHEMA))
    txt = plan_str(part, "simple")
    assert "Exchange" not in txt, txt


def test_tpch_q5_broadcasts_dims(spark):
    """The 6-table Q5 star join must broadcast the small sides (region,
    nation, and — at AQE's discretion — customer/supplier), never
    cross-join, and push the date window to the orders scan."""
    import __spark_entry__ as se
    q = se.q_tpch_q5(spark, SF)
    txt = plan_str(q, "simple")
    assert txt.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in txt
    full = plan_str(q)
    assert "o_orderdate" in full.split("PushedFilters", 2)[-1].split(
        "\n", 1)[0] or "o_orderdate" in full  # window reaches a scan
    # values sanity: revenue positive for every nation row
    rows = q.collect()
    assert len(rows) >= 1  # tiny sf0.001: few nations survive
    assert all(r["revenue_e6"] > 0 and r["n_items"] > 0 for r in rows)


def test_count_table_family_one_data_shuffle(spark):
    """AUC / KS / rank-normalize reduce the data to a distinct-value
    count table: the DATA rows must cross exactly one hash exchange
    (the groupBy); the ordered scan runs on the bounded count table,
    and rank_normalize adds only the value-keyed join back."""
    from hiselspark.operators.evaluate import binary_auc
    from hiselspark.operators.drift import ks_statistic
    ev = spark.read.parquet(f"{SF}/events.parquet")
    scored = (ev.withColumn("score",
                            F.round(F.col("value") * 10).cast("long"))
                .withColumn("lbl", (F.col("value") > 10).cast("long")))
    auc = binary_auc(scored, "score", "lbl")
    txt = plan_str(auc, "simple")
    assert txt.count("Exchange hashpartitioning") == 1, txt
    ks = ks_statistic(scored, "score", F.col("lbl") == 1)
    txt = plan_str(ks, "simple")
    assert txt.count("Exchange hashpartitioning") == 1, txt
    from hiselspark.operators.encoding import rank_normalize
    rn = rank_normalize(scored, "score")
    txt = plan_str(rn, "simple")
    assert "CartesianProduct" not in txt
    assert txt.count("Exchange hashpartitioning") <= 3, txt


def test_round3_entity_ops_single_shuffle(spark):
    """The round-3 per-entity operators must move the data rows
    through exactly ONE entity hash exchange: ts_profile (window +
    stacked groupBys on the subset-cluster-keys rule), attribution
    (RANGE-framed window), changepoint (prefix-sum window + struct-max
    argmax), mann_kendall / theil_sen (trailing-k collect + JVM array
    folds)."""
    import __spark_entry__ as se
    for name in ("ts_profile", "attribution", "changepoint",
                 "mann_kendall", "theil_sen"):
        q = se.queries()[name](spark, SF)
        txt = plan_str(q, "simple")
        assert txt.count("Exchange hashpartitioning") == 1, (name, txt)
        assert "CartesianProduct" not in txt, name


def test_round3_rank_ops_count_table_shape(spark):
    """info_gain_rank / hsic_rank: the DATA rows cross one unpivoted
    count groupBy; every later exchange operates on the collapsed
    cell table (bounded by feature count x level grid, not rows).
    Assert the raw scan feeds exactly one exchange."""
    import __spark_entry__ as se
    for name in ("info_gain_rank", "hsic_rank"):
        q = se.queries()[name](spark, SF)
        txt = plan_str(q, "simple")
        # no cartesian blowup, and the single-partition exchange only
        # at the final (tiny) rank window
        assert "CartesianProduct" not in txt, name
        assert txt.count("Exchange SinglePartition") <= 1, (name, txt)


def test_tpch_q10_q14_plan_shape(spark):
    """Q10: date window + returnflag reach the scans, nation is
    broadcast, no cartesian. Q14: part joins broadcast, one month
    window pushed down."""
    import __spark_entry__ as se
    q10 = se.q_tpch_q10(spark, SF)
    txt = plan_str(q10, "simple")
    assert "CartesianProduct" not in txt
    assert "BroadcastHashJoin" in txt
    full = plan_str(q10)
    assert "l_returnflag" in full and "o_orderdate" in full
    rows = q10.collect()
    assert all(r["revenue_e4"] > 0 for r in rows)
    q14 = se.q_tpch_q14(spark, SF)
    txt = plan_str(q14, "simple")
    assert "BroadcastHashJoin" in txt
    r = q14.collect()[0]
    assert 0 <= r["promo_pct"] <= 100
    assert r["promo_e4"] <= r["total_e4"]


def test_ts_forecast_family_shares_one_entity_shuffle(spark):
    """acf / hampel / holt each ride ONE entity exchange: the ordered
    window (or per-entity collect) and the groupBy reuse the same
    hashpartitioning(entity)."""
    import datetime as dt
    rows = [("u%d" % (i % 5), dt.datetime(2024, 1, 1)
             + dt.timedelta(minutes=i), i, i % 97)
            for i in range(200)]
    df = spark.createDataFrame(
        rows, "e string, ts timestamp, o long, v long")
    from hiselspark.operators.tsprofile import (autocorrelation,
                                                hampel_filter,
                                                holt_linear)
    for op in (autocorrelation, hampel_filter, holt_linear):
        q = op(df, "e", "ts", "o", "v")
        assert n_exchanges(q) == 1, op.__name__
        txt = plan_str(q, "simple")
        assert "CartesianProduct" not in txt
        assert "rangepartitioning" not in txt.lower(), op.__name__


def test_spearman_and_kruskal_no_global_row_sort(spark):
    """Rank statistics come off the distinct-VALUE count table: no
    rangepartitioning (global row sort) anywhere in the plan."""
    rows = [(i, i % 50, (i * 7) % 31, "g%d" % (i % 3))
            for i in range(300)]
    df = spark.createDataFrame(rows, "id long, a long, b long, g string")
    from hiselspark.operators.rankstats import (kruskal_wallis,
                                                spearman_matrix)
    sp = spearman_matrix(df, "id", ["a", "b"])
    assert "rangepartitioning" not in plan_str(sp, "simple").lower()
    kw = kruskal_wallis(df, "g", "a")
    txt = plan_str(kw, "simple")
    assert "rangepartitioning" not in txt.lower()
    # the rank table joins back as a broadcast, not a shuffle join
    assert "BroadcastHashJoin" in txt


def test_link_prediction_no_cartesian(spark):
    rows = [(i % 40, 1000 + (i * 13) % 60) for i in range(400)]
    df = spark.createDataFrame(rows, "src long, dst long")
    from hiselspark.operators.graph import link_prediction
    q = link_prediction(df, symmetrize_input=False)
    txt = plan_str(q, "simple")
    assert "CartesianProduct" not in txt
    assert "BroadcastNestedLoopJoin" not in txt


def test_kendall_join_is_on_count_table(spark):
    """The tau-b self-join condition xa < xb is a range condition, so
    Spark picks a nested-loop join — acceptable ONLY because both
    sides are the contingency-cell table (|V| rows), never raw rows.
    The plan must show the pre-join aggregation on both sides."""
    rows = [(i % 10, (i * 3) % 7) for i in range(500)]
    df = spark.createDataFrame(rows, "x long, y long")
    from hiselspark.operators.rankstats import kendall_tau
    q = kendall_tau(df, "x", "y")
    txt = plan_str(q, "simple")
    # both join inputs are aggregates (the cell table), so the raw
    # relation is scanned exactly twice and reduced before joining
    assert txt.count("HashAggregate") >= 4


def test_prefix_join_and_item_cf_no_cartesian(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(50)
    from hiselspark.operators.cooccur import item_cf_topk
    from hiselspark.operators.dedup import prefix_similarity_join
    pj = prefix_similarity_join(docs, "doc_id", "text", 1, 2)
    txt = plan_str(pj, "simple")
    assert "CartesianProduct" not in txt
    assert "BroadcastNestedLoopJoin" not in txt
    inter = spark.createDataFrame(
        [(u, (u * 7 + i) % 12) for u in range(20) for i in range(4)],
        "u long, it long")
    cf = item_cf_topk(inter, "u", "it", k=3)
    txt2 = plan_str(cf, "simple")
    assert "CartesianProduct" not in txt2


def test_recursion_family_single_entity_exchange(spark):
    """sessionize_capped / viterbi decode ride ONE entity exchange:
    the collect_list group is the only shuffle of the score frame."""
    import datetime as dt
    rows = [("u%d" % (i % 4), dt.datetime(2024, 1, 1)
             + dt.timedelta(minutes=i), i, "A" if i % 2 else "B",
             i % 3) for i in range(120)]
    df = spark.createDataFrame(
        rows, "e string, ts timestamp, o long, st string, obs long")
    from hiselspark.operators.windows import sessionize_capped
    sc = sessionize_capped(df, "e", "ts", "o")
    assert n_exchanges(sc) == 1
    from hiselspark.operators.hmm import viterbi_decode
    vd = viterbi_decode(df, df, "e", "ts", "o", "st", "obs")
    # model training collects tiny count tables eagerly; the DECODE
    # plan itself is one exchange
    assert n_exchanges(vd) == 1
    assert "CartesianProduct" not in plan_str(vd, "simple")


def test_round3_new_ops_plan_shapes(spark):
    """Plan assertions for the round-3 additions: map-only image ops
    have ZERO exchanges; embedding_profile rides exactly its two
    declared shuffles; weighted_sample is one exchange."""
    import datetime as dt
    from hiselspark.functions.image import ssim_tiles, with_color_stats
    from hiselspark.operators.encoding import embedding_profile_pit
    from hiselspark.operators.sampling import weighted_sample
    img = spark.createDataFrame(
        [(1, bytes(192), bytes(192), 8, 8)],
        "i long, bytes_a binary, bytes_b binary, w int, h int")
    assert n_exchanges(ssim_tiles(img, "bytes_a", "bytes_b")) == 0
    one = spark.createDataFrame([(1, bytes(192), 8, 8)],
                                "i long, bytes binary, w int, h int")
    assert n_exchanges(with_color_stats(one)) == 0
    ts = dt.datetime(2024, 1, 1)
    emb = spark.createDataFrame(
        [(1, ts, 1, [1.0, 2.0])],
        "e long, ts timestamp, o long, embedding array<double>")
    prof = embedding_profile_pit(emb, "e", "ts", "o")
    assert n_exchanges(prof) == 2
    df = spark.createDataFrame([(1, 2.0, 1)], "id long, w double, g int")
    assert n_exchanges(weighted_sample(df, "w", 2, "id", "g")) == 1


def test_round4b_tpch_plan_shapes(spark):
    """The TPC-H completions must broadcast their dimension sides and
    never cross-join: q7's dual nation aliases, q8's seven-table star,
    q9's part/nation dims all arrive via BroadcastHashJoin."""
    import __spark_entry__ as se
    for name in ("q_tpch_q7", "q_tpch_q8", "q_tpch_q9"):
        q = getattr(se, name)(spark, SF)
        txt = plan_str(q, "simple")
        assert "CartesianProduct" not in txt, name
        assert txt.count("BroadcastHashJoin") >= 2, name
    # q21's per-order distinct-count rewrite must be joins, not a
    # correlated subquery turned cartesian
    q21 = se.q_tpch_q21(spark, SF)
    assert "CartesianProduct" not in plan_str(q21, "simple")


def test_weighted_hops_bounded_exchanges(spark):
    """Fixed-round Bellman-Ford: each round's table is materialized
    (localCheckpoint — the module's iterative-op convention), so the
    FINAL round's plan is one join + one min-groupBy over a leaf,
    not a union-of-unions recomputing round 0 exponentially."""
    import __spark_entry__ as se
    q = se.q_weighted_hops(spark, SF)
    txt = plan_str(q, "simple")
    assert "CartesianProduct" not in txt
    # last round only: edge prep + join repartitions + final groupBy
    assert n_exchanges(q) <= 6
    assert "Scan ExistingRDD" in txt or "LogicalRDD" in txt


def test_bleu_and_lm_no_python_udf(spark):
    """bleu_pairs / good_turing / kneser_ney are pure JVM expression
    pipelines: token/n-gram explodes and count joins, no Python UDF
    stage anywhere in the plan."""
    import __spark_entry__ as se
    for name in ("q_bleu_pairs", "q_good_turing", "q_kneser_ney"):
        q = getattr(se, name)(spark, SF)
        txt = plan_str(q, "simple")
        assert "BatchEvalPython" not in txt, name
        assert "ArrowEvalPython" not in txt, name
        assert "CartesianProduct" not in txt, name


def test_energy_distance_count_table_shape(spark):
    """energy_distance reduces the rows to the distinct-value count
    table in ONE data shuffle; the prefix windows run over that
    bounded table, and the pairwise sums never materialize pairs."""
    import __spark_entry__ as se
    q = se.q_energy_distance(spark, SF)
    txt = plan_str(q, "simple")
    assert "CartesianProduct" not in txt
    # one groupBy(value) exchange + the single-partition window over
    # the count table + final 1-row aggregate
    assert n_exchanges(q) <= 3


def test_round4c_fold_family_single_entity_exchange(spark):
    """kalman1d / croston / dickey_fuller / periodogram_power each
    ride ONE entity exchange — the per-series fold/lag is window or
    collect work on the same clustering, never a second shuffle."""
    import datetime as dt
    rows = [("u%d" % (i % 4), i, float(i % 17), i % 13)
            for i in range(200)]
    df = spark.createDataFrame(rows, "e string, o long, v double,"
                               " iv long")
    from hiselspark.operators.tsprofile import (croston,
                                                dickey_fuller,
                                                kalman1d,
                                                periodogram_power)
    assert n_exchanges(kalman1d(df, "e", "o", "v")) == 1
    assert n_exchanges(croston(df, "e", "o", "v")) == 1
    assert n_exchanges(dickey_fuller(df, "e", "o", "iv")) == 1
    assert n_exchanges(periodogram_power(df, "e", "o", "iv")) == 1


def test_round4c_scalar_tests_one_reduction(spark):
    """The one-row statistics (iv_wald, e_value, cohens_d, two_prop,
    cochran_armitage, partial_corr) are ONE map-side-combined
    reduction: no hash/range exchange of the data frame at all
    (single-partition aggregation only)."""
    rows = [(i % 2, i % 3, i % 7, (i * 5) % 11) for i in range(300)]
    df = spark.createDataFrame(rows, "z long, x long, y long,"
                               " w long")
    from hiselspark.operators.causal import e_value, iv_wald
    from hiselspark.operators.evaluate import (cochran_armitage,
                                               two_prop_test)
    from hiselspark.operators.feature_rank import partial_corr
    from hiselspark.operators.rankstats import cohens_d
    for q in (iv_wald(df, "z", "x", "y"),
              e_value(df, "z", "x"),
              cohens_d(df, "z", "y"),
              two_prop_test(df, "z", "x"),
              partial_corr(df, "x", "y", "w")):
        assert n_exchanges(q) == 0, plan_str(q, "simple")
    # cochran_armitage groups by score first: exactly one exchange
    assert n_exchanges(cochran_armitage(df, "w", "x")) == 1


def test_round4c_no_cartesian_anywhere(spark):
    """event_study's anchor join, clustering_coefficient's wedge
    closing and jonckheere's cell pair join are range/equi joins —
    never CartesianProduct (broadcast nested loop with a range
    condition is the declared plan for the interval join)."""
    import datetime as dt
    base = dt.datetime(2024, 1, 1)
    rows = [("u%d" % (i % 3), base + dt.timedelta(minutes=i),
             i % 23, i % 5 == 0) for i in range(150)]
    df = spark.createDataFrame(rows, "e string, ts timestamp,"
                               " v long, f boolean")
    from hiselspark.operators.windows import event_study
    es = event_study(df, "e", "ts", "v", F.col("f"))
    assert "CartesianProduct" not in plan_str(es, "simple")
    edges = spark.createDataFrame(
        [(i % 17, (i * 7) % 17) for i in range(100)],
        "src long, dst long")
    from hiselspark.operators.graph import clustering_coefficient
    cc = clustering_coefficient(edges)
    assert "CartesianProduct" not in plan_str(cc, "simple")
    from hiselspark.operators.rankstats import jonckheere
    jk = jonckheere(df.select((F.col("v") % 4).alias("g"),
                              F.col("v").alias("x")), "g", "x")
    txt = plan_str(jk, "simple")
    # the g_a < g_b pair join is a range condition on the COUNT
    # TABLE (|cells| rows) — a nested-loop there is the accepted
    # kendall_tau contract; what matters is that BOTH join inputs
    # are pre-join aggregates, so raw rows never pair up
    assert txt.count("HashAggregate") >= 4


def test_round4d_session2_plan_shapes(spark):
    """Plan assertions for the second-session operator families:
    variance_ratio/cusumsq/pacf ride ONE entity exchange; hurst's
    ×4 size explode still costs one exchange per clustering change
    (entity, then (entity,size,blk) — bounded at 3); the one-row
    statistics (mantel_haenszel, aipw, cvm, goodman_kruskal) never
    shuffle more than their count table."""
    import datetime as dt
    base = dt.datetime(2024, 1, 1)
    rows = [("u%d" % (i % 4), base + dt.timedelta(minutes=i), i,
             i % 17, i % 2, i % 5) for i in range(400)]
    df = spark.createDataFrame(
        rows, "e string, ts timestamp, o long, v long, t long,"
        " s long")
    from hiselspark.operators.tsprofile import (hurst_rs, pacf3,
                                                variance_ratio)
    assert n_exchanges(variance_ratio(df, "e", "ts", "o", "v")) == 1
    assert n_exchanges(pacf3(df, "e", "ts", "o", "v")) == 1
    from hiselspark.operators.windows import cusumsq
    assert n_exchanges(cusumsq(df, "e", "ts", "o", "v")) == 1
    # hurst: entity ranking + (entity,size,blk) windows + per-size +
    # per-entity regroups + the row-count join — bounded small count
    h = hurst_rs(df, "e", "ts", "o", "v", sizes=(8, 16))
    assert n_exchanges(h) <= 6, plan_str(h, "simple")
    from hiselspark.operators.causal import (aipw_estimate,
                                             mantel_haenszel)
    from hiselspark.operators.drift import cramer_von_mises
    from hiselspark.operators.rankstats import goodman_kruskal
    assert n_exchanges(mantel_haenszel(df, "s", "t", "v")) <= 2
    assert n_exchanges(aipw_estimate(df, "s", "t", "v")) <= 2
    assert n_exchanges(
        cramer_von_mises(df, "e", "v", "u0", "u1")) <= 2
    # 3 cells branches (AQE-reused identical subtrees) + 2 regroups
    assert n_exchanges(goodman_kruskal(df, "t", "s")) <= 6


def test_round4d_burrows_vocab_is_topk_not_sort(spark):
    """burrows_delta's top-V vocabulary cut must plan as
    TakeOrderedAndProject (bounded top-k merge), never a global
    Sort — the property that keeps it safe on an unbounded corpus
    vocabulary."""
    docs = spark.createDataFrame(
        [(i, "a b c d e f g h " * 5) for i in range(20)],
        ["doc_id", "text"])
    from hiselspark.functions.text import burrows_delta
    txt = plan_str(burrows_delta(docs, "doc_id", "text", top_v=5),
                   "simple")
    assert "TakeOrderedAndProject" in txt


def _final_plan_nodes(df):
    """Physical operators of ``df``'s executed plan after an action,
    through the adaptive final plan and its query stages."""
    out, todo = [], [df._jdf.queryExecution().executedPlan()]
    while todo:
        node = todo.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            todo.append(node.plan())
            continue
        out.append(node)
        kids = node.children()
        todo.extend(kids.apply(i) for i in range(kids.size()))
    return out


@pytest.fixture(scope="module")
def small_timeline(spark):
    from hiselspark import datagen
    from hiselspark.pipeline import engineer_timeline
    from hiselspark.sources.fused_scan import featurize_images_fused

    images = datagen.images(spark, 400, seed=11, partitions=4)
    tl = engineer_timeline(featurize_images_fused(spark, images))
    tl.collect()
    return tl


def test_timeline_one_window_operator_per_spec(small_timeline):
    """The timeline's three window specs (rolling range, summary
    prefix, lag order) run as three window operators and three sorts,
    and the prefix tail list is collected once."""
    nodes = _final_plan_nodes(small_timeline)
    names = [n.getClass().getSimpleName() for n in nodes]
    windows = [n for n in nodes if n.getClass().getSimpleName()
               == "WindowExec"]
    assert len(windows) <= 3, names
    assert names.count("SortExec") <= 3, names
    collects = [e for w in windows
                for e in (w.windowExpression().apply(i)
                          for i in range(w.windowExpression().size()))
                if "collect_list(" in e.toString()]
    assert len(collects) == 1, [e.toString() for e in collects]


def test_timeline_output_columns(small_timeline):
    """Hash minibatches hash the feature columns in order, so the
    timeline's column order is part of the selection's result."""
    assert small_timeline.columns == [
        "entity_id", "ts", "w", "h", "caption_len", "caption_tokens",
        "caption_rtokens", "px_mean_r", "px_mean_g", "px_mean_b",
        "px_std_r", "px_std_g", "px_std_b", "px_q25", "px_q50", "px_q75",
        "phash_weight", *[f"pbit{i}" for i in range(16)],
        "px_mean_g_roll_mean_21600s", "px_mean_g_roll_count_21600s",
        "px_mean_r_lag1", "caption_tokens_lag1"]


def test_image_scan_one_task_per_core_no_shuffle(spark, tmp_path):
    """The (file, row-group) work list runs as at most one slice per
    core, with no exchange."""
    from hiselspark import datagen
    from hiselspark.sources.fused_scan import image_feature_scan

    path = str(tmp_path / "images")
    datagen.images(spark, 240, seed=4, partitions=8).write.parquet(path)
    scan = image_feature_scan(spark, path)
    assert "Exchange" not in plan_str(scan, "simple")
    parallelism = spark.sparkContext.defaultParallelism
    assert scan.rdd.getNumPartitions() <= parallelism
    assert scan.count() == 240


@pytest.mark.parametrize("n_cols", [40, 64])
def test_selector_moments_aggregate_stays_in_codegen(spark, n_cols):
    """The standardization moments are one narrow aggregate: a fixed
    four aggregate expressions at any column count, both HashAggregate
    nodes inside whole-stage codegen.  (A sum and a stddev_pop per
    column crossed spark.sql.codegen.maxFields from 25 columns on.)"""
    import numpy as np
    import pandas as pd

    from hiselspark.selection import SparkHSICSelector
    from tools.codegen_fallbacks import outside_codegen, recorded_actions

    rng = np.random.default_rng(n_cols)
    cols = [f"f{i}" for i in range(n_cols)]
    pdf = pd.DataFrame(rng.standard_normal((300, n_cols + 1)),
                       columns=cols + ["y"])
    df = spark.createDataFrame(pdf)
    with recorded_actions() as frames:
        SparkHSICSelector(df, cols, ["y"])._moments(df)
    assert len(frames) == 1
    nodes = _final_plan_nodes(frames[0])
    aggs = [n for n in nodes
            if n.getClass().getSimpleName() == "HashAggregateExec"]
    assert len(aggs) == 2
    assert all(a.aggregateExpressions().size() == 4 for a in aggs)
    outside = [n.getClass().getSimpleName() for n in outside_codegen(
        frames[0]._jdf.queryExecution().executedPlan())]
    assert "HashAggregateExec" not in outside, outside


def test_categorical_min_max_aggregate_stays_in_codegen(spark):
    """The categorical search's per-column min and max are one narrow
    aggregate over the stacked (position, value) rows: two aggregate
    expressions at 64 columns, both HashAggregate nodes inside
    whole-stage codegen.  (A min and a max per column crossed
    spark.sql.codegen.maxFields from 51 columns on.)"""
    import numpy as np
    import pandas as pd

    from hiselspark.categorical import _column_offsets_and_cards
    from tools.codegen_fallbacks import outside_codegen, recorded_actions

    rng = np.random.default_rng(64)
    cols = [f"c{i}" for i in range(64)]
    pdf = pd.DataFrame(rng.integers(-3, 5, (300, 64)), columns=cols)
    df = spark.createDataFrame(pdf)
    with recorded_actions() as frames:
        mins, cards = _column_offsets_and_cards(df, cols)
    assert mins == {c: int(pdf[c].min()) for c in cols}
    assert cards == {c: int(pdf[c].max() - pdf[c].min()) + 1 for c in cols}
    assert len(frames) == 1
    nodes = _final_plan_nodes(frames[0])
    aggs = [n for n in nodes
            if n.getClass().getSimpleName() == "HashAggregateExec"]
    assert len(aggs) == 2
    assert all(a.aggregateExpressions().size() == 2 for a in aggs)
    outside = [n.getClass().getSimpleName() for n in outside_codegen(
        frames[0]._jdf.queryExecution().executedPlan())]
    assert "HashAggregateExec" not in outside, outside
