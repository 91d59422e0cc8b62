"""Unit tests for the time-series / sketch / concentration wave
(operators/relational7.py) on tiny literal frames with exact expected
rows, plus plan-shape checks for the scale-critical pieces.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from jobsity_data_pipeline_spark.operators import relational7 as R7
from tests.conftest import SF_SMOKE


def _write_events(spark, tmp_path, rows):
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    df.coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "events.parquet")
    )
    return str(tmp_path)


def test_gapfill_fills_missing_days_and_forward_fills(spark, tmp_path):
    t = dt.datetime(2024, 1, 1, 12)
    rows = [
        (1, t, 1, "a", 10.0, "{}"),
        (2, t + dt.timedelta(days=3), 1, "a", 20.0, "{}"),
        (3, t + dt.timedelta(days=1), 2, "b", 5.0, "{}"),
    ]
    out = R7.events_daily_gapfill(spark, _write_events(spark, tmp_path, rows))
    got = {(r.event_type, str(r.d)): (r.cnt, r.avg_value_ff)
           for r in out.collect()}
    # spine covers the full global span for every type: 4 days x 2 types
    assert len(got) == 8
    # missing day carries cnt=0 and the forward-filled average
    assert got[("a", "2024-01-02")] == (0, 10.0)
    assert got[("a", "2024-01-04")] == (1, 20.0)
    # type b has no observation on day 1 -> leading null, then filled
    assert got[("b", "2024-01-01")] == (0, None)
    assert got[("b", "2024-01-03")] == (0, 5.0)


def test_concurrency_sweep_counts_overlaps(spark, tmp_path):
    t = dt.datetime(2024, 1, 1, 12)
    rows = [
        # three events within one 30-min hold window -> concurrency 3
        (1, t, 1, "a", 1.0, "{}"),
        (2, t + dt.timedelta(minutes=10), 1, "a", 1.0, "{}"),
        (3, t + dt.timedelta(minutes=20), 1, "a", 1.0, "{}"),
        # an isolated later event
        (4, t + dt.timedelta(hours=4), 1, "a", 1.0, "{}"),
        # type b: end of 1 coincides exactly with start of 2 -> the end
        # (delta -1) sorts first, so max concurrency stays 1
        (5, t, 2, "b", 1.0, "{}"),
        (6, t + dt.timedelta(minutes=30), 2, "b", 1.0, "{}"),
    ]
    out = R7.events_concurrency(spark, _write_events(spark, tmp_path, rows))
    got = {r.event_type: r.max_concurrent for r in out.collect()}
    assert got == {"a": 3, "b": 1}


def test_hll_registers_merge_across_shards(spark, tmp_path):
    # sketch mergeability: registers built on two disjoint halves must
    # max-merge to exactly the registers of the union — the property
    # that lets HLL union across shards/streams without rescanning
    rows = [
        (i, dt.datetime(2024, 1, 1) + dt.timedelta(minutes=i), i % 97,
         "a", 1.0, "{}")
        for i in range(400)
    ]
    sf = _write_events(spark, tmp_path, rows)
    full = R7.events_hll_distinct(spark, sf).collect()[0]
    assert full.used_regs <= 256
    assert full.exact_distinct == 97
    # raw HLL error at n/m ~ 0.4 is loose but bounded
    assert full.rel_err < 0.5

    ev = spark.read.parquet(str(tmp_path / "events.parquet"))

    def regs(df):
        h = df.select(
            F.conv(
                F.substring(F.md5(F.col("user_id").cast("string")), 1, 8),
                16, 10,
            ).cast("long").alias("hv")
        )
        r = h.select(
            (F.col("hv") % 256).alias("reg"),
            F.when((F.col("hv") / 256).cast("long") == 0, F.lit(25))
            .otherwise(
                25 - F.length(F.bin((F.col("hv") / 256).cast("long")))
            ).alias("rho"),
        )
        return {
            row.reg: row.mx
            for row in r.groupBy("reg").agg(F.max("rho").alias("mx")).collect()
        }

    lo = regs(ev.where(F.col("user_id") < 50))
    hi = regs(ev.where(F.col("user_id") >= 50))
    merged = dict(lo)
    for k, v in hi.items():
        merged[k] = max(merged.get(k, 0), v)
    assert merged == regs(ev)


def test_type_runs_partition_history(spark, tmp_path):
    t = dt.datetime(2024, 1, 1)
    rows = [
        (1, t, 1, "view", 1.0, "{}"),
        (2, t + dt.timedelta(minutes=1), 1, "view", 1.0, "{}"),
        (3, t + dt.timedelta(minutes=2), 1, "click", 1.0, "{}"),
        (4, t + dt.timedelta(minutes=3), 1, "view", 1.0, "{}"),
        (5, t, 2, "buy", 1.0, "{}"),
    ]
    out = R7.events_type_runs(spark, _write_events(spark, tmp_path, rows))
    u1 = [r for r in out.collect() if r.user_id == 1]
    assert [r.event_type for r in u1] == ["view", "click", "view"]
    assert [r.n_events for r in u1] == [2, 1, 1]
    # intervals chain: each run's valid_to is the next run's valid_from
    assert u1[0].valid_to == u1[1].valid_from
    assert u1[1].valid_to == u1[2].valid_from
    assert u1[2].valid_to is None
    # runs partition the events: counts sum to the user's event total
    assert sum(r.n_events for r in u1) == 4


def test_unigram_logprob_prefers_common_tokens(spark, tmp_path):
    docs = spark.createDataFrame(
        [
            (1, "the the the the", "en", "s", 15),
            (2, "rare", "en", "s", 4),
        ],
        "doc_id long, text string, lang string, source string, "
        "n_chars long",
    )
    docs.coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )
    got = {r.doc_id: r for r in
           R7.docs_unigram_logprob(spark, str(tmp_path)).collect()}
    # p(the)=4/5, p(rare)=1/5 under the corpus model
    assert got[1].n_tokens == 4
    assert abs(got[1].avg_logprob - (-0.223144)) < 1e-5
    assert abs(got[2].avg_logprob - (-1.609438)) < 1e-5
    assert got[1].avg_logprob > got[2].avg_logprob


def test_pareto_shares_telescope_to_one(spark):
    rows = R7.customer_pareto(spark, SF_SMOKE).collect()
    assert [r.decile for r in rows] == list(range(1, 11))
    # decile revenue is monotonically non-increasing
    revs = [r.decile_revenue for r in rows]
    assert revs == sorted(revs, reverse=True)
    assert abs(sum(r.rev_share for r in rows) - 1.0) < 1e-4
    assert abs(rows[-1].cum_share - 1.0) < 1e-6


def _plan(df) -> str:
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_concurrency_is_sweep_not_self_join(spark):
    plan = _plan(R7.events_concurrency(spark, SF_SMOKE))
    # union of two projections + window — no join of intervals anywhere
    assert "Join" not in plan
    assert "Union" in plan
    assert "Window" in plan


def test_gapfill_spine_joins_broadcast(spark):
    plan = _plan(R7.events_daily_gapfill(spark, SF_SMOKE))
    # the one-row span aggregate reaches the spine via broadcast, and
    # the spine->daily join needs no cartesian product
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_hll_register_agg_is_partial(spark):
    plan = _plan(R7.events_hll_distinct(spark, SF_SMOKE))
    # register maxima combine map-side before the exchange (mergeable
    # sketch property visible in the plan as partial_max)
    assert "partial_max" in plan or "HashAggregate" in plan


def test_triangle_stats_exact_on_known_graph(spark):
    from jobsity_data_pipeline_spark.operators.graph import triangle_stats

    # K4 minus one edge: nodes 1-4, all pairs except (3,4):
    # triangles = {1,2,3} and {1,2,4}
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4)], "a long, b long"
    )
    row = triangle_stats(pairs).collect()[0]
    assert (row.nodes, row.edges, row.triangles) == (4, 5, 2)
    # wedges: deg 3,3,2,2 -> 3+3+1+1 = 8; clustering = 6/8
    assert row.wedges == 8
    assert abs(row.global_clustering - 0.75) < 1e-9
    # a triangle-free star: hub 1 with 4 leaves
    star = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (1, 5)], "a long, b long"
    )
    assert triangle_stats(star).collect()[0].triangles == 0


def test_ann_recall_report_bounds(spark):
    from jobsity_data_pipeline_spark.operators.similarity import (
        emb_ann_recall,
    )

    rows = emb_ann_recall(spark, SF_SMOKE).collect()
    # one row per (method, query); r5 added the 256-code A/B pair
    assert len(rows) == 72
    assert {r.method for r in rows} == {
        "lsh", "ivf", "pq", "pq_rerank", "pq_trained", "ivfpq",
        "ivfpq_residual", "ivfpq_256", "ivfpq_residual_256",
    }
    assert all(0.0 <= r.recall_at_k <= 1.0 for r in rows)
    # 2-bit multi-probe LSH keeps meaningful recall on the smoke corpus
    lsh = [r.recall_at_k for r in rows if r.method == "lsh"]
    assert sum(lsh) / len(lsh) >= 0.25
    # exact re-rank of the PQ shortlist must dominate PQ-alone
    by = {}
    for r in rows:
        by.setdefault(r.method, []).append(r.recall_at_k)
    assert sum(by["pq_rerank"]) >= sum(by["pq"])


def test_key_skew_flags_hot_key(spark, tmp_path):
    import datetime as dt3

    t = dt3.datetime(2024, 1, 1)
    # one whale (60 events) + 20 uniform keys (2 each)
    rows = [(i, t, 999, "a", 1.0, "{}") for i in range(60)]
    rows += [(100 + j, t, j % 20, "a", 1.0, "{}") for j in range(40)]
    out = R7.events_key_skew(
        spark, _write_events(spark, tmp_path, rows)
    ).collect()[0]
    assert out.n_keys == 21
    assert out.max_cnt == 60
    assert out.median_cnt == 2.0
    assert out.skew_ratio == 30.0
    # whale + 9 uniform keys = 60 + 18 of 100 events
    assert abs(out.top10_share - 0.78) < 1e-9
    assert 0.0 < out.gini < 1.0


def test_bloom_probe_flags_members_and_bounds_fp(spark, tmp_path):
    # train texts and probe texts: 5 exact duplicates across the split,
    # the rest disjoint — every true member must be flagged (Bloom has
    # no false negatives); FP rate stays a rate, not a count
    rows = []
    for i in range(40):
        rows.append((2 * i, f"train text {i}", "en", "s", 10))
    for i in range(40):
        txt = f"train text {i}" if i < 5 else f"probe text {i}"
        rows.append((2 * i + 1, txt, "en", "s", 10))
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, "
        "n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )
    out = R7.docs_bloom_probe(spark, str(tmp_path)).collect()[0]
    assert (out.n_train, out.n_probe, out.n_true_member) == (40, 40, 5)
    # no false negatives: flagged >= true members
    assert out.n_flagged >= 5
    assert out.false_positives == out.n_flagged - 5
    assert 0.0 <= out.fp_rate <= 1.0


def test_quantile_sketch_close_to_exact_and_mergeable(spark):
    rows = R7.events_quantile_sketch(spark, SF_SMOKE).collect()
    assert len(rows) >= 1

    from jobsity_data_pipeline_spark.session import read_table

    ev = read_table(spark, SF_SMOKE, "events")
    widths = {
        r.event_type: (r.mx - r.mn) / 128
        for r in ev.groupBy("event_type")
        .agg(F.min("value").alias("mn"), F.max("value").alias("mx"))
        .collect()
    }
    for r in rows:
        # p50 sits in the dense region: crossing-bin interpolation
        # bounds it within ~2 bin widths. Tail quantiles over tiny
        # groups interpolate across sparse gaps (the known equi-width
        # weakness the report surfaces by shipping exact alongside) —
        # for them assert ordering, not tightness.
        w = widths[r.event_type]
        assert abs(r.p50_sketch - r.p50_exact) <= 2 * w + 1e-6
        assert r.p50_sketch <= r.p90_sketch <= r.p99_sketch

    # histogram counters ADD across disjoint shards — the merge
    # property exact percentiles (a global sort) cannot offer
    rng = ev.groupBy("event_type").agg(
        F.min("value").alias("mn"), F.max("value").alias("mx")
    )

    def hist(df):
        b = df.join(F.broadcast(rng), "event_type").select(
            "event_type",
            F.least(
                F.floor(
                    (F.col("value") - F.col("mn"))
                    / ((F.col("mx") - F.col("mn")) / 128)
                ),
                F.lit(127),
            ).cast("long").alias("b"),
        )
        return {
            (r.event_type, r.b): r.cnt
            for r in b.groupBy("event_type", "b")
            .agg(F.count("*").alias("cnt")).collect()
        }

    lo = hist(ev.where(F.col("event_id") % 2 == 0))
    hi = hist(ev.where(F.col("event_id") % 2 == 1))
    merged = dict(lo)
    for k, v in hi.items():
        merged[k] = merged.get(k, 0) + v
    assert merged == hist(ev)
