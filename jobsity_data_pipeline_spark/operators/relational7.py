"""Round-2 time-series / sketch / concentration wave.

Operators a production analytics stack layers on top of the reference's
weekly-average views (src/sqls/create_objects.sql:24-38): calendar
gap-filling with forward-fill, interval-overlap concurrency, a
mergeable HyperLogLog distinct sketch, SCD2-style run intervals,
corpus-LM document scoring, and revenue-concentration analytics.

Scale notes (100 TB):
- gap-fill builds its calendar spine from a one-row min/max aggregate
  and a tiny distinct-dim list — both broadcast; the fact table is
  touched once by a partial-agg groupBy.
- the concurrency sweep is a union of two projections of the same scan
  with one window shuffle on the sweep key (event_type) — never a
  self-join of intervals.
- HLL registers are a (group, 256)-bounded aggregate: map-side combine
  reduces every partition to ≤ m rows per group before the shuffle,
  and register maxima are mergeable across shards/streams.
- SCD2 runs shuffle once on user_id and reuse that partitioning for
  all three windows.
- unigram log-prob broadcasts the vocabulary (small by Zipf's law —
  cap/TOP-K it for open vocabularies) back onto the token stream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions import money as M
from ..session import read_table


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return read_table(spark, sf_dir, name)


def events_daily_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar gap-fill: per event_type daily counts over the FULL
    [min(ts), max(ts)] span with missing days materialized as cnt=0 and
    the daily avg(value) forward-filled from the last observed day.

    The spine is sequence(min_day, max_day) exploded from a one-row
    aggregate cross-joined with the distinct type list — both sides are
    broadcast-size regardless of fact-table scale; the fact table
    contributes one partial-agg groupBy. Forward fill is
    last(ignorenulls) over (type, day) — one window shuffle.
    """
    ev = _t(spark, sf_dir, "events")
    # daily avg rounds half-away in integer space over exact cents
    daily = (
        ev.groupBy(F.col("event_type"), F.to_date("ts").alias("d"))
        .agg(
            F.count("*").alias("cnt"),
            F.sum(M.cents("value")).alias("vc"),
        )
        .withColumn(
            "avg_value",
            F.when(F.col("vc") < 0, F.lit(-1)).otherwise(F.lit(1))
            * F.expr("(2 * abs(vc) * 10000 + cnt) div (2 * cnt)") / 1e6,
        )
        .drop("vc")
    )
    span = ev.agg(
        F.to_date(F.min("ts")).alias("d0"), F.to_date(F.max("ts")).alias("d1")
    )
    types = ev.select("event_type").distinct()
    spine = (
        types.crossJoin(F.broadcast(span))
        .select("event_type", F.explode(F.sequence("d0", "d1")).alias("d"))
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        spine.join(daily, ["event_type", "d"], "left")
        .select(
            "event_type",
            "d",
            F.coalesce("cnt", F.lit(0)).alias("cnt"),
            F.last("avg_value", ignorenulls=True).over(w).alias("avg_value_ff"),
        )
        .orderBy("event_type", "d")
    )


def events_concurrency(spark: SparkSession, sf_dir: str,
                       hold_minutes: int = 30) -> DataFrame:
    """Max concurrent open intervals per event_type, where each event
    holds a resource for ``hold_minutes``. Classic sweep-line: union of
    (+1 at ts, -1 at ts+hold) deltas, running sum ordered by
    (t, delta, event_id) — ends sort before starts at the same instant
    (delta -1 < +1), making ties deterministic — then max per type.

    No interval self-join, and no whole-type sort: the sweep is a
    two-pass segmented scan. Each (type, day-of-t) segment computes its
    local running max and its delta total in a bounded-width window
    (every equal-t tie lives inside one segment, so segment boundaries
    respect the global order); the per-type running offsets then come
    from a window over the tiny type x day aggregate, and the global
    max is max over segments of offset + local max — identical to the
    single-sort answer because a prefix sum splits at any segment
    boundary. At 100 TB no task ever sorts more than one day of one
    type; the only per-type frame is day-cardinality.
    """
    ev = _t(spark, sf_dir, "events").select("event_id", "event_type", "ts")
    hold = hold_minutes * 60
    starts = ev.select(
        "event_type", F.col("ts").alias("t"), F.lit(1).alias("delta"),
        "event_id",
    )
    ends = ev.select(
        "event_type",
        (F.col("ts") + F.make_interval(secs=F.lit(hold))).alias("t"),
        F.lit(-1).alias("delta"),
        "event_id",
    )
    deltas = starts.unionByName(ends).withColumn("seg", F.to_date("t"))
    w_local = (
        Window.partitionBy("event_type", "seg")
        .orderBy("t", "delta", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    per_seg = (
        deltas.withColumn("open_local", F.sum("delta").over(w_local))
        .groupBy("event_type", "seg")
        .agg(
            F.max("open_local").alias("local_max"),
            F.sum("delta").alias("seg_sum"),
        )
    )
    w_off = (
        Window.partitionBy("event_type")
        .orderBy("seg")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        per_seg.withColumn(
            "offset", F.coalesce(F.sum("seg_sum").over(w_off), F.lit(0))
        )
        .groupBy("event_type")
        .agg(
            F.max(F.col("offset") + F.col("local_max")).alias(
                "max_concurrent"
            )
        )
        .orderBy("event_type")
    )


def hll_registers(df: DataFrame, key_col: str, group_cols: list[str],
                  m: int = 256) -> DataFrame:
    """HyperLogLog register maxima per group: (group_cols..., reg, mx).

    The mergeable sketch state — registers from disjoint shards,
    streams, or time windows union by max-per-register. Exact
    integer rho via bin()-string length keeps the state engine-portable.
    """
    h = df.select(
        *group_cols,
        F.conv(F.substring(F.md5(F.col(key_col).cast("string")), 1, 8),
               16, 10).cast("long").alias("hv"),
    )
    return (
        h.withColumn("reg", F.col("hv") % m)
        .withColumn("wrd", (F.col("hv") / m).cast("long"))
        .withColumn(
            "rho",
            F.when(F.col("wrd") == 0, F.lit(25)).otherwise(
                25 - F.length(F.bin(F.col("wrd")))
            ),
        )
        .groupBy(*group_cols, "reg")
        .agg(F.max("rho").alias("mx"))
    )


def hll_estimate(regs: DataFrame, group_cols: list[str],
                 m: int = 256) -> DataFrame:
    """Estimate from register state: raw alpha_m·m²/Σ2^-M_j with the
    linear-counting small-range correction. Pure column math over the
    (group × ≤m)-bounded state frame."""
    alpha = 0.7213 / (1 + 1.079 / m)
    est = regs.groupBy(*group_cols).agg(
        (
            F.lit(alpha * m * m)
            / (
                F.sum(F.pow(F.lit(2.0), -F.col("mx")))
                + (F.lit(m) - F.count("*"))
            )
        ).alias("raw_est"),
        F.count("*").alias("used_regs"),
    )
    empty = F.lit(m) - F.col("used_regs")
    return est.withColumn(
        "raw_est",
        F.when(
            (F.col("raw_est") <= 2.5 * m) & (empty > 0),
            F.lit(float(m)) * F.log(F.lit(float(m)) / empty),
        ).otherwise(F.col("raw_est")),
    )


def events_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic HyperLogLog distinct-user sketch per event_type
    (p=8, m=256 registers) reported against the exact count.

    hash = first 8 hex chars of md5(user_id) → 32-bit int; register =
    hash % 256; rho = leading-zero rank of the remaining 24-bit word,
    computed EXACTLY via bin()-string length (no float log2, whose
    libm rounding could differ across engines). Raw HLL estimate
    (alpha_256 · m² / Σ 2^-M_j) with empty registers contributing 2^0;
    the 2^-k terms are exact dyadic doubles spanning < 53 bits of
    exponent, so the register sum is order-independent — safe to
    hash-compare across engines. Below 2.5·m the raw estimator biases
    high, so the standard linear-counting correction
    (m · ln(m / empty_registers)) takes over.

    Registers are a (group × 256)-bounded mergeable aggregate: map-side
    combine caps every shuffle partition's contribution, and sketches
    merge by register-max — the same property HLL relies on for
    cross-shard / streaming union at 100 TB.
    """
    ev = _t(spark, sf_dir, "events")
    regs = hll_registers(ev, "user_id", ["event_type"])
    est = hll_estimate(regs, ["event_type"])
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_distinct")
    )
    return (
        est.join(exact, "event_type")
        .select(
            "event_type",
            F.round("raw_est", 4).alias("hll_estimate"),
            "used_regs",
            "exact_distinct",
            F.round(
                F.abs(F.col("raw_est") - F.col("exact_distinct"))
                / F.col("exact_distinct"),
                6,
            ).alias("rel_err"),
        )
        .orderBy("event_type")
    )


def events_type_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2-style validity intervals: per user, collapse consecutive
    events of the same type (ordered by ts, event_id) into runs with
    [valid_from, valid_to) bounds — valid_to is the next run's start,
    NULL for the open (current) run — plus the run's event count.

    Gaps-and-islands via the rn - rn_per_type difference; all three
    windows share the user_id partitioning, so the plan shuffles once
    on user_id and sorts within partitions. This is the standard
    dimension-history build for a changelog at scale.
    """
    ev = _t(spark, sf_dir, "events").select("user_id", "event_type", "ts",
                                            "event_id")
    w_all = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_typ = Window.partitionBy("user_id", "event_type").orderBy(
        "ts", "event_id"
    )
    runs = (
        ev.withColumn(
            "grp", F.row_number().over(w_all) - F.row_number().over(w_typ)
        )
        .groupBy("user_id", "event_type", "grp")
        .agg(
            F.min("ts").alias("valid_from"),
            # min event_id breaks the tie when two adjacent runs start on
            # the same timestamp (events sharing a ts within a user)
            F.min("event_id").alias("first_eid"),
            F.count("*").alias("n_events"),
        )
    )
    w_seq = Window.partitionBy("user_id").orderBy("valid_from", "first_eid")
    return (
        runs.withColumn("valid_to", F.lead("valid_from").over(w_seq))
        .select("user_id", "event_type", "valid_from", "valid_to",
                "n_events")
        .orderBy("user_id", "valid_from")
    )


def docs_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-LM quality score: average natural-log unigram probability
    per document under the corpus's own unigram model (token freq /
    total tokens). The vocabulary aggregate is broadcast back onto the
    token stream — vocabularies are Zipf-bounded (cap with a TOP-K +
    UNK bucket for open web corpora); the heavy side is touched twice
    but shuffles only on the tiny token key.

    Low (more negative) scores flag documents dominated by rare tokens;
    near-zero scores flag boilerplate. The standard cheap stand-in for
    model-based perplexity filtering in training-data pipelines.
    """
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(
            F.filter(F.split(F.col("text"), r"\s+"), lambda t: t != "")
        ).alias("tok"),
    )
    vocab = toks.groupBy("tok").agg(F.count("*").alias("freq"))
    total = vocab.agg(F.sum("freq").alias("total"))
    model = vocab.crossJoin(F.broadcast(total)).select(
        "tok", F.log(F.col("freq") / F.col("total")).alias("logp")
    )
    return (
        toks.join(F.broadcast(model), "tok")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.round(F.avg("logp"), 6).alias("avg_logprob"),
        )
        .orderBy("doc_id")
    )


def parts_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact triangle census of the part co-occurrence graph (parts
    linked when they share an order — same edge list as
    parts_pagerank): node/edge/wedge counts, the exact triangle count,
    and the global clustering coefficient. Compact-forward wedge
    enumeration (operators/graph.py:triangle_stats) keeps the wedge
    join bounded by O(m^1.5) even with hub parts."""
    from .graph import triangle_stats

    li = _t(spark, sf_dir, "lineitem")
    items = li.select("l_orderkey", "l_partkey").distinct()
    a = items.alias("a")
    b = items.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(
            F.col("a.l_partkey").alias("pa"),
            F.col("b.l_partkey").alias("pb"),
        )
        .distinct()
    )
    return triangle_stats(pairs, "pa", "pb")


def customer_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue-concentration (Pareto) curve: customers ranked by total
    order revenue into deciles; each decile's revenue share and the
    cumulative share. Answers "do 10% of customers carry 80% of
    revenue" — the concentration profile behind the reference's
    top-2-recurring-regions query (latest_datasource.sql:1-22).

    One partial-agg groupBy on custkey, then the distributed
    exact-NTILE operator (operators/ranking.py) for the decile pass —
    blocked range partitioning, no single-partition sort; the grand
    total is a broadcast one-row aggregate, never collected. Ties break
    on custkey so the bucketing is deterministic across engines. The
    only remaining global window is the cumulative share over the
    10-row decile frame.
    """
    from .ranking import distributed_ntile

    orders = _t(spark, sf_dir, "orders")
    per_cust = orders.groupBy("o_custkey").agg(
        F.sum(M.cents("o_totalprice")).alias("rev_c")
    )
    dec = distributed_ntile(
        per_cust, 10, "rev_c", ["o_custkey"],
        descending=True, out_col="decile",
    )
    tot = per_cust.agg(F.sum("rev_c").alias("tot_c"))
    per_dec = (
        dec.groupBy("decile")
        .agg(
            F.count("*").alias("n_customers"),
            F.sum("rev_c").alias("dec_c"),
        )
        .crossJoin(F.broadcast(tot))
    )
    w_cum = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, 0
    )
    # shares round half-up in integer space (revenue is non-negative)
    return (
        per_dec.withColumn("cum_c", F.sum("dec_c").over(w_cum))
        .select(
            "decile",
            "n_customers",
            (F.col("dec_c") / 100.0).alias("decile_revenue"),
            (F.expr("(2 * dec_c * 1000000 + tot_c) div (2 * tot_c)") / 1e6)
            .alias("rev_share"),
            (F.expr("(2 * cum_c * 1000000 + tot_c) div (2 * tot_c)") / 1e6)
            .alias("cum_share"),
        )
        .orderBy("decile")
    )


def events_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-key skew profile for user_id — the diagnostic that
    decides between a plain shuffle, AQE skew-join, and the salted_join
    utility (operators/skew.py). One partial-agg pass builds per-key
    counts; every metric after that runs on the KEY-sized frame (keys
    << facts), so the windows here are cheap at any fact scale.

    Reports: key count, max/median count, their ratio (the classic
    straggler predictor), the share held by the 10 hottest keys, and
    the Gini coefficient of the count distribution (0 = uniform,
    -> 1 = one key owns everything).

    No global rank over the key frame (billions of keys at 100 TB —
    the exact shape this diagnostic exists to flag): Gini's
    Σ(2i - n - 1)·c_i is tie-invariant, so a tied count block at
    cumulative offset s contributes c·m·(2s + m - n) — computed on
    the COUNT HISTOGRAM (one row per distinct per-key count, << keys),
    whose one ordered window is bounded by the count-value range. The
    top-10 is a distributed TakeOrderedAndProject, the median a
    value-bucketed percentile aggregate, and both shares round
    half-up in integer space over exact longs.
    """
    ev = _t(spark, sf_dir, "events")
    per_key = ev.groupBy("user_id").agg(F.count("*").alias("cnt"))
    hist = per_key.groupBy("cnt").agg(F.count("*").alias("m"))
    w_h = Window.orderBy("cnt").rowsBetween(Window.unboundedPreceding, -1)
    hist2 = hist.withColumn(
        "s", F.coalesce(F.sum("m").over(w_h), F.lit(0))
    )
    tot = per_key.agg(
        F.count("*").alias("n_keys"),
        F.max("cnt").alias("max_cnt"),
        F.expr("percentile(cnt, 0.5)").alias("median_cnt"),
        F.sum("cnt").alias("total_cnt"),
    )
    top10 = (
        per_key.orderBy(F.desc("cnt"), "user_id").limit(10)
        .agg(F.sum("cnt").alias("top10_cnt"))
    )
    g = hist2.crossJoin(F.broadcast(tot)).agg(
        F.sum(
            F.col("cnt") * F.col("m")
            * (2 * F.col("s") + F.col("m") - F.col("n_keys"))
        ).alias("gnum"),
        F.first("n_keys").alias("n_keys"),
        F.first("max_cnt").alias("max_cnt"),
        F.first("median_cnt").alias("median_cnt"),
        F.first("total_cnt").alias("total_cnt"),
    )
    return g.crossJoin(F.broadcast(top10)).select(
        "n_keys", "max_cnt", "median_cnt",
        F.round(F.col("max_cnt") / F.col("median_cnt"), 6).alias(
            "skew_ratio"
        ),
        (
            F.expr(
                "(2 * top10_cnt * 1000000 + total_cnt)"
                " div (2 * total_cnt)"
            ) / 1e6
        ).alias("top10_share"),
        (
            F.expr(
                "(2 * gnum * 1000000 + n_keys * total_cnt)"
                " div (2 * n_keys * total_cnt)"
            ) / 1e6
        ).alias("gini"),
    )


def docs_bloom_probe(spark: SparkSession, sf_dir: str, m_bits: int = 4096,
                     k_hashes: int = 3) -> DataFrame:
    """Bloom-filter membership report: build a deterministic k-hash
    Bloom set from the even-doc_id half of the corpus (training side),
    probe the odd half, and score flagged probes against exact
    membership — measuring the false-positive rate the filter pays for
    its O(m/8)-byte footprint.

    The filter state is the DISTINCT (bit-position) set — a bounded,
    mergeable aggregate (union across shards = set union), exactly how
    a pre-join Bloom prune ships: build on the small side, broadcast m
    bits, drop non-members before the shuffle. Hash positions are
    md5-derived (engine-portable); a probe is flagged iff all
    ``k_hashes`` of its positions are present.
    """
    docs = _t(spark, sf_dir, "documents")
    train = docs.where(F.col("doc_id") % 2 == 0)
    probe = docs.where(F.col("doc_id") % 2 == 1)

    def positions(df: DataFrame) -> DataFrame:
        reps = F.array(*[F.lit(i) for i in range(k_hashes)])
        return df.select(
            "doc_id",
            F.explode(reps).alias("i"),
            F.col("text"),
        ).select(
            "doc_id",
            (
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat_ws("|", F.col("i").cast("string"),
                                        F.col("text"))
                        ),
                        1, 8,
                    ),
                    16, 10,
                ).cast("long") % m_bits
            ).alias("pos"),
        )

    bloom = positions(train).select("pos").distinct()
    probe_pos = positions(probe)
    hits = (
        probe_pos.join(F.broadcast(bloom), "pos", "left_semi")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_hit"))
        .where(F.col("n_hit") == k_hashes)
    )
    exact = probe.join(
        train.select(F.md5("text").alias("sig")).distinct(),
        F.md5(probe["text"]) == F.col("sig"),
        "left_semi",
    )
    # four one-row lazy aggregates combined via broadcast crossJoins:
    # one job, no eager driver-side counts
    a = train.agg(F.count("*").alias("n_train"))
    b = probe.agg(F.count("*").alias("n_probe"))
    c = hits.agg(F.count("*").alias("n_flagged"))
    d = exact.agg(F.count("*").alias("n_true_member"))
    return (
        a.crossJoin(F.broadcast(b))
        .crossJoin(F.broadcast(c))
        .crossJoin(F.broadcast(d))
        .select(
            "n_train", "n_probe", "n_flagged", "n_true_member",
            (F.col("n_flagged") - F.col("n_true_member")).alias(
                "false_positives"
            ),
            F.round(
                (F.col("n_flagged") - F.col("n_true_member"))
                / F.greatest(
                    F.col("n_probe") - F.col("n_true_member"), F.lit(1)
                ),
                6,
            ).alias("fp_rate"),
        )
    )


def events_hll_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical sketch rollup: build HLL registers ONCE at the
    finest grain (event_type × day), then derive the coarser level
    (event_type) by max-merging the stored registers — never rescanning
    the fact table. This is the pre-aggregated sketch-table pattern:
    at 100 TB the daily sketch table is millions of times smaller than
    the facts, and every coarser rollup (weekly, all-time, cross-shard)
    is a register merge over it. countDistinct cannot do this — exact
    distincts don't re-aggregate.

    Output: one row per (level, event_type, day) with the HLL estimate
    and the exact distinct for error accounting at both levels.
    """
    ev = _t(spark, sf_dir, "events").withColumn(
        "d", F.to_date("ts").cast("string")
    )
    fine = hll_registers(ev, "user_id", ["event_type", "d"])
    fine_est = hll_estimate(fine, ["event_type", "d"]).select(
        F.lit("type_day").alias("level"), "event_type", "d",
        F.round("raw_est", 4).alias("hll_estimate"),
    )
    # coarser level: merge stored registers, no fact rescan
    coarse = fine.groupBy("event_type", "reg").agg(
        F.max("mx").alias("mx")
    )
    coarse_est = hll_estimate(coarse, ["event_type"]).select(
        F.lit("type").alias("level"), "event_type",
        F.lit("*").alias("d"),
        F.round("raw_est", 4).alias("hll_estimate"),
    )
    exact = (
        ev.groupBy("event_type", "d")
        .agg(F.countDistinct("user_id").alias("exact_distinct"))
        .select(F.lit("type_day").alias("level"), "event_type", "d",
                "exact_distinct")
        .unionByName(
            ev.groupBy("event_type")
            .agg(F.countDistinct("user_id").alias("exact_distinct"))
            .select(F.lit("type").alias("level"), "event_type",
                    F.lit("*").alias("d"), "exact_distinct")
        )
    )
    return (
        fine_est.unionByName(coarse_est)
        .join(exact, ["level", "event_type", "d"])
        .orderBy("level", "event_type", "d")
    )


def trip_geohash_cells(spark: SparkSession, sf_dir: str,
                       precision: int = 4, k: int = 20) -> DataFrame:
    """Geohash-cell trip density: the challenge's "group trips with
    similar origin" on the standard containment-hierarchy cell id
    (functions/geo.py:geohash — pure column math, oracle-replicable).
    Coordinates here are the deterministic events mapping (SURVEY §4:
    the driver testdata has no real trips table; the WKT path is
    unit-tested on real coords in tests/test_functions.py).

    One partial-agg groupBy on the cell id; a coarser rollup is a
    prefix truncation, not a rescan.
    """
    from ..functions.geo import geohash

    ev = _t(spark, sf_dir, "events")
    lat = ((F.col("user_id") * 7) % 180 - 90).cast("double") + 0.25
    lon = ((F.col("event_id") * 13) % 360 - 180).cast("double") + 0.25
    return (
        ev.select(geohash(lat, lon, precision).alias("cell"))
        .groupBy("cell")
        .agg(F.count("*").alias("n_trips"))
        .orderBy(F.desc("n_trips"), "cell")
        .limit(k)
    )


def events_quantile_sketch(spark: SparkSession, sf_dir: str,
                           n_bins: int = 128) -> DataFrame:
    """Quantile estimation from a mergeable fixed-bin histogram,
    scored against the exact percentiles — completing the mergeable-
    summary trio (HLL = distinct, CMS = frequency, histogram =
    quantiles). The histogram state is (group × ≤n_bins) counters that
    ADD across shards/streams/days, so percentile rollups never rescan
    or re-sort the facts — the property exact percentile (a full sort)
    fundamentally lacks.

    Per event_type: bin value into n_bins equi-width buckets over the
    observed [min, max] (one broadcast min/max aggregate), cumulate
    bin counts, and linearly interpolate p50/p90/p99 inside the first
    bin whose cumulative count crosses q·n. Every step is deterministic
    column math, mirrored exactly in the DuckDB oracle.

    Accuracy caveat the report makes visible (exact rides alongside):
    equi-width bins are tight in dense regions (p50) but interpolate
    across sparse gaps at tail quantiles of small groups — the upgrade
    path is a mergeable t-digest/KLL state, same groupBy shape.
    """
    ev = _t(spark, sf_dir, "events").select("event_type", "value")
    rng = ev.groupBy("event_type").agg(
        F.min("value").alias("mn"),
        F.max("value").alias("mx"),
        F.count("*").alias("n"),
    )
    w_bin = (F.col("mx") - F.col("mn")) / n_bins
    binned = (
        ev.join(F.broadcast(rng), "event_type")
        .select(
            "event_type",
            F.least(
                F.floor((F.col("value") - F.col("mn")) / w_bin),
                F.lit(n_bins - 1),
            ).cast("long").alias("b"),
        )
        .groupBy("event_type", "b")
        .agg(F.count("*").alias("cnt"))
    )
    w_cum = (
        Window.partitionBy("event_type")
        .orderBy("b")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = binned.withColumn("cum", F.sum("cnt").over(w_cum)).join(
        F.broadcast(rng), "event_type"
    )

    def est(q: float) -> F.Column:
        # first bin whose cumulative count reaches q*n, interpolated
        target = F.lit(q) * F.col("n")
        in_bin = (F.col("cum") >= target) & (
            (F.col("cum") - F.col("cnt")) < target
        )
        frac = (target - (F.col("cum") - F.col("cnt"))) / F.col("cnt")
        val = (
            F.col("mn")
            + (F.col("b") + frac) * (F.col("mx") - F.col("mn")) / n_bins
        )
        return F.min(F.when(in_bin, F.round(val, 6)))

    sketch = cum.groupBy("event_type").agg(
        est(0.5).alias("p50_sketch"),
        est(0.9).alias("p90_sketch"),
        est(0.99).alias("p99_sketch"),
    )
    exact = ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50_exact"),
        F.round(F.expr("percentile(value, 0.9)"), 6).alias("p90_exact"),
        F.round(F.expr("percentile(value, 0.99)"), 6).alias("p99_exact"),
    )
    return (
        sketch.join(exact, "event_type")
        .select(
            "event_type",
            "p50_sketch", "p50_exact",
            "p90_sketch", "p90_exact",
            "p99_sketch", "p99_exact",
        )
        .orderBy("event_type")
    )
