"""Round-9 wave tests: the trained quality classifier (pure-Python
replay of the exact integer/double recurrence), KMV set-algebra
overlap, and the SES forecast backtest."""

import math

import duckdb
import pytest
from pyspark.sql import functions as F

from jobsity_data_pipeline_spark.operators import relational14 as R14
from tests.conftest import SF_SMOKE


def _py_features(sf_dir: str):
    """Independent feature extraction (DuckDB staging + pure-Python
    rule replay) mirroring relational14._qc_features' contract."""
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"'{sf_dir}/documents.parquet'"
    )
    rows = con.execute("""
        WITH staged AS (
            SELECT doc_id,
                   len(regexp_extract_all(text, '#|\\.\\.\\.'))
                       AS n_symbols,
                   list_filter(regexp_split_to_array(text, '\\s+'),
                               t -> t <> '') AS tk
            FROM documents),
        ws AS (
            SELECT doc_id, count(*) AS n_words,
                   CAST(sum(length(w)) AS BIGINT) AS char_sum,
                   CAST(sum(CASE WHEN regexp_matches(w, '[A-Za-z]')
                                 THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_alpha,
                   count(DISTINCT CASE WHEN w IN
                       ('the','and','of','to','a','in','is','it',
                        'for','on') THEN w END) AS n_stop
            FROM (SELECT doc_id, unnest(tk) AS w FROM staged)
            GROUP BY doc_id)
        SELECT s.doc_id, CAST(s.n_symbols AS BIGINT),
               coalesce(ws.n_words, 0), coalesce(ws.char_sum, 0),
               coalesce(ws.n_alpha, 0), coalesce(ws.n_stop, 0)
        FROM staged s LEFT JOIN ws USING (doc_id)
    """).fetchall()
    feats = []
    for doc_id, nsym, n, cs, na, nst in rows:
        keep = (
            50 <= n <= 100_000
            and cs >= 3 * n and cs <= 10 * n and n > 0
            and 10 * nsym <= n
            and 10 * na >= 8 * n
            and nst >= 2
        )
        feats.append((
            doc_id,
            1_000_000 if keep else 0,
            (1000,
             min(n, 100) * 10 - 500,
             min((cs * 100) // max(n, 1), 1000) - 450,
             (na * 1000) // max(n, 1) - 800,
             min((nsym * 1000) // max(n, 1), 1000) - 100,
             min(nst, 10) * 100 - 150),
        ))
    return feats


def _py_train(feats, lr: float, rounds: int):
    """The classifier recurrence in pure Python — the third
    independent implementation (next to the Spark plan and the
    DuckDB oracle) of the exact same integer/double arithmetic."""
    w = [0.0] * 6
    out = []
    n = len(feats)
    for r in range(rounds + 1):
        g = [0] * 6
        agree = 0
        pred_pos = 0
        for _doc, y, xs in feats:
            z = 0.0
            for wj, xj in zip(w, xs):
                z = z + wj * (xj / 1000.0)
            p = 0.5 + (0.5 * z) / (1.0 + abs(z))
            pe6 = math.floor(p * 1e6 + 0.5)
            if pe6 >= 500_000:
                pred_pos += 1
            if (pe6 >= 500_000) == (y == 1_000_000):
                agree += 1
            for j in range(6):
                g[j] += (pe6 - y) * xs[j]
        out.append((r, *w, pred_pos, (2 * 1000 * agree + n) // (2 * n)))
        w = [
            R14._halfup6(w[j] - lr * (g[j] / (n * 1e9)))
            for j in range(6)
        ]
    return out


class TestQualityClassifier:
    def test_matches_python_replay_exactly(self, spark):
        got = [
            tuple(r)
            for r in R14.docs_quality_classifier(spark, SF_SMOKE)
            .orderBy("round").collect()
        ]
        want = _py_train(
            _py_features(SF_SMOKE), R14.QC_LR, R14.QC_ROUNDS
        )
        assert got == want  # bit-for-bit: weights, yield, agreement

    def test_training_improves_agreement(self, spark):
        rows = (
            R14.docs_quality_classifier(spark, SF_SMOKE)
            .orderBy("round").collect()
        )
        first, last = rows[0], rows[-1]
        # round 0 is the zero-weight majority baseline; the trained
        # model must clearly beat it (distilling two active rules)
        assert last["agree_permille"] >= first["agree_permille"] + 100
        assert last["agree_permille"] >= 800

    def test_round0_is_zero_weights(self, spark):
        r0 = (
            R14.docs_quality_classifier(spark, SF_SMOKE)
            .where(F.col("round") == 0).collect()[0]
        )
        for wn in R14.QC_WEIGHTS:
            assert r0[wn] == 0.0
        # zero weights => p = 0.5 => everything predicted positive
        total = (
            R14._qc_features(spark, SF_SMOKE).count()
        )
        assert r0["pred_pos"] == total

    def test_halfup6_sign_symmetry(self):
        assert R14._halfup6(0.0000005) == 0.000001
        assert R14._halfup6(-0.0000005) == -0.000001
        assert R14._halfup6(1.2345674) == 1.234567
        assert R14._halfup6(-1.2345674) == -1.234567


class TestKmvOverlap:
    def _du(self, spark, pairs):
        return spark.createDataFrame(
            pairs, "event_type string, user_id long")

    def test_exact_when_sketch_holds_everything(self, spark):
        # |A|=50, |B|=50, |A∩B|=25, |A∪B|=75 <= k=128: the bottom-k
        # sketch holds every distinct hash, so union / intersection /
        # Jaccard estimates are EXACT by construction
        du = self._du(
            spark,
            [("A", u) for u in range(1, 51)]
            + [("B", u) for u in range(26, 76)],
        )
        out = R14.kmv_pair_overlap(
            R14.kmv_sketches(du, k=128), k=128).collect()
        assert len(out) == 1
        r = out[0]
        assert r["kmv_union_est"] == 75.0
        assert r["kmv_inter_est"] == 25.0
        # halfup(1000 * 25 / 75) = 333
        assert r["kmv_jaccard_pm"] == 333

    def test_disjoint_sets_estimate_zero_overlap(self, spark):
        du = self._du(
            spark,
            [("A", u) for u in range(1, 41)]
            + [("B", u) for u in range(100, 140)],
        )
        r = R14.kmv_pair_overlap(
            R14.kmv_sketches(du, k=128), k=128).collect()[0]
        assert r["kmv_inter_est"] == 0.0
        assert r["kmv_jaccard_pm"] == 0
        assert r["kmv_union_est"] == 80.0

    def test_estimate_tracks_exact_on_corpus(self, spark):
        rows = (
            R14.events_type_overlap_kmv(spark, SF_SMOKE).collect()
        )
        assert rows
        for r in rows:
            union = r["na"] + r["nb"] - r["co_users"]
            if union <= 64:
                # sketch not full: estimates are exact
                assert r["jaccard_err_pm"] == 0
                assert r["kmv_union_est"] == float(union)
            else:
                # k=64 KMV: ~1/sqrt(k) relative error class; permille
                # Jaccard should sit within 250 of exact
                assert abs(r["jaccard_err_pm"]) <= 250

    def test_containment_exact_and_catches_subset(self, spark):
        # B wholly inside A: Jaccard is small (21/60) but containment
        # of B in A is 1000‰ — the blind spot the containment columns
        # exist for. k=128 > |A∪B|, so every estimate is exact.
        du = self._du(
            spark,
            [("A", u) for u in range(1, 61)]
            + [("B", u) for u in range(20, 41)],
        )
        r = R14.kmv_pair_overlap(
            R14.kmv_sketches(du, k=128), k=128).collect()[0]
        assert r["kmv_a_est"] == 60.0
        assert r["kmv_b_est"] == 21.0
        assert r["kmv_cont_b_pm"] == 1000      # B ⊂ A exactly
        assert r["kmv_overlap_pm"] == 1000
        assert r["kmv_cont_a_pm"] == 350       # halfup(1000*21/60)
        assert r["kmv_jaccard_pm"] == 350      # union == A here

    def test_overlap_coefficient_is_max_containment(self, spark):
        # inter/min(est_a, est_b) == max(inter/est_a, inter/est_b) and
        # the floor(x+0.5) permille round is monotone, so the identity
        # survives rounding on every pair — exact and sketch-served
        rows = R14.events_type_containment_kmv(
            spark, SF_SMOKE).collect()
        assert rows
        for r in rows:
            assert r["kmv_overlap_pm"] == max(
                r["kmv_cont_a_pm"], r["kmv_cont_b_pm"])
            assert r["overlap_pm"] == max(
                r["cont_a_pm"], r["cont_b_pm"])
            # k=64 sketch: containment errors sit in the same
            # ~1/sqrt(k) class as the Jaccard column's bound
            assert abs(r["cont_a_err_pm"]) <= 300
            assert abs(r["cont_b_err_pm"]) <= 300


class TestForecastSes:
    def _monthly(self, sf_dir):
        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW orders AS SELECT * FROM "
            f"'{sf_dir}/orders.parquet'"
        )
        return con.execute("""
            SELECT CAST(year(o_orderdate) AS BIGINT),
                   CAST(month(o_orderdate) AS BIGINT),
                   CAST(sum(CAST(round(o_totalprice * 100, 0)
                                 AS BIGINT)) AS BIGINT)
            FROM orders GROUP BY 1, 2 ORDER BY 1, 2
        """).fetchall()

    def test_matches_python_replay_exactly(self, spark):
        months = self._monthly(SF_SMOKE)
        level = None
        want = []
        for y, mo, rev in months:
            if level is None:
                level = rev
                continue
            fc = level
            d = max(rev, 1)
            want.append((y, mo, rev, fc,
                         (2 * 1000 * abs(rev - fc) + d) // (2 * d)))
            level = (2 * (1 * rev + 3 * level) + 4) // 8
        got = [
            tuple(r)
            for r in R14.orders_forecast_ses(spark, SF_SMOKE)
            .orderBy("o_year", "o_month").collect()
        ]
        assert got == want
        assert len(got) == len(months) - 1

    def test_alpha_one_is_naive_forecast(self, spark):
        """α = 1 collapses SES to the naive last-value forecast:
        every forecast equals the previous month's actual."""
        months = self._monthly(SF_SMOKE)
        got = [
            tuple(r)
            for r in R14.orders_forecast_ses(
                spark, SF_SMOKE, alpha_num=1, alpha_den=1)
            .orderBy("o_year", "o_month").collect()
        ]
        for (y, mo, rev, fc, _), (_, _, prev_rev) in zip(
                got, months[:-1]):
            assert fc == prev_rev


class TestClassifierYield:
    def test_matches_python_replay(self, spark):
        """Per-source yield of the trained classifier replayed in pure
        Python from the same features and final weights."""
        feats_rows = _py_features(SF_SMOKE)
        traj = _py_train(feats_rows, R14.QC_LR, R14.QC_ROUNDS)
        w = list(traj[-1][1:7])
        # per-source replay needs the source column: re-extract with it
        import duckdb as dd
        con = dd.connect()
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM "
            f"'{SF_SMOKE}/documents.parquet'"
        )
        src_of = dict(con.execute(
            "SELECT doc_id, source FROM documents").fetchall())
        by_src = {}
        for doc_id, y, xs in feats_rows:
            src = src_of[doc_id]
            z = 0.0
            for wj, xj in zip(w, xs):
                z = z + wj * (xj / 1000.0)
            p = 0.5 + (0.5 * z) / (1.0 + abs(z))
            pe6 = math.floor(p * 1e6 + 0.5)
            st = by_src.setdefault(src, [0, 0, 0])
            st[0] += 1
            st[1] += 1 if pe6 >= 500_000 else 0
            st[2] += 1 if (pe6 >= 500_000) == (y == 1_000_000) else 0
        want = sorted(
            (s, n, k, (2 * 1000 * k + n) // (2 * n),
             (2 * 1000 * a + n) // (2 * n))
            for s, (n, k, a) in by_src.items()
        )
        got = sorted(
            tuple(r)
            for r in R14.docs_classifier_yield(spark, SF_SMOKE)
            .collect()
        )
        assert got == want

    def test_weights_memo_shared(self, spark):
        w1 = R14._qc_trained_weights(spark, SF_SMOKE)
        w2 = R14._qc_trained_weights(spark, SF_SMOKE)
        assert w1 is w2  # memoized, training ran once

    def test_weights_memo_invalidates_on_regenerated_corpus(
        self, spark, tmp_path
    ):
        """The memo key carries session.corpus_fingerprint, so
        rewriting the documents parquet under the SAME sf_dir within
        one application retrains instead of serving stale weights."""
        stop = "the and of to a in is it for on"

        def write(texts):
            rows = [(i, t, "en", "s", len(t))
                    for i, t in enumerate(texts)]
            spark.createDataFrame(
                rows,
                "doc_id long, text string, lang string,"
                " source string, n_chars long",
            ).coalesce(1).write.mode("overwrite").parquet(
                str(tmp_path / "documents.parquet"))

        # corpus 1: all docs fail the gopher battery (tiny)
        write(["tiny"] * 30)
        w1 = R14._qc_trained_weights(spark, str(tmp_path), rounds=2)
        # corpus 2 at the SAME path: a mix, so gradients differ
        write([(stop + " ") * 6 + f"filler{i}" for i in range(30)])
        w2 = R14._qc_trained_weights(spark, str(tmp_path), rounds=2)
        assert w1 is not w2 and w1 != w2


class TestForecastHolt:
    def test_matches_python_replay(self, spark):
        months = TestForecastSes()._monthly(SF_SMOKE)
        level, trend = None, 0

        def hup(x, d):
            if x >= 0:
                return (2 * x + d) // (2 * d)
            return -((2 * (-x) + d) // (2 * d))

        want = []
        for y, mo, rev in months:
            if level is None:
                level = rev
                continue
            fc = level + trend
            dd = max(rev, 1)
            want.append((y, mo, rev, fc,
                         (2 * 1000 * abs(rev - fc) + dd) // (2 * dd)))
            nl = hup(1 * rev + 3 * (level + trend), 4)
            trend = hup(1 * (nl - level) + 3 * trend, 4)
            level = nl
        got = [
            tuple(r)
            for r in R14.orders_forecast_holt(spark, SF_SMOKE)
            .orderBy("o_year", "o_month").collect()
        ]
        assert got == want

    def test_alpha_one_beta_zero_is_naive(self, spark):
        months = TestForecastSes()._monthly(SF_SMOKE)
        got = [
            tuple(r)
            for r in R14.orders_forecast_holt(
                spark, SF_SMOKE, alpha_num=1, alpha_den=1,
                beta_num=0, beta_den=1)
            .orderBy("o_year", "o_month").collect()
        ]
        for (y, mo, rev, fc, _), (_, _, prev_rev) in zip(
                got, months[:-1]):
            assert fc == prev_rev


class TestBloomPrunedJoin:
    def test_output_identical_to_plain_join(self, spark):
        from jobsity_data_pipeline_spark.operators.skew import (
            bloom_pruned_join,
        )
        from jobsity_data_pipeline_spark.session import read_table

        li = read_table(spark, SF_SMOKE, "lineitem")
        o = read_table(spark, SF_SMOKE, "orders").where(
            F.col("o_orderpriority") == "1-URGENT"
        ).select("o_orderkey")
        got = sorted(
            tuple(r) for r in bloom_pruned_join(
                li, o, "l_orderkey", "o_orderkey"
            ).select("l_orderkey", "l_linenumber").collect()
        )
        want = sorted(
            tuple(r) for r in li.join(
                o, li["l_orderkey"] == o["o_orderkey"]
            ).select("l_orderkey", "l_linenumber").collect()
        )
        assert got == want and got

    def test_prune_reduces_fact_rows(self, spark):
        """The broadcast Bloom probe drops most non-matching fact rows
        BEFORE the shuffle: pruned row count sits between the exact
        match count and well under the full fact count."""
        from jobsity_data_pipeline_spark.operators.skew import (
            bloom_prune,
        )
        from jobsity_data_pipeline_spark.session import read_table

        li = read_table(spark, SF_SMOKE, "lineitem")
        o = read_table(spark, SF_SMOKE, "orders").where(
            (F.col("o_orderpriority") == "1-URGENT")
            & (F.col("o_orderstatus") == "F")
        ).select("o_orderkey")
        n_fact = li.count()
        n_pruned = bloom_prune(li, o, "l_orderkey", "o_orderkey").count()
        n_match = li.join(o, li["l_orderkey"] == o["o_orderkey"],
                          "left_semi").count()
        assert n_match <= n_pruned  # no false negatives
        assert n_pruned < n_fact * 0.5  # real shuffle-volume reduction

    def test_dense_assembly_paths_identical(self, spark, monkeypatch):
        """The distributed range-join gap-fill (large-filter path)
        assembles the EXACT bitset the bounded map path builds — same
        words, same gaps, same order — and the probe through either
        passes the same rows."""
        from jobsity_data_pipeline_spark.operators import skew

        keys = spark.createDataFrame(
            [(k,) for k in range(0, 5000, 7)], "k long")
        words = skew.bloom_words(keys, "k", m_bits=1 << 12)
        small = skew.bloom_bits_dense(words, 1 << 12).collect()
        monkeypatch.setattr(skew, "_BLOOM_DENSE_MAP_MAX_WORDS", 1)
        dist = skew.bloom_bits_dense(words, 1 << 12).collect()
        assert len(small) == len(dist) == 1
        assert small[0][skew.BLOOM_COL] == dist[0][skew.BLOOM_COL]
        assert len(small[0][skew.BLOOM_COL]) == (1 << 12) // 64

    def test_rejects_fact_preserving_joins(self, spark):
        from jobsity_data_pipeline_spark.operators.skew import (
            bloom_pruned_join,
        )
        from jobsity_data_pipeline_spark.session import read_table

        li = read_table(spark, SF_SMOKE, "lineitem")
        o = read_table(spark, SF_SMOKE, "orders").select("o_orderkey")
        with pytest.raises(ValueError, match="left/full outer"):
            bloom_pruned_join(li, o, "l_orderkey", "o_orderkey",
                              how="left")


class TestBoundedModelGuards:
    def test_markov_type_cap_raises_loudly(self, spark, monkeypatch):
        from jobsity_data_pipeline_spark.operators import relational13 as R13

        monkeypatch.setattr(R13, "_MARKOV_MAX_TYPES", 1)
        with pytest.raises(ValueError, match="low-cardinality"):
            R13.events_markov_stationary(spark, SF_SMOKE)

    def test_ses_month_cap_raises_loudly(self, spark, monkeypatch):
        monkeypatch.setattr(R14, "_SES_MAX_MONTHS", 3)
        with pytest.raises(ValueError, match="calendar-bounded"):
            R14.orders_forecast_ses(spark, SF_SMOKE)
        with pytest.raises(ValueError, match="calendar-bounded"):
            R14.orders_forecast_holt(spark, SF_SMOKE)


class TestBloomJoinModes:
    def test_left_semi_matches_plain(self, spark):
        from jobsity_data_pipeline_spark.operators.skew import (
            bloom_pruned_join,
        )
        from jobsity_data_pipeline_spark.session import read_table

        li = read_table(spark, SF_SMOKE, "lineitem")
        o = read_table(spark, SF_SMOKE, "orders").where(
            F.col("o_orderpriority") == "1-URGENT"
        ).select("o_orderkey")
        got = sorted(
            tuple(r) for r in bloom_pruned_join(
                li, o, "l_orderkey", "o_orderkey", how="left_semi"
            ).select("l_orderkey", "l_linenumber").collect()
        )
        want = sorted(
            tuple(r) for r in li.join(
                o, li["l_orderkey"] == o["o_orderkey"], "left_semi"
            ).select("l_orderkey", "l_linenumber").collect()
        )
        assert got == want and got

    def test_right_join_preserves_unmatched_small_rows(self, spark):
        from jobsity_data_pipeline_spark.operators.skew import (
            bloom_pruned_join,
        )

        fact = spark.createDataFrame(
            [(1, "a"), (2, "b")], "k long, v string")
        small = spark.createDataFrame(
            [(1,), (99,)], "sk long")
        got = sorted(
            (r["sk"], r["v"]) for r in bloom_pruned_join(
                fact, small, "k", "sk", how="right").collect()
        )
        # sk=99 has no fact match but the RIGHT join preserves it
        want = sorted(
            (r["sk"], r["v"]) for r in fact.join(
                small, fact["k"] == small["sk"], "right").collect()
        )
        assert got == want
        assert (99, None) in got


class TestStagedR10Oracles:
    """Staged in round 9, REGISTERED in round 10 (_classifier_yield_sql,
    _holt_sql now back oracle_sql() entries); these parity pins remain
    as the fast local regression check for the registered pair."""

    def _duck(self, sf_dir, tables):
        con = duckdb.connect()
        for t in tables:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"'{sf_dir}/{t}.parquet'"
            )
        return con

    @staticmethod
    def _norm(cols, rows):
        def nc(v):
            if isinstance(v, float):
                return "nan" if math.isnan(v) else repr(v)
            return str(v)
        order = sorted(range(len(cols)), key=lambda i: cols[i])
        return sorted(tuple(nc(r[i]) for i in order) for r in rows)

    def test_classifier_yield_oracle_parity(self, spark):
        import __spark_entry__ as entrymod

        sdf = R14.docs_classifier_yield(spark, SF_SMOKE)
        a = self._norm(
            sdf.columns, [tuple(r) for r in sdf.collect()])
        cur = self._duck(SF_SMOKE, ("documents",)).execute(
            entrymod._classifier_yield_sql())
        b = self._norm(
            [d[0] for d in cur.description], cur.fetchall())
        assert a == b

    def test_holt_oracle_parity(self, spark):
        import __spark_entry__ as entrymod

        sdf = R14.orders_forecast_holt(spark, SF_SMOKE)
        a = self._norm(
            sdf.columns, [tuple(r) for r in sdf.collect()])
        cur = self._duck(SF_SMOKE, ("orders",)).execute(
            entrymod._holt_sql())
        b = self._norm(
            [d[0] for d in cur.description], cur.fetchall())
        assert a == b


class TestForecastHw:
    def test_gamma_zero_degenerates_to_holt(self, spark):
        hw = [tuple(r) for r in R14.orders_forecast_hw(
            spark, SF_SMOKE, gamma_num=0).collect()]
        holt = [tuple(r) for r in R14.orders_forecast_holt(
            spark, SF_SMOKE).collect()]
        assert hw == holt and hw

    def test_seasonal_state_learns(self, spark):
        # at the default gamma the seasonal index moves off zero, so
        # HW must diverge from Holt after the first cycle
        hw = [tuple(r) for r in R14.orders_forecast_hw(
            spark, SF_SMOKE).collect()]
        holt = [tuple(r) for r in R14.orders_forecast_holt(
            spark, SF_SMOKE).collect()]
        assert len(hw) == len(holt)
        assert hw != holt

    def test_seasonal_keyed_by_calendar_month(self, spark):
        # pure-kernel check: a gap (missing month) must NOT shift the
        # seasonal cycle — the index is keyed by calendar month
        months = [(2024, m, 100_00 + (5000 if m == 6 else 0))
                  for m in range(1, 13) if m != 3]
        months += [(2025, m, 100_00 + (5000 if m == 6 else 0))
                   for m in range(1, 13)]
        rows = R14.hw_backtest(months)
        by_key = {(y, m): fc for y, m, _r, fc, _a in rows}
        # June 2025's forecast carries the learned June bump while
        # May 2025's does not
        assert by_key[(2025, 6)] > by_key[(2025, 5)]

    def test_hw_oracle_parity(self, spark):
        import __spark_entry__ as entrymod

        t = TestStagedR10Oracles()
        sdf = R14.orders_forecast_hw(spark, SF_SMOKE)
        a = t._norm(sdf.columns, [tuple(r) for r in sdf.collect()])
        cur = t._duck(SF_SMOKE, ("orders",)).execute(
            entrymod._hw_sql())
        b = t._norm([d[0] for d in cur.description], cur.fetchall())
        assert a == b


class TestForecastTournament:
    def test_snaive_kernel_matches_operator(self, spark):
        from jobsity_data_pipeline_spark.operators.relational11 import (
            orders_forecast_snaive,
        )

        months = TestForecastSes()._monthly(SF_SMOKE)
        want = sorted(
            tuple(r)
            for r in orders_forecast_snaive(spark, SF_SMOKE).collect()
        )
        assert sorted(R14.snaive_backtest(months)) == want

    def test_summary_matches_arm_kernels(self, spark):
        months = TestForecastSes()._monthly(SF_SMOKE)
        got = {
            r["method"]: (r["n_months"], r["mean_ape_pm"],
                          r["max_ape_pm"])
            for r in R14.orders_forecast_tournament(
                spark, SF_SMOKE).collect()
        }
        assert set(got) == {"snaive", "ses", "holt", "holt_damped",
                            "hw"}
        for method, kernel in (
            ("snaive", R14.snaive_backtest), ("ses", R14.ses_backtest),
            ("holt", R14.holt_backtest),
            ("holt_damped", R14.holt_damped_backtest),
            ("hw", R14.hw_backtest),
        ):
            rows = kernel(months)
            n = len(rows)
            s = sum(a for *_x, a in rows)
            assert got[method] == (
                n, (2 * s + n) // (2 * n), max(a for *_x, a in rows)
            ), method

    def test_tournament_oracle_parity(self, spark):
        import __spark_entry__ as entrymod

        t = TestStagedR10Oracles()
        sdf = R14.orders_forecast_tournament(spark, SF_SMOKE)
        a = t._norm(sdf.columns, [tuple(r) for r in sdf.collect()])
        cur = t._duck(SF_SMOKE, ("orders",)).execute(
            entrymod._tournament_sql())
        b = t._norm([d[0] for d in cur.description], cur.fetchall())
        assert a == b


class TestHllOverlapStaged:
    def test_hll_overlap_oracle_parity(self, spark):
        import __spark_entry__ as entrymod

        sdf = R14.events_type_overlap_hll(spark, SF_SMOKE)
        cols = sdf.columns

        def nc(v):
            if isinstance(v, float):
                return "nan" if math.isnan(v) else repr(v)
            return str(v)

        def nm(cs, rows):
            o = sorted(range(len(cs)), key=lambda i: cs[i])
            return sorted(tuple(nc(r[i]) for i in o) for r in rows)

        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW events AS SELECT * FROM "
            f"'{SF_SMOKE}/events.parquet'"
        )
        cur = con.execute(entrymod._hll_overlap_sql())
        a = nm(cols, [tuple(r) for r in sdf.collect()])
        b = nm([d[0] for d in cur.description], cur.fetchall())
        assert a == b

    def test_inclusion_exclusion_identity_when_subset(self, spark):
        """A ⊂ B: intersection estimate == est(A) exactly (union
        registers equal B's, so I-E reduces to est(A) + est(B) −
        est(B))."""
        from pyspark.sql import functions as F

        from jobsity_data_pipeline_spark.operators.relational7 import (
            hll_estimate, hll_registers,
        )

        du = spark.createDataFrame(
            [("A", u) for u in range(1, 40)]
            + [("B", u) for u in range(1, 200)],
            "event_type string, user_id long",
        )
        regs = hll_registers(du, "user_id", ["event_type"])
        ests = {
            r["event_type"]: r["raw_est"]
            for r in hll_estimate(regs, ["event_type"]).collect()
        }
        pregs = regs.groupBy("reg").agg(F.max("mx").alias("mx"))
        u_raw = hll_estimate(
            pregs.withColumn("g", F.lit(1)), ["g"]).collect()[0][
            "raw_est"]
        # union of A⊂B is B: register-max merge reproduces B's sketch
        assert u_raw == ests["B"]
        inter = max(0.0, (ests["A"] + ests["B"]) - u_raw)
        # (A+B)-B recovers A only up to one ulp in floats — the I-E
        # identity is mathematical, not bitwise
        assert abs(inter - ests["A"]) <= 1e-9 * ests["A"]


class TestForecastKernelProperties:
    """Hypothesis properties over the pure recurrence kernels — the
    documented algebraic identities must hold for ANY nonnegative
    integer-cent month series (the money domain), not just the
    testdata corpus."""

    def _months(self, revs):
        return [(2020 + i // 12, 1 + i % 12, r)
                for i, r in enumerate(revs)]

    def test_holt_beta_zero_is_ses(self):
        from hypothesis import given, settings
        from hypothesis import strategies as st

        @settings(max_examples=200, deadline=None)
        @given(st.lists(st.integers(min_value=0, max_value=10**13),
                        min_size=2, max_size=40))
        def prop(revs):
            m = self._months(revs)
            assert R14.holt_backtest(m, beta_num=0) \
                == R14.ses_backtest(m)

        prop()

    def test_hw_gamma_zero_is_holt(self):
        from hypothesis import given, settings
        from hypothesis import strategies as st

        @settings(max_examples=200, deadline=None)
        @given(st.lists(st.integers(min_value=0, max_value=10**13),
                        min_size=2, max_size=40))
        def prop(revs):
            m = self._months(revs)
            assert R14.hw_backtest(m, gamma_num=0) \
                == R14.holt_backtest(m)

        prop()

    def test_ses_alpha_one_is_naive(self):
        from hypothesis import given, settings
        from hypothesis import strategies as st

        @settings(max_examples=200, deadline=None)
        @given(st.lists(st.integers(min_value=0, max_value=10**13),
                        min_size=2, max_size=40))
        def prop(revs):
            m = self._months(revs)
            rows = R14.ses_backtest(m, alpha_num=1, alpha_den=1)
            for i, (_y, _mo, rev, fc, _a) in enumerate(rows):
                assert fc == m[i][2]  # forecast = previous actual

        prop()


class TestThetaStaged:
    def test_hand_recurrence(self):
        # months: rev 100, 200, 300, 400 cents; alpha = 1/4
        months = [(2024, 1, 100), (2024, 2, 200), (2024, 3, 300),
                  (2024, 4, 400)]
        out = R14.theta_backtest(months)
        # step 1 (n=1 < 2): drift 0, fc = level = 100; ape 500
        #   level' = hup(200 + 3*100, 4) = 125
        assert out[0] == (2024, 2, 200, 100, 500)
        # step 2 (n=2, sums i=1..2 of 100,200): num = 2*500-3*300
        #   = 100, den = 2*5-9 = 1, drift = hup(200,1) = 200
        #   fc = 125 + 200 = 325; ape = hup(25000/300) = 83
        #   level' = hup(300 + 3*125, 4) = 169
        assert out[1] == (2024, 3, 300, 325, 83)
        # step 3 (n=3): num = 3*1400-6*600 = 600, den = 3*14-36 = 6
        #   drift = hup(1200,6) = 200; fc = 369; ape = hup(31000/400)
        assert out[2] == (2024, 4, 400, 369, 78)

    def test_drift_multiplier_follows_alpha(self):
        # the Hyndman-Billah drift is b/(2*alpha), not a hardcoded
        # 2*b: at alpha = 1/2 the multiplier is 1, so the same
        # history produces HALF the default drift
        months = [(2024, 1, 100), (2024, 2, 200), (2024, 3, 300)]
        out = R14.theta_backtest(months, alpha_num=1, alpha_den=2)
        # level after month 2 = hup(200 + 100, 2) = 150; slope = 100
        # -> drift = hup(2*100, 2*1*1) = 100 (= b, not 2b)
        assert out[1] == (2024, 3, 300, 250, 167)

    def test_short_history_degenerates_to_ses(self):
        # with a single history month the drift is 0 by the n >= 2
        # guard: theta == SES exactly
        months = [(2024, 1, 137), (2024, 2, 991)]
        assert R14.theta_backtest(months) == R14.ses_backtest(months)

    def test_linear_ramp_beats_ses(self):
        # the whole point: the OLS drift halves SES's steady-state
        # lag on a trending series, so theta's total APE is strictly
        # lower on a pure ramp
        months = [(2024 + (m - 1) // 12, (m - 1) % 12 + 1, 1000 * m)
                  for m in range(1, 25)]
        th = R14.theta_backtest(months)
        se = R14.ses_backtest(months)
        assert sum(r[4] for r in th) < sum(r[4] for r in se)
        # drift tracks the exact slope once history is long enough:
        # late forecasts sit closer than SES's (1-a)/a lag
        assert abs(th[-1][3] - th[-1][2]) < abs(se[-1][3] - se[-1][2])

    def test_oracle_parity(self, spark):
        import __spark_entry__ as entrymod

        t = TestStagedR10Oracles()
        sdf = R14.orders_forecast_theta(spark, SF_SMOKE)
        a = t._norm(sdf.columns, [tuple(r) for r in sdf.collect()])
        cur = t._duck(SF_SMOKE, ("orders",)).execute(
            entrymod._theta_sql())
        b = t._norm([d[0] for d in cur.description], cur.fetchall())
        assert a == b


class TestHoltDampedStaged:
    def test_hand_recurrence(self):
        # months: rev 100, 200, 300 cents; alpha=beta=1/4, phi=4/5
        months = [(2024, 1, 100), (2024, 2, 200), (2024, 3, 300)]
        out = R14.holt_damped_backtest(months)
        # step 1: level=100, trend=0, pb=0 -> fc=100; ape=|200-100|/200
        #   nl = hup(1*200 + 3*100, 4) = hup(500,4) = 125
        #   nt = hup(1*(125-100) + 3*0, 4) = hup(25,4) = 6
        assert out[0] == (2024, 2, 200, 100, 500)
        # step 2: pb = hup(4*6,5) = hup(24,5) = 5 -> fc = 125+5 = 130
        #   ape = hup(1000*|300-130|, 300) = hup(170000,300) = 567
        assert out[1] == (2024, 3, 300, 130, 567)

    def test_phi_one_degenerates_to_holt(self, spark):
        h = R14.orders_forecast_holt(spark, SF_SMOKE).collect()
        d = R14.orders_forecast_holt_damped(
            spark, SF_SMOKE, phi_num=1, phi_den=1).collect()
        assert [tuple(r) for r in h] == [tuple(r) for r in d]

    def test_damping_shrinks_trend_contribution(self):
        # on a pure ramp, damped forecasts never exceed undamped ones
        months = [(2024, m, 100 * m) for m in range(1, 11)]
        und = R14.holt_backtest(months)
        dam = R14.holt_damped_backtest(months)
        assert all(df[3] <= hf[3] for df, hf in zip(dam, und))

    def test_oracle_parity(self, spark):
        import __spark_entry__ as entrymod

        t = TestStagedR10Oracles()
        sdf = R14.orders_forecast_holt_damped(spark, SF_SMOKE)
        a = t._norm(sdf.columns, [tuple(r) for r in sdf.collect()])
        cur = t._duck(SF_SMOKE, ("orders",)).execute(
            entrymod._holt_damped_sql())
        b = t._norm([d[0] for d in cur.description], cur.fetchall())
        assert a == b

    def test_in_registered_registry(self):
        # registered in round 12 (promoted from the staged registry
        # with the rest of the eight-operator backlog)
        import __spark_entry__ as entrymod

        sq = entrymod.staged_queries()
        so = entrymod.staged_oracle_sql()
        assert set(sq) == set(so)
        q = entrymod.queries()
        assert "orders_forecast_holt_damped" in q
        assert "orders_forecast_holt_damped" in entrymod.oracle_sql()
        # staged and registered surfaces are disjoint
        assert not set(sq) & set(q)
