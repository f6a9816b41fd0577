"""Semantic contracts of the relational and analytics operators that
the driver's value hash alone would not explain: sessionization,
resample + forward-fill, EWMA, frequent pairs, chi-square margins,
CUSUM change points and rolling regression, several recomputed in
plain Python from the raw series."""

from __future__ import annotations

from collections import defaultdict

from pyspark.sql import functions as F

from mathorcup_spark import registry
from mathorcup_spark.registry import queries
from tests.conftest import SF_DIR


def test_sessionize_invariants(spark):
    """Gap-sessionization semantic contract, checkable from the output
    alone: sessions exactly partition the event stream, session ids
    are contiguous per user, and consecutive sessions of one user are
    separated by MORE than the 6h threshold (otherwise they would have
    been one session)."""
    from mathorcup_spark.catalog import load
    from mathorcup_spark.operators.temporal import _SESSION_GAP_US

    registry._bootstrap()
    rows = registry.REGISTRY["ev_sessionize"].fn(spark, SF_DIR).collect()
    n_events_total = load(spark, SF_DIR, "events").count()
    assert sum(r["n_events"] for r in rows) == n_events_total

    by_user: dict[int, list] = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append(r)
    for sessions in by_user.values():
        sessions.sort(key=lambda r: r["session_seq"])
        assert [r["session_seq"] for r in sessions] == list(
            range(1, len(sessions) + 1)
        )
        for prev, nxt in zip(sessions, sessions[1:]):
            assert nxt["start_us"] - prev["end_us"] > _SESSION_GAP_US
            assert prev["duration_us"] == prev["end_us"] - prev["start_us"]
            assert 1 <= prev["n_event_types"] <= prev["n_events"]


def test_resample_grid_is_contiguous_and_filled(spark):
    rows = queries()["ts_resample_ffill"](spark, SF_DIR).collect()
    by_user = defaultdict(list)
    for r in rows:
        by_user[r["user_id"]].append(r)
    assert by_user
    for u, grid in by_user.items():
        grid.sort(key=lambda r: r["hour"])
        # first grid hour contains the user's first event: never carried
        assert grid[0]["carried"] == 0 and grid[0]["value"] is not None
        prev = None
        for r in grid:
            if prev is not None:
                assert (r["hour"] - prev["hour"]).total_seconds() == 3600, (
                    f"user {u}: grid gap"
                )
                if r["carried"] == 1:
                    assert r["value"] == prev["value"], (
                        f"user {u}: carried row must repeat the last value"
                    )
            prev = r


def test_ewma_first_row_equals_value_and_stays_in_hull(spark):
    """A 1-observation window renormalizes to the observation itself,
    and every estimate is a convex combination of trailing values —
    so it must sit inside the trailing min/max hull."""
    out = queries()["ts_ewma_smooth"](spark, SF_DIR)
    from pyspark.sql import Window as W

    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    k = W.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(-7, 0)
    checked = out.select(
        "value",
        "ewma",
        F.row_number().over(w).alias("rn"),
        F.min("value").over(k).alias("lo"),
        F.max("value").over(k).alias("hi"),
    )
    n_first_bad = checked.filter(
        (F.col("rn") == 1) & (F.abs(F.col("ewma") - F.col("value")) > 1e-9)
    ).count()
    assert n_first_bad == 0
    n_hull_bad = checked.filter(
        (F.col("ewma") < F.col("lo") - 1e-9)
        | (F.col("ewma") > F.col("hi") + 1e-9)
    ).count()
    assert n_hull_bad == 0


def test_ewma_matches_python_recomputation(spark):
    """Recompute the trailing-8 renormalized EWMA per user in plain
    Python from the raw series and compare every estimate."""
    out = queries()["ts_ewma_smooth"](spark, SF_DIR).collect()
    series: dict[int, list] = {}
    for r in sorted(out, key=lambda r: (r.user_id, r.ts, r.event_id)):
        series.setdefault(r.user_id, []).append(r)
    n_checked = 0
    for rows in series.values():
        vals: list[float] = []
        for r in rows:
            vals.append(r.value)
            tail = vals[-8:]
            ws = [0.8**k for k in range(len(tail))]
            expect = sum(v * w for v, w in zip(reversed(tail), ws)) / sum(ws)
            assert abs(r.ewma - expect) < 1e-6, (r.user_id, r.event_id)
            n_checked += 1
    assert n_checked == len(out) > 0


def test_frequent_pairs_support_and_lift_contract(spark):
    out = queries()["a_frequent_pairs"](spark, SF_DIR).collect()
    assert out, "sf0.001 has >2000 supported pairs"
    for r in out:
        assert r.p1 < r.p2
        assert r.pair_n >= 2
        # a pair cannot be more frequent than either member
        assert r.pair_n <= min(r.n1, r.n2)
        assert r.lift > 0


def test_chi2_expected_preserves_margins(spark):
    """Expected counts reproduce the observed row/column margins —
    the defining property of the independence model."""
    out = queries()["a_chi2_independence"](spark, SF_DIR).collect()
    obs_by_type: dict[str, float] = {}
    exp_by_type: dict[str, float] = {}
    for r in out:
        obs_by_type[r.event_type] = obs_by_type.get(r.event_type, 0) + r.n_obs
        exp_by_type[r.event_type] = exp_by_type.get(r.event_type, 0) + r.expected
        assert r.chi2_term >= 0
    for k in obs_by_type:
        assert abs(obs_by_type[k] - exp_by_type[k]) < 1e-3, k


def test_cusum_peak_matches_python_recomputation(spark):
    """Recompute the CUSUM peak per event_type from the raw series."""
    import duckdb

    con = duckdb.connect()
    rows = con.sql(
        f"SELECT event_type, ts, event_id, value FROM "
        f"read_parquet('{SF_DIR}/events.parquet') "
        f"ORDER BY event_type, ts, event_id"
    ).fetchall()
    series: dict[str, list] = {}
    for et, ts, eid, v in rows:
        series.setdefault(et, []).append((ts, eid, v))
    got = {
        r.event_type: r
        for r in queries()["ev_cusum_changepoint"](spark, SF_DIR).collect()
    }
    assert set(got) == set(series)
    for et, pts in series.items():
        mu = sum(p[2] for p in pts) / len(pts)
        s, best_k, best_abs = 0.0, None, -1.0
        for k, (_, eid, v) in enumerate(pts, start=1):
            s += v - mu
            if abs(s) > best_abs + 1e-6:
                best_abs, best_k, best_eid = abs(s), k, eid
        r = got[et]
        assert r.n == len(pts)
        assert r.cp_k == best_k and r.cp_event_id == best_eid, et
        assert abs(abs(r.cusum_max) - best_abs) < 1e-2, et


def test_rolling_regression_matches_python_ols(spark):
    import duckdb

    con = duckdb.connect()
    raw = con.sql(
        f"SELECT user_id, event_id, value FROM "
        f"read_parquet('{SF_DIR}/events.parquet') ORDER BY user_id, ts, event_id"
    ).fetchall()
    series: dict[int, list] = {}
    for uid, eid, v in raw:
        series.setdefault(uid, []).append((eid, v))
    got = {
        (r.user_id, r.event_id): (r.n, r.slope)
        for r in queries()["w_rolling_regression"](spark, SF_DIR).collect()
    }
    n_checked = 0
    for uid, pts in series.items():
        for i in range(len(pts)):
            win = pts[max(0, i - 15) : i + 1]
            n = len(win)
            if n < 8:
                continue
            xs = list(range(n))
            ys = [p[1] for p in win]
            sx, sxx = sum(xs), sum(x * x for x in xs)
            sy, sxy = sum(ys), sum(x * y for x, y in zip(xs, ys))
            slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
            gn, gs = got[(uid, pts[i][0])]
            assert gn == n
            assert abs(gs - slope) < 1e-4, (uid, pts[i][0])
            n_checked += 1
    assert n_checked == len(got) > 0
