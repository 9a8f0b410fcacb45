"""Engine-independent pins for the round-4f analytics additions:
pure-Python third-engine recomputation of the MAD anomaly report, and
structural invariants for order aging and day-of-week seasonality —
if Spark and the DuckDB oracle ever shared a bug, parity would still
pass; these would not."""

from __future__ import annotations

import pandas as pd

from big_data_2021_spark_streaming_spark.plans.analytics import (
    MAD_K,
    event_dow_profile,
    orders_aging_buckets,
    value_mad_anomalies,
)

SF = "/root/testdata/sf0.001"


def _micro(x: float) -> int:
    # ROUND half-away-from-zero, matching both engines
    import math

    m = int(math.floor(abs(float(x)) * 1_000_000 + 0.5))
    return m if x >= 0 else -m


def test_value_mad_anomalies_matches_pure_python(spark):
    ev = pd.read_parquet(f"{SF}/events.parquet")
    expected = {}
    for etype, grp in ev.groupby("event_type"):
        ms = sorted(_micro(v) for v in grp["value"])
        n = len(ms)
        med = ms[(n + 1) // 2 - 1]
        devs = sorted(abs(m - med) for m in ms)
        mad = devs[(n + 1) // 2 - 1]
        expected[etype] = (
            n,
            med,
            mad,
            sum(1 for d in devs if d > MAD_K * mad),
            devs[-1],
        )

    rows = value_mad_anomalies(spark, SF).collect()
    assert {r.event_type for r in rows} == set(expected)
    for r in rows:
        n, med, mad, n_anom, max_dev = expected[r.event_type]
        assert (
            r.n_events,
            r.median_micro,
            r.mad_micro,
            r.n_anomalies,
            r.max_dev_micro,
        ) == (n, med, mad, n_anom, max_dev), r.event_type


def test_mad_anomaly_counts_bounded_by_robustness(spark):
    # MAD's 50% breakdown point: strictly fewer than half of any
    # type's events can sit beyond the MAD_K band (for MAD_K >= 1)
    for r in value_mad_anomalies(spark, SF).collect():
        assert r.n_anomalies * 2 < r.n_events
        assert 0 <= r.mad_micro <= r.max_dev_micro


def test_orders_aging_buckets_matches_pure_python(spark):
    orders = pd.read_parquet(f"{SF}/orders.parquet")
    asof = orders["o_orderdate"].max()
    open_orders = orders[orders["o_orderstatus"] != "F"]
    expected: dict[tuple[str, str], list[int]] = {}
    for _, row in open_orders.iterrows():
        age = (asof.normalize() - row["o_orderdate"].normalize()).days
        bucket = (
            "0-30"
            if age <= 30
            else "31-60" if age <= 60 else "61-90" if age <= 90 else "90+"
        )
        key = (row["o_orderstatus"], bucket)
        cur = expected.setdefault(key, [0, 0])
        cur[0] += 1
        cur[1] += _micro(row["o_totalprice"])
    rows = orders_aging_buckets(spark, SF).collect()
    assert {(r.o_orderstatus, r.age_bucket) for r in rows} == set(expected)
    for r in rows:
        n, micro = expected[(r.o_orderstatus, r.age_bucket)]
        assert r.n_orders == n
        assert r.open_value_cents == (2 * micro + 10_000) // 20_000


def test_event_dow_profile_shares_sum_to_one(spark):
    rows = event_dow_profile(spark, SF).collect()
    assert rows
    by_type: dict[str, list] = {}
    for r in rows:
        assert 0 <= r.dow <= 6
        by_type.setdefault(r.event_type, []).append(r)
    for etype, rs in by_type.items():
        total_share = sum(r.share_micro for r in rs)
        # half-up rounding: per-type shares reassemble to 1e6 ± |rows|
        assert abs(total_share - 1_000_000) <= len(rs), etype


def test_event_dow_profile_weekday_arithmetic(spark):
    # spot-pin the (days + 4) % 7 convention against pandas' weekday
    ev = pd.read_parquet(f"{SF}/events.parquet")
    ev = ev.assign(
        dow=(ev["ts"].values.astype("datetime64[D]").astype(int) + 4) % 7
    )
    # pandas dayofweek: Monday=0..Sunday=6 → ours: Sunday=0..Saturday=6
    alt = (ev["ts"].dt.dayofweek + 1) % 7
    assert (ev["dow"] == alt).all()
    expected = (
        ev.groupby(["event_type", "dow"]).size().to_dict()
    )
    got = {
        (r.event_type, r.dow): r.n_events
        for r in event_dow_profile(spark, SF).collect()
    }
    assert got == {k: v for k, v in expected.items()}


def test_cusum_changepoint_matches_pure_python(spark):
    from collections import Counter

    from big_data_2021_spark_streaming_spark.plans.analytics import (
        event_cusum_changepoint,
    )

    ev = pd.read_parquet(f"{SF}/events.parquet")
    days = ev["ts"].values.astype("datetime64[D]").astype(int)
    d0, d1 = days.min(), days.max()
    expected = {}
    for etype in ev["event_type"].unique():
        cnt = Counter(days[(ev["event_type"] == etype).values])
        xs = [cnt.get(d, 0) for d in range(d0, d1 + 1)]
        n, total = len(xs), sum(xs)
        cum = 0
        best = None
        for k, x in enumerate(xs, start=1):
            cum += x
            s = abs(n * cum - k * total)
            day = d0 + k - 1
            if best is None or s > best[0]:
                best = (s, day)
        s_abs, day = best
        peak_micro = (2 * s_abs * 1_000_000 + n * total) // (2 * n * total)
        expected[etype] = (n, total, day, s_abs, peak_micro)

    rows = event_cusum_changepoint(spark, SF).collect()
    assert {r.event_type for r in rows} == set(expected)
    for r in rows:
        n, total, day, s_abs, peak = expected[r.event_type]
        assert (
            r.n_days,
            r.total_events,
            r.changepoint_day,
            r.cusum_peak,
            r.peak_micro,
        ) == (n, total, day, s_abs, peak), r.event_type


def test_fulfillment_latency_matches_pure_python(spark):
    from big_data_2021_spark_streaming_spark.plans.analytics import (
        order_fulfillment_latency,
    )

    orders = pd.read_parquet(f"{SF}/orders.parquet")
    li = pd.read_parquet(f"{SF}/lineitem.parquet")
    j = li.merge(orders, left_on="l_orderkey", right_on="o_orderkey")
    lat = (
        j["l_shipdate"].values.astype("datetime64[D]").astype(int)
        - j["o_orderdate"].values.astype("datetime64[D]").astype(int)
    )
    j = j.assign(lat=lat, rid=j["o_orderkey"] * 8 + j["l_linenumber"])
    expected = {}
    for pri, grp in j.groupby("o_orderpriority"):
        vals = [v for v, _ in sorted(zip(grp["lat"], grp["rid"]))]
        n = len(vals)
        expected[pri] = (
            n,
            vals[(n + 1) // 2 - 1],
            vals[(9 * n + 9) // 10 - 1],
            min(vals),
            max(vals),
        )
    rows = order_fulfillment_latency(spark, SF).collect()
    assert {r.o_orderpriority for r in rows} == set(expected)
    for r in rows:
        n, med, p90, mn, mx = expected[r.o_orderpriority]
        assert (
            r.n_lineitems,
            r.median_days,
            r.p90_days,
            r.min_days,
            r.max_days,
        ) == (n, med, p90, mn, mx), r.o_orderpriority


def test_bitmap_sketch_counts_bounded_by_exact(spark):
    from big_data_2021_spark_streaming_spark.operators.sketches import (
        BITMAP_BITS_PER_WORD,
        BITMAP_WORDS,
    )
    from big_data_2021_spark_streaming_spark.plans.analytics import (
        event_user_bitmap,
    )

    rows = event_user_bitmap(spark, SF).collect()
    assert rows
    for r in rows:
        # a bitmap can only undercount (collisions), never overcount
        assert 0 <= r.collision_loss == r.exact_distinct - r.bitmap_count
        assert r.bitmap_count <= r.exact_distinct
        assert r.words_used <= BITMAP_WORDS
        assert r.bitmap_count <= r.words_used * BITMAP_BITS_PER_WORD


def test_cohort_ltv_matches_pure_python(spark):
    from big_data_2021_spark_streaming_spark.plans.analytics import (
        cohort_ltv_curve,
    )

    orders = pd.read_parquet(f"{SF}/orders.parquet")
    m = (
        orders["o_orderdate"].dt.year * 12 + orders["o_orderdate"].dt.month - 1
    )
    orders = orders.assign(
        m=m, micro=[_micro(v) for v in orders["o_totalprice"]]
    )
    first = orders.groupby("o_custkey")["m"].min()
    orders = orders.assign(
        cohort_m=orders["o_custkey"].map(first),
    )
    orders = orders.assign(age=orders["m"] - orders["cohort_m"])
    cells = (
        orders.groupby(["cohort_m", "age"])
        .agg(n=("micro", "size"), rev=("micro", "sum"))
        .reset_index()
        .sort_values(["cohort_m", "age"])
    )
    cells = cells.assign(
        cum=cells.groupby("cohort_m")["rev"].cumsum()
    )
    expected = {
        (int(r.cohort_m), int(r.age)): (
            int(r.n),
            (2 * int(r.rev) + 10_000) // 20_000,
            (2 * int(r.cum) + 10_000) // 20_000,
        )
        for r in cells.itertuples()
    }
    rows = cohort_ltv_curve(spark, SF).collect()
    got = {
        (r.cohort_m, r.age_months): (r.n_orders, r.rev_cents, r.cum_rev_cents)
        for r in rows
    }
    assert got == expected


def test_supplier_return_rates_conservation(spark):
    from big_data_2021_spark_streaming_spark.plans.analytics import (
        supplier_return_rates,
    )

    li = pd.read_parquet(f"{SF}/lineitem.parquet")
    rows = supplier_return_rates(spark, SF).collect()
    assert sum(r.n_items for r in rows) == len(li)
    assert sum(r.n_returned for r in rows) == int(
        (li["l_returnflag"] == "R").sum()
    )
    for r in rows:
        assert 0 <= r.n_returned <= r.n_items
        assert r.return_micro == (2 * r.n_returned * 1_000_000 + r.n_items) // (
            2 * r.n_items
        )


def test_order_streaks_match_pure_python(spark):
    from big_data_2021_spark_streaming_spark.plans.analytics import (
        STREAK_TOPN,
        customer_order_streaks,
    )

    orders = pd.read_parquet(f"{SF}/orders.parquet")
    days = sorted(
        set(
            zip(
                orders["o_custkey"],
                orders["o_orderdate"].values.astype("datetime64[D]").astype(int),
            )
        )
    )
    streaks = []
    cur = None  # (cust, start, last)
    for cust, day in days:
        if cur and cur[0] == cust and day == cur[2] + 1:
            cur = (cust, cur[1], day)
        else:
            if cur:
                streaks.append((cur[2] - cur[1] + 1, cur[0], cur[1]))
            cur = (cust, day, day)
    if cur:
        streaks.append((cur[2] - cur[1] + 1, cur[0], cur[1]))
    expected = sorted(streaks, key=lambda s: (-s[0], s[1], s[2]))[:STREAK_TOPN]

    rows = customer_order_streaks(spark, SF).collect()
    got = [(r.streak_days, r.o_custkey, r.start_day) for r in rows]
    assert got == expected


def test_revenue_autocorr_matches_pure_python(spark):
    from collections import defaultdict
    from datetime import timedelta

    import pandas as pd

    from big_data_2021_spark_streaming_spark.plans.analytics import (
        AUTOCORR_LAG_DAYS,
        revenue_autocorr,
    )

    orders = pd.read_parquet(f"{SF}/orders.parquet")
    cents = defaultdict(int)
    for r in orders.itertuples():
        cents[pd.Timestamp(r.o_orderdate).date()] += int(
            round(r.o_totalprice * 100)
        )
    kusd = {d: (2 * c + 100000) // 200000 for d, c in cents.items()}
    mn = min(kusd.values())
    x = {d: v - mn for d, v in kusd.items()}
    pairs = [
        (x[d], x[d + timedelta(days=AUTOCORR_LAG_DAYS)])
        for d in x
        if d + timedelta(days=AUTOCORR_LAG_DAYS) in x
    ]
    n = len(pairs)
    sx = sum(a for a, _ in pairs)
    sy = sum(b for _, b in pairs)
    sxy = sum(a * b for a, b in pairs)
    sxx = sum(a * a for a, _ in pairs)
    syy = sum(b * b for _, b in pairs)
    num = n * sxy - sx * sy
    den = (n * sxx - sx * sx) * (n * syy - sy * sy)
    want = (
        None
        if den == 0
        else (-1 if num < 0 else 1)
        * ((2 * num * num * 1_000_000 + den) // (2 * den))
        / 1e6
    )

    row = revenue_autocorr(spark, SF).collect()[0]
    assert row.lag_days == AUTOCORR_LAG_DAYS
    assert row.n_pairs == n
    if want is None:
        assert row.signed_r2 is None
    else:
        assert float(row.signed_r2) == want


def test_user_value_gini_matches_pure_python(spark):
    """Gini recomputed with the textbook O(n log n) formula in pure
    Python from the raw parquet."""
    import pandas as pd

    from big_data_2021_spark_streaming_spark.plans.analytics import (
        user_value_gini,
    )

    events = pd.read_parquet("/root/testdata/sf0.001/events.parquet")
    cents = (
        (events["value"] * 100)
        .round()
        .astype("int64")
        .groupby(events["user_id"])
        .sum()
        .sort_values()
    )
    n = len(cents)
    s = int(cents.sum())
    si = int(sum(r * x for r, x in enumerate(cents, start=1)))
    num = 2 * si - (n + 1) * s
    den = n * s
    if num >= 0:
        expected = (2 * num * 1_000_000 + den) // (2 * den) / 1e6
    else:
        expected = -((2 * -num * 1_000_000 + den) // (2 * den)) / 1e6

    row = user_value_gini(spark, "/root/testdata/sf0.001").collect()[0]
    assert row.n_users == n
    assert row.total_cents == s
    assert row.gini == expected
    assert 0.0 <= row.gini <= 1.0


def test_discount_quantity_ols_matches_pure_python(spark):
    """OLS slope and r-squared recomputed with exact Fractions per
    brand from the raw parquet."""
    from fractions import Fraction

    import pandas as pd

    from big_data_2021_spark_streaming_spark.plans.analytics import (
        discount_quantity_ols,
    )

    sf = "/root/testdata/sf0.001"
    li = pd.read_parquet(f"{sf}/lineitem.parquet")
    part = pd.read_parquet(f"{sf}/part.parquet")
    j = li.merge(part, left_on="l_partkey", right_on="p_partkey")
    expected = {}
    for brand, g in j.groupby("p_brand"):
        x = (g["l_discount"] * 100).round().astype(int)
        y = g["l_quantity"].round().astype(int)
        n = len(g)
        sxy = n * int((x * y).sum()) - int(x.sum()) * int(y.sum())
        sxx = n * int((x * x).sum()) - int(x.sum()) ** 2
        syy = n * int((y * y).sum()) - int(y.sum()) ** 2

        def half_away(fr: Fraction) -> float:
            num, den = fr.numerator, fr.denominator
            if num >= 0:
                return (2 * num * 1_000_000 + den) // (2 * den) / 1e6
            return -((2 * -num * 1_000_000 + den) // (2 * den)) / 1e6

        slope = (
            half_away(Fraction(100 * sxy, sxx)) if sxx else None
        )
        r2 = (
            half_away(Fraction(sxy * sxy, sxx * syy))
            if sxx and syy
            else None
        )
        expected[brand] = (n, slope, r2)

    rows = discount_quantity_ols(spark, sf).collect()
    got = {r.p_brand: (r.n_rows, r.slope, r.r2) for r in rows}
    assert got == expected
    assert len(got) > 1
