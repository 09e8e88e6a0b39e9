"""Round-9 third-wave operator tests (continuation session)."""

from __future__ import annotations

import datetime as dt


def _events(spark, rows):
    return spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )


def _write_events(spark, rows, tmp_path):
    _events(spark, rows).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "events.parquet")
    )
    return str(tmp_path)


def _dispersion_ref(counts_by_hour: dict[int, int]):
    """Python mirror of the exact-integer Fano formula."""
    h_lo, h_hi = min(counts_by_hour), max(counts_by_hour)
    h = h_hi - h_lo + 1
    t = sum(counts_by_hour.values())
    s2 = sum(c * c for c in counts_by_hour.values())
    if h <= 1:
        return h, t, None
    return h, t, (1000 * (h * s2 - t * t)) // ((h - 1) * t)


# --------------------------------------------- burstiness (Fano factor)


def test_burstiness_extremes_and_reference(spark, tmp_path):
    """Planted burst / metered / near-Poisson / single-hour series match
    the literal integer formula and land in the right bands."""
    from wurzel_spark.queries.events import event_burstiness_stats

    series = {
        # 99 events hour 0, 1 event hour 9 — the canonical burst
        "burst": {0: 99, 9: 1},
        # perfectly metered: variance 0
        "metered": {h: 5 for h in range(8)},
        # mean 5, variance ≈ 5.8: inside the Poisson band
        "wobble": {0: 1, 1: 8, 2: 3, 3: 7, 4: 2, 5: 9, 6: 5, 7: 5},
        # one active hour: no variance defined
        "single": {3: 7},
    }
    rows, eid = [], 0
    for et, by_hour in series.items():
        for h, c in by_hour.items():
            for _ in range(c):
                eid += 1
                rows.append((eid, dt.datetime(2024, 1, 1, h), 1, et, 1.0, None))
    sf = _write_events(spark, rows, tmp_path)
    out = {r["event_type"]: r for r in event_burstiness_stats(spark, sf).collect()}

    for et, by_hour in series.items():
        h, t, d = _dispersion_ref(by_hour)
        r = out[et]
        assert r["span_hours"] == h, et
        assert r["n_active_hours"] == len(by_hour), et
        assert r["n_events"] == t, et
        assert r["dispersion_permille"] == d, (et, r["dispersion_permille"], d)

    assert out["burst"]["label"] == "bursty"
    assert out["burst"]["dispersion_permille"] > 2000
    assert out["metered"]["label"] == "regular"
    assert out["metered"]["dispersion_permille"] == 0
    assert out["wobble"]["label"] == "poisson-like"
    assert out["single"]["label"] == "single-hour"
    assert out["single"]["dispersion_permille"] is None


def test_burstiness_silent_hours_are_zeros(spark, tmp_path):
    """A silent hour inside the span is a real zero: [3, 0, 3] disperses
    more than [3, 3] would — the dense-span denominator is the point."""
    from wurzel_spark.queries.events import event_burstiness_stats

    rows = []
    for i in range(3):
        rows.append((i, dt.datetime(2024, 1, 1, 0), 1, "gapped", 1.0, None))
    for i in range(3, 6):
        rows.append((i, dt.datetime(2024, 1, 1, 2), 1, "gapped", 1.0, None))
    sf = _write_events(spark, rows, tmp_path)
    r = event_burstiness_stats(spark, sf).collect()[0]
    h, t, d = _dispersion_ref({0: 3, 2: 3})
    assert (r["span_hours"], r["n_active_hours"], r["n_events"]) == (3, 2, 6)
    assert r["dispersion_permille"] == d == 1500


def test_burstiness_matches_oracle_on_fixture(spark, tmp_path):
    """Cross-engine: the registered SQL twin agrees row-for-row on a
    hand-planted fixture including the single-hour NULL."""
    import duckdb
    from wurzel_spark.queries.events import EVENT_BURSTINESS_SQL, event_burstiness_stats

    rows, eid = [], 0
    for et, by_hour in {"a": {0: 9, 5: 1}, "b": {2: 4}}.items():
        for h, c in by_hour.items():
            for _ in range(c):
                eid += 1
                rows.append((eid, dt.datetime(2024, 3, 1, h), 1, et, 1.0, None))
    sf = _write_events(spark, rows, tmp_path)
    got = [tuple(r) for r in event_burstiness_stats(spark, sf).collect()]
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM parquet_scan('{sf}/events.parquet/*.parquet')"
    )
    want = [tuple(r) for r in con.execute(EVENT_BURSTINESS_SQL).fetchall()]
    assert got == want


# --------------------------------------------- Theil-Sen robust slope


def _sen_ref(counts_by_hour: dict[int, int]):
    """Python mirror: all pairwise quantized slopes, rank quantiles at
    integer-ceiling ranks."""
    hs = sorted(counts_by_hour)
    slopes = []
    for i, h1 in enumerate(hs):
        for h2 in hs[i + 1:]:
            dc = counts_by_hour[h2] - counts_by_hour[h1]
            dx = h2 - h1
            q = (1000 * dc) // dx if dc >= 0 else -((1000 * -dc) // dx)
            slopes.append(q)
    slopes.sort()
    n = len(slopes)

    def at(p):
        return slopes[(p * n + 999) // 1000 - 1]

    return n, at(500), at(100), at(900)


def test_theil_sen_linear_series_is_exact(spark, tmp_path):
    """A perfectly linear series has EVERY pairwise slope equal to the
    true slope — median, p10 and p90 all pin to 1000·k."""
    from wurzel_spark.queries.events import event_theil_sen_trend

    rows, eid = [], 0
    for h in range(8):
        for _ in range(3 + 2 * h):  # slope +2/hour
            eid += 1
            rows.append((eid, dt.datetime(2024, 1, 1, h), 1, "lin", 1.0, None))
    sf = _write_events(spark, rows, tmp_path)
    r = event_theil_sen_trend(spark, sf).collect()[0]
    assert r["n_pairs"] == 28
    assert r["sen_slope_q"] == r["slope_p10_q"] == r["slope_p90_q"] == 2000


def test_theil_sen_outlier_immune_and_matches_reference(spark, tmp_path):
    """One wild hour barely moves the Sen slope (the point of the
    estimator) and every emitted number equals the literal pairwise
    Python mirror."""
    from wurzel_spark.queries.events import event_theil_sen_trend

    series = {
        # slope +1/hour with one 100-event outlier at hour 3
        "outlier": {0: 5, 1: 6, 2: 7, 3: 100, 4: 9, 5: 10, 6: 11, 7: 12},
        # falling series with a gap (true epoch distance matters: the
        # 14->8 pair spans 3 hours -> slope -2000)
        "falling": {0: 14, 3: 8, 4: 6, 6: 2},
    }
    rows, eid = [], 0
    for et, by_hour in series.items():
        for h, c in by_hour.items():
            for _ in range(c):
                eid += 1
                rows.append((eid, dt.datetime(2024, 1, 1, h), 1, et, 1.0, None))
    sf = _write_events(spark, rows, tmp_path)
    out = {r["event_type"]: r for r in event_theil_sen_trend(spark, sf).collect()}
    for et, by_hour in series.items():
        n, med, p10, p90 = _sen_ref(by_hour)
        r = out[et]
        assert r["n_pairs"] == n, et
        assert (r["sen_slope_q"], r["slope_p10_q"], r["slope_p90_q"]) == (
            med,
            p10,
            p90,
        ), et
    # outlier immunity: median slope stays at ~+1/hour despite hour 3
    assert 900 <= out["outlier"]["sen_slope_q"] <= 1300
    assert out["falling"]["sen_slope_q"] == -2000


# --------------------------------- chi-square independence (Cramér's V)


def _chi2_ref(cells: dict[tuple[str, int], int]):
    """Python mirror of the per-cell-floored chi² identity."""
    types = sorted({t for t, _ in cells})
    hods = sorted({h for _, h in cells})
    n = sum(cells.values())
    r = {t: sum(c for (tt, _), c in cells.items() if tt == t) for t in types}
    col = {h: sum(c for (_, hh), c in cells.items() if hh == h) for h in hods}
    term_sum = sum(
        (1000 * n * o * o) // (r[t] * col[h]) for (t, h), o in cells.items()
    )
    chi2 = max(term_sum - 1000 * n, 0)
    mrc = min(len(types), len(hods))
    v2 = chi2 // (n * (mrc - 1)) if mrc > 1 else None
    return n, len(types), len(hods), chi2, v2


def _write_cells(spark, cells, tmp_path):
    rows, eid = [], 0
    for (et, h), c in cells.items():
        for _ in range(c):
            eid += 1
            rows.append((eid, dt.datetime(2024, 1, 1, h), 1, et, 1.0, None))
    return _write_events(spark, rows, tmp_path)


def test_independence_perfectly_independent_is_zero(spark, tmp_path):
    """Identical hourly profiles across types ⇒ every o equals r·c/N
    EXACTLY ⇒ chi² lands on 0 with no flooring slack."""
    from wurzel_spark.queries.events import event_hour_independence

    cells = {}
    for et in ("a", "b", "c"):
        cells[(et, 0)] = 4
        cells[(et, 1)] = 8
        cells[(et, 2)] = 12
    sf = _write_cells(spark, cells, tmp_path)
    r = event_hour_independence(spark, sf).collect()[0]
    assert r["chi2_permille"] == 0
    assert r["cramer_v2_permille"] == 0
    assert r["assoc_label"] == "negligible"
    assert r["dof"] == 4


def test_independence_perfect_association_is_full_v(spark, tmp_path):
    """Disjoint type↔hour support ⇒ V² = 1 (1000 permille, exact)."""
    from wurzel_spark.queries.events import event_hour_independence

    sf = _write_cells(spark, {("a", 0): 5, ("b", 1): 5}, tmp_path)
    r = event_hour_independence(spark, sf).collect()[0]
    assert r["cramer_v2_permille"] == 1000
    assert r["assoc_label"] == "strong"
    assert r["chi2_permille"] == 10000  # chi² = N with R=C=2 disjoint


def test_independence_single_type_is_undefined(spark, tmp_path):
    from wurzel_spark.queries.events import event_hour_independence

    sf = _write_cells(spark, {("only", 0): 3, ("only", 5): 4}, tmp_path)
    r = event_hour_independence(spark, sf).collect()[0]
    assert r["cramer_v2_permille"] is None
    assert r["assoc_label"] == "undefined"


def test_independence_matches_python_and_oracle(spark, tmp_path):
    """Arbitrary ragged table: Spark == Python mirror == DuckDB twin."""
    import duckdb
    from wurzel_spark.queries.events import (
        EVENT_INDEPENDENCE_SQL,
        event_hour_independence,
    )

    cells = {
        ("click", 0): 7, ("click", 1): 2, ("click", 9): 5,
        ("view", 0): 3, ("view", 9): 11,
        ("buy", 1): 1, ("buy", 9): 1,
    }
    sf = _write_cells(spark, cells, tmp_path)
    r = event_hour_independence(spark, sf).collect()[0]
    n, nt, nh, chi2, v2 = _chi2_ref(cells)
    assert (r["n_events"], r["n_types"], r["n_hour_buckets"]) == (n, nt, nh)
    assert r["chi2_permille"] == chi2
    assert r["cramer_v2_permille"] == v2
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM parquet_scan('{sf}/events.parquet/*.parquet')"
    )
    want = [tuple(x) for x in con.execute(EVENT_INDEPENDENCE_SQL).fetchall()]
    assert [tuple(r)] == want


# --------------------------------------------- inter-order gap analysis


def _write_order_fixture(spark, tmp_path, customers, orders):
    spark.createDataFrame(
        customers, "c_custkey long, c_name string, c_nationkey long,"
        " c_acctbal double, c_mktsegment string"
    ).coalesce(1).write.parquet(str(tmp_path / "customer.parquet"))
    spark.createDataFrame(
        orders,
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    ).coalesce(1).write.parquet(str(tmp_path / "orders.parquet"))
    return str(tmp_path)


def test_order_gap_hand_computed(spark, tmp_path):
    """Gaps, repeat rate and rank quantiles on a scripted ledger: two
    segments, one single-order customer (no gap), one same-day double
    order (gap 0)."""
    from wurzel_spark.queries.relational import order_gap_stats

    customers = [
        (1, "a", 0, 0.0, "AUTO"),
        (2, "b", 0, 0.0, "AUTO"),
        (3, "c", 0, 0.0, "MACH"),
        (4, "d", 0, 0.0, "MACH"),
    ]
    d = dt.datetime
    orders = [
        # cust 1 (AUTO): gaps 10, 20
        (1, 1, "O", 1.0, d(2024, 1, 1), "P"),
        (2, 1, "O", 1.0, d(2024, 1, 11), "P"),
        (3, 1, "O", 1.0, d(2024, 1, 31), "P"),
        # cust 2 (AUTO): single order — no gap, not a repeat customer
        (4, 2, "O", 1.0, d(2024, 3, 1), "P"),
        # cust 3 (MACH): same-day double order — gap 0 (orderkey breaks the tie)
        (5, 3, "O", 1.0, d(2024, 2, 1), "P"),
        (6, 3, "O", 1.0, d(2024, 2, 1), "P"),
        # cust 4 (MACH): gap 100
        (7, 4, "O", 1.0, d(2024, 1, 1), "P"),
        (8, 4, "O", 1.0, d(2024, 4, 10), "P"),
    ]
    sf = _write_order_fixture(spark, tmp_path, customers, orders)
    out = {r["segment"]: r for r in order_gap_stats(spark, sf).collect()}

    auto = out["AUTO"]
    assert (auto["n_customers"], auto["repeat_customers"]) == (2, 1)
    assert auto["repeat_permille"] == 500
    assert auto["n_gaps"] == 2 and auto["gap_days_sum"] == 30
    # ranks over sorted gaps [10, 20]: p50 -> rank ceil(0.5*2)=1 -> 10,
    # p90 -> rank ceil(0.9*2)=2 -> 20
    assert (auto["gap_p500_days"], auto["gap_p900_days"]) == (10, 20)

    mach = out["MACH"]
    assert (mach["n_customers"], mach["repeat_customers"]) == (2, 2)
    assert mach["n_gaps"] == 2 and mach["gap_days_sum"] == 100
    assert (mach["gap_p500_days"], mach["gap_p900_days"]) == (0, 100)


def test_order_gap_no_repeat_segment_is_null(spark, tmp_path):
    """A segment of only single-order customers has no gaps: NULL
    quantiles, zero repeat rate, and the left join keeps the row."""
    from wurzel_spark.queries.relational import order_gap_stats

    customers = [(1, "a", 0, 0.0, "LONELY")]
    orders = [(1, 1, "O", 1.0, dt.datetime(2024, 1, 1), "P")]
    sf = _write_order_fixture(spark, tmp_path, customers, orders)
    r = order_gap_stats(spark, sf).collect()[0]
    assert (r["n_customers"], r["repeat_customers"], r["repeat_permille"]) == (1, 0, 0)
    assert r["n_gaps"] is None and r["gap_p500_days"] is None


def test_order_gap_matches_oracle_on_fixture(spark, tmp_path):
    import duckdb
    from wurzel_spark.queries.relational import ORDER_GAP_SQL, order_gap_stats

    customers = [(1, "a", 0, 0.0, "S1"), (2, "b", 0, 0.0, "S1"), (3, "c", 0, 0.0, "S2")]
    d = dt.datetime
    orders = [
        (1, 1, "O", 1.0, d(2024, 1, 1), "P"),
        (2, 1, "O", 1.0, d(2024, 1, 8), "P"),
        (3, 2, "O", 1.0, d(2024, 2, 1), "P"),
        (4, 3, "O", 1.0, d(2024, 2, 1), "P"),
        (5, 3, "O", 1.0, d(2024, 2, 21), "P"),
    ]
    sf = _write_order_fixture(spark, tmp_path, customers, orders)
    got = [tuple(r) for r in order_gap_stats(spark, sf).collect()]
    con = duckdb.connect()
    for t in ("customer", "orders"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM parquet_scan('{sf}/{t}.parquet/*.parquet')"
        )
    want = [tuple(r) for r in con.execute(ORDER_GAP_SQL).fetchall()]
    assert got == want


# --------------------------------------------- min-max file skipping


def _write_orders(spark, tmp_path, orders):
    spark.createDataFrame(
        orders,
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    ).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "orders.parquet"))
    return str(tmp_path)


def test_file_pruning_hand_computed(spark, tmp_path):
    """16 rows / 4-row files, dates shuffled by construction so the
    arrival layout interleaves every file into the window while the
    sorted layout isolates it — counts checked by hand."""
    from wurzel_spark.operators.layout import q_file_pruning_stats

    d = dt.datetime
    # days 0..15 (Jan 1..16); span 15 -> window [0+15*45//100, 0+15*55//100]
    # = days [6, 8] -> Jan 7, 8, 9 (3 rows).
    # arrival order = orderkey; days laid out so each 4-row arrival file
    # contains one window day or its straddle:
    days_by_key = [0, 6, 15, 1, 7, 2, 14, 8, 3, 13, 4, 12, 5, 11, 9, 10]
    orders = [
        (k + 1, 1, "O", 1.0, d(2024, 1, 1 + days_by_key[k]), "P")
        for k in range(16)
    ]
    sf = _write_orders(spark, tmp_path, orders)
    out = {
        r["layout"]: r
        for r in q_file_pruning_stats(spark, sf, file_rows=4).collect()
    }
    a, s = out["arrival"], out["date_sorted"]
    # window days {6,7,8} -> rows_hit 3, min_files ceil(3/4) = 1
    assert a["rows_hit"] == s["rows_hit"] == 3
    assert a["min_files"] == s["min_files"] == 1
    assert a["n_files"] == s["n_files"] == 4
    # arrival files by key: [0,6,15,1],[7,2,14,8],[3,13,4,12],[5,11,9,10]
    # min/max spans: [0,15],[2,14],[3,13],[5,11] — ALL overlap [6,8]
    assert a["files_hit"] == 4 and a["pruned_permille"] == 0
    # sorted files: days [0..3],[4..7],[8..11],[12..15] -> hits 2 files
    assert s["files_hit"] == 2
    assert s["pruned_permille"] == (1000 * 2) // 4


def test_file_pruning_matches_oracle_on_fixture(spark, tmp_path):
    import duckdb
    from wurzel_spark.operators.layout import _file_pruning_sql, q_file_pruning_stats

    d = dt.datetime
    orders = [
        (k + 1, 1, "O", 1.0, d(2024, 2, 1 + (k * 7) % 27), "P") for k in range(30)
    ]
    sf = _write_orders(spark, tmp_path, orders)
    got = [tuple(r) for r in q_file_pruning_stats(spark, sf, file_rows=5).collect()]
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW orders AS SELECT * FROM parquet_scan('{sf}/orders.parquet/*.parquet')"
    )
    want = [tuple(r) for r in con.execute(_file_pruning_sql(5)).fetchall()]
    assert got == want
    assert got[0][1] == 6  # 30 rows / 5-row files


# ----------------------------------------- customer migration matrix


def test_migration_matrix_hand_computed(spark, tmp_path):
    """Scripted ledger: churned / retained / new / resurrected-to-multi
    customers land in the right cells; midpoint-day orders belong to H1."""
    from wurzel_spark.queries.relational import customer_migration_matrix

    customers = [
        (1, "a", 0, 0.0, "S"),
        (2, "b", 0, 0.0, "S"),
        (3, "c", 0, 0.0, "S"),
        (4, "d", 0, 0.0, "S"),
    ]
    d = dt.datetime
    # span: Jan 1 .. Jan 11 -> mid = day 5 (Jan 6, inclusive to H1)
    orders = [
        # cust 1: one order H1 only -> (one, none) = churned
        (1, 1, "O", 1.0, d(2024, 1, 1), "P"),
        # cust 2: H1 two orders (one ON the midpoint), H2 one -> (multi, one)
        (2, 2, "O", 1.0, d(2024, 1, 2), "P"),
        (3, 2, "O", 1.0, d(2024, 1, 6), "P"),
        (4, 2, "O", 1.0, d(2024, 1, 8), "P"),
        # cust 3: H2 only -> (none, one) = new
        (5, 3, "O", 1.0, d(2024, 1, 10), "P"),
        # cust 4: spans both, multi in H2 -> (one, multi)
        (6, 4, "O", 1.0, d(2024, 1, 3), "P"),
        (7, 4, "O", 1.0, d(2024, 1, 9), "P"),
        (8, 4, "O", 1.0, d(2024, 1, 11), "P"),
    ]
    sf = _write_order_fixture(spark, tmp_path, customers, orders)
    out = {
        (r["tier_h1"], r["tier_h2"]): r
        for r in customer_migration_matrix(spark, sf).collect()
    }
    assert out[("one", "none")]["n_customers"] == 1      # churned
    assert out[("multi", "one")]["n_customers"] == 1     # midpoint counts H1
    assert out[("none", "one")]["n_customers"] == 1      # new
    assert out[("one", "multi")]["n_customers"] == 1     # growing
    assert len(out) == 4
    assert all(r["share_permille"] == 250 for r in out.values())


def test_migration_matrix_matches_oracle_on_fixture(spark, tmp_path):
    import duckdb
    from wurzel_spark.queries.relational import (
        MIGRATION_SQL,
        customer_migration_matrix,
    )

    customers = [(1, "a", 0, 0.0, "X"), (2, "b", 0, 0.0, "Y")]
    d = dt.datetime
    orders = [
        (1, 1, "O", 1.0, d(2024, 5, 1), "P"),
        (2, 1, "O", 1.0, d(2024, 5, 2), "P"),
        (3, 1, "O", 1.0, d(2024, 5, 30), "P"),
        (4, 2, "O", 1.0, d(2024, 5, 16), "P"),
    ]
    sf = _write_order_fixture(spark, tmp_path, customers, orders)
    got = [tuple(r) for r in customer_migration_matrix(spark, sf).collect()]
    con = duckdb.connect()
    for t in ("customer", "orders"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM parquet_scan('{sf}/{t}.parquet/*.parquet')"
        )
    want = [tuple(r) for r in con.execute(MIGRATION_SQL).fetchall()]
    assert got == want and len(got) == 2


# --------------------------------------------- exact-integer OLS fit


def _write_lineitem(spark, tmp_path, rows):
    spark.createDataFrame(
        rows,
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber long,"
        " l_quantity double, l_extendedprice double, l_discount double,"
        " l_tax double, l_returnflag string, l_linestatus string,"
        " l_shipdate timestamp",
    ).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "lineitem.parquet"))
    return str(tmp_path)


def _li_row(flag, qty, price, k):
    return (k, 1, 1, 1, float(qty), float(price), 0.0, 0.0, flag, "O",
            dt.datetime(2024, 1, 1))


def test_ols_perfect_line_is_exact(spark, tmp_path):
    """y = 150 + 250·x cents exactly ⇒ slope 250 cents/unit = 250 000
    millicents, intercept 150 — recovered with zero quantization loss."""
    from wurzel_spark.queries.relational import ols_price_quantity

    rows = [
        _li_row("A", q, (150 + 250 * q) / 100.0, k + 1)
        for k, q in enumerate([1, 2, 3, 5, 8, 13])
    ]
    sf = _write_lineitem(spark, tmp_path, rows)
    r = ols_price_quantity(spark, sf).collect()[0]
    assert r["slope_millicents_per_unit"] == 250_000
    assert r["intercept_cents"] == 150


def test_ols_matches_fraction_reference_and_oracle(spark, tmp_path):
    """Arbitrary scatter (negative slope group included): Spark equals
    the big-int Fraction mirror of the shared algebra, and the DuckDB
    twin bit-for-bit."""
    import duckdb
    from wurzel_spark.queries.relational import OLS_SQL, ols_price_quantity

    data = {
        "A": [(1, 9.37), (2, 7.11), (3, 6.02), (4, 3.99)],   # falling
        "B": [(10, 1.00), (20, 3.50), (30, 2.25)],           # noisy rising
        "C": [(5, 2.00)],                                    # den = 0
    }
    rows, k = [], 0
    for flag, pts in data.items():
        for q, p in pts:
            k += 1
            rows.append(_li_row(flag, q, p, k))
    sf = _write_lineitem(spark, tmp_path, rows)
    out = {r["l_returnflag"]: r for r in ols_price_quantity(spark, sf).collect()}

    S = 100_000
    for flag, pts in data.items():
        xs = [100 * q for q, _ in pts]
        ys = [round(p * 100) for _, p in pts]
        n = len(pts)
        sx, sy = sum(xs), sum(ys)
        sxy = sum(x * y for x, y in zip(xs, ys))
        sxx = sum(x * x for x in xs)
        num, den = n * sxy - sx * sy, n * sxx - sx * sx
        if den == 0:
            slope = inter = None
        else:
            a = abs(num)
            q_ = (a // den) * S + ((a % den) * S) // den
            slope = q_ if num >= 0 else -q_
            nb = S * sy - slope * sx
            inter = nb // (S * n) if nb >= 0 else -((-nb) // (S * n))
        r = out[flag]
        assert r["slope_millicents_per_unit"] == slope, flag
        assert r["intercept_cents"] == inter, flag

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW lineitem AS SELECT * FROM parquet_scan('{sf}/lineitem.parquet/*.parquet')"
    )
    want = [tuple(r) for r in con.execute(OLS_SQL).fetchall()]
    got = [tuple(r) for r in ols_price_quantity(spark, sf).collect()]
    assert got == want


# --------------------------------------------- streaming OLS twin


def test_streaming_ols_matches_batch(spark, tmp_path):
    """Per-batch staged power sums drain bit-equal to the batch fit."""
    from wurzel_spark.queries.relational import ols_price_quantity
    from wurzel_spark.streaming.ols import ols_stream
    from wurzel_spark.tables import table as _table

    sf = "/root/testdata/sf0.001"
    li = _table(spark, sf, "lineitem").localCheckpoint()
    d = str(tmp_path / "ols_in")
    li.repartition(4).write.mode("overwrite").parquet(d)
    stream = (
        spark.readStream.schema(li.schema).option("maxFilesPerTrigger", 1).parquet(d)
    )
    got = ols_stream(
        stream, str(tmp_path / "ols_state"), str(tmp_path / "ols_ckpt"),
        compact_every=2,
    )
    want = ols_price_quantity(spark, sf)
    assert sorted(tuple(r) for r in got.collect()) == sorted(
        tuple(r) for r in want.collect()
    )


def test_streaming_ols_replay_is_idempotent(spark, tmp_path):
    """Re-staging the same batch id overwrites, never double-counts."""
    from wurzel_spark.queries.relational import ols_partials, ols_price_quantity
    from wurzel_spark.streaming._state import write_batch_state
    from wurzel_spark.streaming.ols import drain_ols_state
    from wurzel_spark.tables import table as _table

    sf = "/root/testdata/sf0.001"
    li = _table(spark, sf, "lineitem").localCheckpoint()
    state = str(tmp_path / "ols_state2")
    mine = ols_partials(li).withColumn("src_batch", F_lit0())
    for _ in range(3):  # replayed crash-window duplicates
        write_batch_state(spark, mine, state, 0, ["src_batch", "l_returnflag"], None)
    got = drain_ols_state(spark, state)
    assert sorted(tuple(r) for r in got.collect()) == sorted(
        tuple(r) for r in ols_price_quantity(spark, sf).collect()
    )


def F_lit0():
    from pyspark.sql import functions as F

    return F.lit(0)


# --------------------------------------------- IVF nprobe tuning sweep


def _vec64(**at):
    v = [0.0] * 64
    for k, x in at.items():
        v[int(k[1:])] = x
    return [float(x) for x in v]


def test_ivf_sweep_hand_planted_clusters(spark):
    """Two orthogonal clusters, one cross-cell neighbor: query 0's brute
    top-2 splits across cells, so recall climbs 500 → 1000 exactly as
    nprobe covers the second cell; full probe is always 1000."""
    from wurzel_spark.operators.similarity import ivf_nprobe_sweep

    rows = [
        # centroids (ids 0,1): cell A ~ e0, cell B ~ e2
        (0, _vec64(d0=1.0), 0),
        (1, _vec64(d2=1.0), 1),
        # id 2: firmly cell A (query 0's nearest non-self)
        (2, _vec64(d0=0.9), 0),
        # id 6: geometrically between, ASSIGNED to cell B (0.8 > 0.6)
        # but still query 0's second-best match (cos 0.6 > 0)
        (6, _vec64(d0=0.6, d2=0.8), 1),
        # far fillers in cell B
        (7, _vec64(d2=0.95), 1),
        (8, _vec64(d2=0.97), 1),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    out = {
        r["nprobe"]: r
        for r in ivf_nprobe_sweep(emb, k=2, n_centroids=2, n_queries=1).collect()
    }
    # query 0 brute top-2 = ids 2 (cell A) and 6 (cell B)
    assert out[1]["recall_permille"] == 500
    assert out[2]["recall_permille"] == 1000
    assert out[8]["recall_permille"] == 1000  # full probe sanity
    # cell A holds ids {0, 2} of 6 vectors -> 333 permille scanned at np=1
    assert out[1]["candidates_permille"] == (1000 * 2) // 6
    assert out[2]["candidates_permille"] == 1000


def test_ivf_sweep_monotone_and_matches_oracle_at_sf(spark):
    """On real sf0.001 embeddings the curve is monotone in nprobe and the
    registered DuckDB twin agrees bit-for-bit."""
    import duckdb
    from wurzel_spark.operators.similarity import IVF_SWEEP_SQL, q_ivf_nprobe_sweep

    sf = "/root/testdata/sf0.001"
    got = [tuple(r) for r in q_ivf_nprobe_sweep(spark, sf).collect()]
    rec = [g[2] for g in got]
    cand = [g[3] for g in got]
    assert rec == sorted(rec) and cand == sorted(cand)
    assert got[-1][2] == 1000 and got[-1][3] == 1000
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM parquet_scan('{sf}/embeddings.parquet')"
    )
    want = [tuple(r) for r in con.execute(IVF_SWEEP_SQL).fetchall()]
    assert got == want


# ------------------------------------------ importance-weight ESS audit


def _write_docs(spark, tmp_path, rows):
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    return str(tmp_path)


def test_ess_uniform_weights_is_1000(spark, tmp_path):
    """Identical documents ⇒ identical quantized weights ⇒ ESS exactly
    1000 permille (the Cauchy–Schwarz equality case)."""
    from wurzel_spark.operators.textstats import importance_ess_stats
    from wurzel_spark.tables import table as _table

    rows = [(i, "alpha beta gamma", "en", "src0" if i < 3 else "plain", 16)
            for i in range(8)]
    sf = _write_docs(spark, tmp_path, rows)
    out = {r["source"]: r for r in
           importance_ess_stats(_table(spark, sf, "documents")).collect()}
    assert out["src0"]["ess_permille"] == 1000
    assert out["plain"]["ess_permille"] == 1000


def test_ess_matches_python_mirror(spark, tmp_path):
    """Mixed corpus: every emitted number equals the literal big-int
    mirror of the shared algebra (bucket hash included)."""
    import hashlib
    from wurzel_spark.operators.textstats import (
        ESS_WEIGHT_SCALE,
        _DSIR_BUCKETS,
        importance_ess_stats,
    )
    from wurzel_spark.tables import table as _table

    docs = {
        1: ("the target words here", "src0"),
        2: ("target words again target", "src0"),
        3: ("totally other vocabulary now", "web"),
        4: ("the the the the the the", "web"),
        5: ("words target the other", "web"),
    }
    rows = [(i, t, "en", s, len(t)) for i, (t, s) in docs.items()]
    sf = _write_docs(spark, tmp_path, rows)
    got = {r["source"]: r for r in
           importance_ess_stats(_table(spark, sf, "documents")).collect()}

    def bucket(w):
        return int(hashlib.md5(w.encode()).hexdigest()[:15], 16) % _DSIR_BUCKETS

    c_raw, c_tgt = {}, {}
    for i, (t, s) in docs.items():
        for w in t.split():
            b = bucket(w)
            c_raw[b] = c_raw.get(b, 0) + 1
            if s in ("src0", "src1", "src2"):
                c_tgt[b] = c_tgt.get(b, 0) + 1
    t_raw, t_tgt = sum(c_raw.values()), sum(c_tgt.values())
    per_source = {}
    for i, (t, s) in docs.items():
        ws = t.split()
        n = len(ws)
        sr = sum(c_raw[bucket(w)] for w in ws)
        st = sum(c_tgt.get(bucket(w), 0) for w in ws)
        wq = (ESS_WEIGHT_SCALE * (st + n) * (t_raw + n)) // ((sr + n) * (t_tgt + n))
        per_source.setdefault(s, []).append(wq)
    for s, wqs in per_source.items():
        n, wsum, w2 = len(wqs), sum(wqs), sum(w * w for w in wqs)
        ess = (1000 * wsum * wsum) // (n * w2) if w2 else None
        r = got[s]
        assert (r["n_docs"], r["wq_sum"], r["wq2_sum"]) == (n, wsum, w2), s
        assert r["ess_permille"] == ess, s
        assert r["ess_permille"] <= 1000  # Cauchy–Schwarz


# --------------------------------------------- SCD2 interval build


def test_scd2_hand_built_history(spark):
    """Insert→update→delete for one id, insert-only for another: version
    numbering, touching bounds, tombstone closure and currency flags all
    land per the SCD2 contract."""
    from wurzel_spark.operators.snapshots import scd2_intervals

    d = dt.datetime
    log = spark.createDataFrame(
        [
            (1, d(2026, 1, 1), "upsert", "v1"),
            (1, d(2026, 1, 5), "upsert", "v2"),
            (1, d(2026, 1, 9), "delete", None),
            (2, d(2026, 1, 2), "upsert", "only"),
        ],
        "doc_id long, ts timestamp, op string, text string",
    )
    rows = {(r["doc_id"], r["version_n"]): r
            for r in scd2_intervals(log).collect()}
    assert len(rows) == 3  # the tombstone contributes no interval
    v1, v2 = rows[(1, 1)], rows[(1, 2)]
    assert v1["valid_from"] == d(2026, 1, 1) and v1["valid_to"] == d(2026, 1, 5)
    assert not v1["is_current"]
    # the delete closes v2 — id 1 has NO current row
    assert v2["valid_from"] == d(2026, 1, 5) and v2["valid_to"] == d(2026, 1, 9)
    assert not v2["is_current"]
    only = rows[(2, 1)]
    assert only["is_current"] and only["valid_to"] == d(2200, 1, 1)
    # intervals tile: as-of day 3 sees v1, day 6 sees v2, day 10 nothing
    def asof(t):
        return [k for k, r in rows.items()
                if k[0] == 1 and r["valid_from"] <= t < r["valid_to"]]
    assert asof(d(2026, 1, 3)) == [(1, 1)]
    assert asof(d(2026, 1, 6)) == [(1, 2)]
    assert asof(d(2026, 1, 10)) == []


def test_scd2_agrees_with_cdc_snapshot_at(spark):
    """The interval table's as-of filter reproduces cdc_snapshot_at's
    point read on the shared synthetic log — the two CDC views are one
    consistent history."""
    from wurzel_spark.operators.snapshots import q_cdc_snapshot_at, q_scd2_intervals

    sf = "/root/testdata/sf0.001"
    at = dt.datetime(2026, 1, 16)  # day 15 boundary, the snapshot's AS OF
    hist = q_scd2_intervals(spark, sf).collect()
    from_hist = sorted(
        (r["doc_id"], r["content_sha256"]) for r in hist
        if r["valid_from"] <= at and at < r["valid_to"]
    )
    snap = sorted(
        (r["doc_id"], r["content_sha256"])
        for r in q_cdc_snapshot_at(spark, sf).collect()
    )
    assert from_hist == snap and len(snap) > 0


# ----------------------------------------- source term-frequency drift


def test_source_tv_extremes(spark, tmp_path):
    """Identical usage rates ⇒ TV 0; disjoint head usage ⇒ TV 1000; a
    planted half-shift lands exactly on the Fraction mirror."""
    from fractions import Fraction
    from wurzel_spark.operators.textstats import source_tv_matrix
    from wurzel_spark.tables import table as _table

    rows = [
        # twin_a / twin_b: same rates (2:1 alpha:beta) -> TV 0
        (1, "alpha alpha beta", "en", "twin_a", 1),
        (2, "alpha alpha beta alpha alpha beta", "en", "twin_b", 1),
        # disjoint: only gammas -> vs twins TV 1000
        (3, "gamma gamma gamma", "en", "disjoint", 1),
        # half: alpha only (twins are 2/3 alpha 1/3 beta)
        (4, "alpha alpha alpha", "en", "half", 1),
    ]
    sf = _write_docs(spark, tmp_path, rows)
    out = {(r["src_a"], r["src_b"]): r["head_tv_permille"]
           for r in source_tv_matrix(_table(spark, sf, "documents")).collect()}
    assert out[("twin_a", "twin_b")] == 0
    assert out[("disjoint", "twin_a")] == 1000
    assert out[("disjoint", "half")] == 1000
    # TV(half, twin_a) = 1/2(|1 - 2/3| + |0 - 1/3|) = 1/3
    want = int(Fraction(1, 3) * 1000)
    assert out[("half", "twin_a")] == want


def test_source_tv_head_truncation_is_honest(spark, tmp_path):
    """head_share reports the truncated mass: a source whose tokens all
    sit outside the head vocab shows share 0 and NULL TV (n_head = 0),
    never a silently wrong 0-distance."""
    from wurzel_spark.operators.textstats import TV_HEAD_VOCAB, source_tv_matrix
    from wurzel_spark.tables import table as _table

    # head vocab = 500: fill it with 500 distinct hot terms from 'hot',
    # then 'cold' uses only terms that lose every tie to the hot ones
    hot_terms = " ".join(f"aa{i:04d} aa{i:04d}" for i in range(TV_HEAD_VOCAB))
    cold_terms = " ".join(f"zz{i:04d}" for i in range(50))
    rows = [
        (1, hot_terms, "en", "hot", 1),
        (2, cold_terms, "en", "cold", 1),
    ]
    sf = _write_docs(spark, tmp_path, rows)
    got = source_tv_matrix(_table(spark, sf, "documents")).collect()
    r = {(x["src_a"], x["src_b"]): x for x in got}[("cold", "hot")]
    assert r["head_share_a"] == 0 and r["head_share_b"] == 1000
    assert r["head_tv_permille"] is None


def test_source_tv_matches_oracle_on_fixture(spark, tmp_path):
    import duckdb
    from wurzel_spark.operators.textstats import SOURCE_TV_SQL, source_tv_matrix
    from wurzel_spark.tables import table as _table

    rows = [
        (1, "a a b c", "en", "s1", 1),
        (2, "a b b d", "en", "s2", 1),
        (3, "c c d", "en", "s3", 1),
    ]
    sf = _write_docs(spark, tmp_path, rows)
    got = [tuple(r) for r in
           source_tv_matrix(_table(spark, sf, "documents")).collect()]
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM parquet_scan('{sf}/documents.parquet/*.parquet')"
    )
    want = [tuple(r) for r in con.execute(SOURCE_TV_SQL).fetchall()]
    assert got == want and len(got) == 3


# --------------------------------------------- weekly retention curve


def test_retention_curve_hand_computed(spark, tmp_path):
    """Two cohorts, users dropping out at known weeks: the grid, the
    guaranteed-1000 diagonal, and resurrection (a silent week then back)
    all count as designed."""
    from wurzel_spark.queries.events import user_retention_curve

    d = dt.datetime
    rows, eid = [], 0
    # cohort week of 2024-01-01 (a Monday): users 1,2,3
    #   u1 active weeks 0,1,2 ; u2 weeks 0,2 (resurrected) ; u3 week 0 only
    # cohort +1 week: users 4,5 — u4 weeks 0,1 ; u5 week 0
    plan = {
        1: [d(2024, 1, 1), d(2024, 1, 8), d(2024, 1, 15)],
        2: [d(2024, 1, 2), d(2024, 1, 16)],
        3: [d(2024, 1, 3)],
        4: [d(2024, 1, 8), d(2024, 1, 15)],
        5: [d(2024, 1, 9)],
    }
    for u, times in plan.items():
        for t in times:
            eid += 1
            rows.append((eid, t, u, "click", 1.0, None))
    sf = _write_events(spark, rows, tmp_path)
    out = {(r["cohort_week"], r["age_weeks"]): r
           for r in user_retention_curve(spark, sf).collect()}
    c0 = min(k[0] for k in out)
    assert out[(c0, 0)]["n_retained"] == 3
    assert out[(c0, 0)]["retention_permille"] == 1000  # the diagonal
    assert out[(c0, 1)]["n_retained"] == 1            # only u1
    assert out[(c0, 2)]["n_retained"] == 2            # u1 + resurrected u2
    assert out[(c0, 2)]["retention_permille"] == 666
    assert out[(c0 + 1, 0)]["n_retained"] == 2
    assert out[(c0 + 1, 1)]["n_retained"] == 1
    assert (c0 + 1, 2) not in out


def test_retention_matches_oracle_on_fixture(spark, tmp_path):
    import duckdb
    from wurzel_spark.queries.events import RETENTION_SQL, user_retention_curve

    d = dt.datetime
    rows = [
        (1, d(2024, 3, 4), 1, "a", 1.0, None),
        (2, d(2024, 3, 12), 1, "a", 1.0, None),
        (3, d(2024, 3, 5), 2, "a", 1.0, None),
    ]
    sf = _write_events(spark, rows, tmp_path)
    got = [tuple(r) for r in user_retention_curve(spark, sf).collect()]
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM parquet_scan('{sf}/events.parquet/*.parquet')"
    )
    want = [tuple(r) for r in con.execute(RETENTION_SQL).fetchall()]
    assert got == want and len(got) == 2


# --------------------------------------------- funnel step latency


def test_funnel_latency_hand_computed(spark, tmp_path):
    """Known first-occurrence times: out-of-order users drop, repeat
    events don't move the FIRST timestamps, quantiles hit the planted
    values."""
    from wurzel_spark.queries.events import funnel_latency_stats

    d = dt.datetime
    rows, eid = [], 0

    def ev(u, t, ts):
        nonlocal eid
        eid += 1
        rows.append((eid, ts, u, t, 1.0, None))

    # u1: view 10:00, click 10:01 (61s later a SECOND view — ignored),
    #     purchase 10:11 -> legs 60 s and 600 s
    ev(1, "view", d(2024, 1, 1, 10, 0, 0))
    ev(1, "click", d(2024, 1, 1, 10, 1, 0))
    ev(1, "view", d(2024, 1, 1, 10, 1, 1))
    ev(1, "purchase", d(2024, 1, 1, 10, 11, 0))
    # u2: view then click 120 s later, no purchase
    ev(2, "view", d(2024, 1, 1, 11, 0, 0))
    ev(2, "click", d(2024, 1, 1, 11, 2, 0))
    # u3: click BEFORE view -> drops from view->click, no purchase leg
    ev(3, "click", d(2024, 1, 1, 12, 0, 0))
    ev(3, "view", d(2024, 1, 1, 12, 5, 0))
    sf = _write_events(spark, rows, tmp_path)
    out = {r["leg"]: r for r in funnel_latency_stats(spark, sf).collect()}
    vc = out["view->click"]
    assert vc["n_users"] == 2 and vc["lat_sum_s"] == 180
    # sorted [60, 120]: p50 -> rank 1 -> 60, p90 -> rank 2 -> 120
    assert (vc["lat_p500_s"], vc["lat_p900_s"]) == (60, 120)
    cp = out["click->purchase"]
    assert cp["n_users"] == 1 and cp["lat_sum_s"] == 600
    assert (cp["lat_p500_s"], cp["lat_p900_s"]) == (600, 600)


def test_funnel_latency_matches_oracle_on_fixture(spark, tmp_path):
    import duckdb
    from wurzel_spark.queries.events import FUNNEL_LATENCY_SQL, funnel_latency_stats

    d = dt.datetime
    rows = [
        (1, d(2024, 2, 1, 9, 0, 0), 1, "view", 1.0, None),
        (2, d(2024, 2, 1, 9, 0, 30), 1, "click", 1.0, None),
        (3, d(2024, 2, 1, 9, 5, 0), 1, "purchase", 1.0, None),
        (4, d(2024, 2, 1, 10, 0, 0), 2, "view", 1.0, None),
        (5, d(2024, 2, 1, 10, 0, 45), 2, "click", 1.0, None),
    ]
    sf = _write_events(spark, rows, tmp_path)
    got = [tuple(r) for r in funnel_latency_stats(spark, sf).collect()]
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM parquet_scan('{sf}/events.parquet/*.parquet')"
    )
    want = [tuple(r) for r in con.execute(FUNNEL_LATENCY_SQL).fetchall()]
    assert got == want and len(got) == 2


# ------------------------------------------ Brier score decomposition


def _hist(spark, rows):
    return spark.createDataFrame(rows, "source string, q1000 long, pos long, neg long")


def test_brier_perfectly_calibrated_is_pure_uncertainty(spark):
    """Constant forecast q = base rate ⇒ REL = RES = residual = 0 and
    Brier = UNC exactly (the Murphy identity's equality case)."""
    from wurzel_spark.operators.textstats import brier_from_hist

    r = brier_from_hist(_hist(spark, [("s", 500, 5, 5)])).collect()[0]
    assert r["brier_micros"] == 250_000
    assert r["reliability_micros"] == 0
    assert r["resolution_micros"] == 0
    assert r["uncertainty_micros"] == 250_000
    assert r["residual_micros"] == 0


def test_brier_perfect_and_inverted_forecasters(spark):
    """A perfect forecaster (q=1000 on keeps, q=0 on drops) scores Brier 0
    with RES = UNC; an inverted one scores Brier 1e6 with the same RES."""
    from wurzel_spark.operators.textstats import brier_from_hist

    perfect = _hist(spark, [("p", 1000, 7, 0), ("p", 0, 0, 3)])
    r = {x["source"]: x for x in brier_from_hist(perfect).collect()}["p"]
    assert r["brier_micros"] == 0 and r["reliability_micros"] == 0
    assert r["uncertainty_micros"] == 700 * 300
    assert r["resolution_micros"] == r["uncertainty_micros"]
    assert r["residual_micros"] == 0

    inverted = _hist(spark, [("i", 0, 7, 0), ("i", 1000, 0, 3)])
    r2 = brier_from_hist(inverted).collect()[0]
    assert r2["brier_micros"] == 1_000_000
    assert r2["resolution_micros"] == 700 * 300
    # Brier = REL - RES + UNC closes: REL = 1e6 + RES - UNC
    assert r2["reliability_micros"] == 1_000_000
    assert r2["residual_micros"] == 0


def test_brier_matches_python_mirror_with_remainder(spark):
    """Mixed within-bin forecasts: the three-term identity does NOT close
    (the classic form assumes constant forecasts per bin) — the emitted
    residual carries exactly the remainder."""
    from wurzel_spark.operators.textstats import brier_from_hist

    rows = [("m", 120, 3, 7), ("m", 180, 5, 5), ("m", 920, 9, 1), ("m", 450, 2, 8)]
    r = brier_from_hist(_hist(spark, rows)).collect()[0]
    n = sum(p + ng for _, _, p, ng in rows)
    pt = sum(p for _, _, p, _ in rows)
    brier = sum(p * (q - 1000) ** 2 + ng * q * q for _, q, p, ng in rows) // n
    ybar = 1000 * pt // n
    bins = {}
    for _, q, p, ng in rows:
        b = min(q // 100, 9)
        nb, yb, sb = bins.get(b, (0, 0, 0))
        bins[b] = (nb + p + ng, yb + 1000 * p, sb + q * (p + ng))
    rel = sum((sb - yb) ** 2 // nb for nb, yb, sb in bins.values()) // n
    res = sum((yb - nb * ybar) ** 2 // nb for nb, yb, sb in bins.values()) // n
    unc = ybar * (1000 - ybar)
    assert r["brier_micros"] == brier
    assert r["reliability_micros"] == rel
    assert r["resolution_micros"] == res
    assert r["uncertainty_micros"] == unc
    assert r["residual_micros"] == brier - rel + res - unc
    assert r["residual_micros"] != 0  # the remainder is real here


# ----------------------------------------- streaming source-TV twin


def test_streaming_source_tv_matches_batch(spark, tmp_path):
    """Per-batch staged term counts drain bit-equal to the batch matrix."""
    from wurzel_spark.operators.textstats import source_tv_matrix
    from wurzel_spark.streaming.sourcetv import source_tv_stream
    from wurzel_spark.tables import table as _table

    sf = "/root/testdata/sf0.001"
    docs = _table(spark, sf, "documents").localCheckpoint()
    d = str(tmp_path / "tv_in")
    docs.repartition(4).write.mode("overwrite").parquet(d)
    stream = (
        spark.readStream.schema(docs.schema).option("maxFilesPerTrigger", 1).parquet(d)
    )
    got = source_tv_stream(
        stream, str(tmp_path / "tv_state"), str(tmp_path / "tv_ckpt"),
        compact_every=2,
    )
    want = source_tv_matrix(docs)
    g = sorted(tuple(r) for r in got.collect())
    assert g == sorted(tuple(r) for r in want.collect()) and len(g) > 0


def test_streaming_source_tv_replay_is_idempotent(spark, tmp_path):
    from wurzel_spark.operators.textstats import source_term_counts, source_tv_matrix
    from wurzel_spark.streaming._state import write_batch_state
    from wurzel_spark.streaming.sourcetv import drain_source_tv_state
    from wurzel_spark.tables import table as _table

    sf = "/root/testdata/sf0.001"
    docs = _table(spark, sf, "documents").localCheckpoint()
    state = str(tmp_path / "tv_state2")
    mine = source_term_counts(docs, "text").withColumn("src_batch", F_lit0())
    for _ in range(3):
        write_batch_state(spark, mine, state, 0, ["src_batch", "source", "w"], None)
    got = drain_source_tv_state(spark, state)
    assert sorted(tuple(r) for r in got.collect()) == sorted(
        tuple(r) for r in source_tv_matrix(docs).collect()
    )


# --------------------------------------------- last-touch attribution


def test_attribution_hand_computed(spark, tmp_path):
    """In-window touch credits its type; stale touch and no-touch are
    organic; a purchase between touches takes the LATEST preceding one."""
    from wurzel_spark.queries.events import purchase_attribution

    d = dt.datetime
    rows, eid = [], 0

    def ev(u, t, ts):
        nonlocal eid
        eid += 1
        rows.append((eid, ts, u, t, 1.0, None))

    # u1: click 10:00 -> purchase 10:10 (in window, credited to click)
    ev(1, "click", d(2024, 1, 1, 10, 0))
    ev(1, "purchase", d(2024, 1, 1, 10, 10))
    # u2: view 09:00 -> purchase 11:00 (stale, organic)
    ev(2, "view", d(2024, 1, 1, 9, 0))
    ev(2, "purchase", d(2024, 1, 1, 11, 0))
    # u3: purchase with no prior events at all (organic)
    ev(3, "purchase", d(2024, 1, 1, 12, 0))
    # u4: view 13:00, click 13:05, purchase 13:10 -> latest touch = click
    ev(4, "view", d(2024, 1, 1, 13, 0))
    ev(4, "click", d(2024, 1, 1, 13, 5))
    ev(4, "purchase", d(2024, 1, 1, 13, 10))
    # u5: purchase 14:00 then click 14:01 (touch AFTER purchase ignored)
    ev(5, "purchase", d(2024, 1, 1, 14, 0))
    ev(5, "click", d(2024, 1, 1, 14, 1))
    sf = _write_events(spark, rows, tmp_path)
    out = {r["attributed_to"]: r for r in purchase_attribution(spark, sf).collect()}
    assert out["click"]["n_purchases"] == 2  # u1 + u4
    assert out["organic"]["n_purchases"] == 3  # u2 stale, u3 cold, u5 post-touch
    assert "view" not in out
    assert out["click"]["share_permille"] == 400


def test_attribution_matches_oracle_on_fixture(spark, tmp_path):
    import duckdb
    from wurzel_spark.queries.events import ATTRIBUTION_SQL, purchase_attribution

    d = dt.datetime
    rows = [
        (1, d(2024, 5, 1, 8, 0), 1, "view", 1.0, None),
        (2, d(2024, 5, 1, 8, 20), 1, "purchase", 1.0, None),
        (3, d(2024, 5, 1, 9, 0), 2, "purchase", 1.0, None),
        (4, d(2024, 5, 1, 9, 30), 2, "click", 1.0, None),
        (5, d(2024, 5, 1, 9, 45), 2, "purchase", 1.0, None),
    ]
    sf = _write_events(spark, rows, tmp_path)
    got = [tuple(r) for r in purchase_attribution(spark, sf).collect()]
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM parquet_scan('{sf}/events.parquet/*.parquet')"
    )
    want = [tuple(r) for r in con.execute(ATTRIBUTION_SQL).fetchall()]
    assert got == want and len(got) >= 2


# ------------------------------------------ one-way ANOVA (length ~ lang)


def test_anova_identical_groups_is_zero_between(spark, tmp_path):
    """Same length distribution in every language ⇒ SSB 0, F 0, η² 0."""
    from wurzel_spark.operators.textstats import length_anova_stats
    from wurzel_spark.tables import table as _table

    rows = []
    i = 0
    for lang in ("en", "de", "fr"):
        for n in (100, 200, 300):
            i += 1
            rows.append((i, "x", lang, "s", n))
    sf = _write_docs(spark, tmp_path, rows)
    r = length_anova_stats(_table(spark, sf, "documents")).collect()[0]
    assert r["ss_between"] == 0
    assert r["f_permille"] == 0 and r["eta2_permille"] == 0


def test_anova_separated_groups_and_python_mirror(spark, tmp_path):
    """Fully separated groups push η² toward 1000; every number equals
    the literal big-int mirror of the per-group-floored algebra."""
    from wurzel_spark.operators.textstats import length_anova_stats
    from wurzel_spark.tables import table as _table

    groups = {"short": [10, 12, 11, 13], "long": [500, 498, 502], "mid": [200, 204]}
    rows, i = [], 0
    for lang, lens in groups.items():
        for n in lens:
            i += 1
            rows.append((i, "x", lang, "s", n))
    sf = _write_docs(spark, tmp_path, rows)
    r = length_anova_stats(_table(spark, sf, "documents")).collect()[0]

    k = len(groups)
    n = sum(len(v) for v in groups.values())
    s = sum(sum(v) for v in groups.values())
    s2 = sum(x * x for v in groups.values() for x in v)
    gsum = sum(sum(v) ** 2 // len(v) for v in groups.values())
    ssb = max(gsum - s * s // n, 0)
    ssw = s2 - gsum
    assert (r["n_groups"], r["n_docs"]) == (k, n)
    assert r["ss_between"] == ssb and r["ss_within"] == ssw
    assert r["f_permille"] == (1000 * ssb * (n - k)) // (ssw * (k - 1))
    assert r["eta2_permille"] == (1000 * ssb) // (ssb + ssw)
    assert r["eta2_permille"] > 990


def test_anova_single_group_is_null_f(spark, tmp_path):
    from wurzel_spark.operators.textstats import length_anova_stats
    from wurzel_spark.tables import table as _table

    rows = [(1, "x", "en", "s", 10), (2, "x", "en", "s", 20)]
    sf = _write_docs(spark, tmp_path, rows)
    r = length_anova_stats(_table(spark, sf, "documents")).collect()[0]
    assert r["f_permille"] is None


def test_anova_matches_oracle_on_fixture(spark, tmp_path):
    import duckdb
    from wurzel_spark.operators.textstats import LENGTH_ANOVA_SQL, length_anova_stats
    from wurzel_spark.tables import table as _table

    rows = [(i, "x", ["en", "de"][i % 2], "s", 50 + 37 * i) for i in range(12)]
    sf = _write_docs(spark, tmp_path, rows)
    got = [tuple(r) for r in length_anova_stats(_table(spark, sf, "documents")).collect()]
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM parquet_scan('{sf}/documents.parquet/*.parquet')"
    )
    want = [tuple(r) for r in con.execute(LENGTH_ANOVA_SQL).fetchall()]
    assert got == want


# ------------------------------------------ Fisher label separability


def test_fisher_separated_vs_shuffled_labels(spark):
    """Label-aligned clusters score high η²; the SAME vectors with labels
    decoupled from geometry score near zero — the readout the family
    exists for."""
    from wurzel_spark.operators.linalg import fisher_separability_stats

    def vec(axis, eps):
        v = [0.0] * 64
        v[axis] = 1.0
        v[axis + 1] = eps
        return v

    rows_sep, rows_mix = [], []
    i = 0
    for axis, lbl in ((0, 0), (10, 1), (20, 2)):
        for k in range(6):
            i += 1
            rows_sep.append((i, vec(axis, 0.01 * k), lbl))
            # same geometry, label assigned round-robin (decoupled)
            rows_mix.append((i, vec(axis, 0.01 * k), i % 3))
    schema = "vec_id long, embedding array<float>, label int"
    sep = fisher_separability_stats(spark.createDataFrame(rows_sep, schema)).collect()[0]
    mix = fisher_separability_stats(spark.createDataFrame(rows_mix, schema)).collect()[0]
    assert sep["eta2_permille"] > 950
    assert mix["eta2_permille"] < 100
    assert sep["n_labels"] == 3 and sep["n_vectors"] == 18


def test_fisher_matches_python_mirror(spark):
    """Every emitted number equals the literal per-dim floored-scatter
    mirror at the 2^10 quantization."""
    from wurzel_spark.operators.linalg import FISHER_QSCALE, fisher_separability_stats

    import math
    vecs = {
        0: [[0.9, 0.1] + [0.0] * 62, [0.8, 0.2] + [0.0] * 62],
        1: [[0.1, 0.9] + [0.0] * 62, [0.3, 0.7] + [0.0] * 62, [0.2, 0.8] + [0.0] * 62],
    }
    rows = []
    i = 0
    for lbl, vs in vecs.items():
        for v in vs:
            i += 1
            rows.append((i, v, lbl))
    got = fisher_separability_stats(
        spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    ).collect()[0]

    def q(x):
        # float32 storage: quantize the float32-rounded value like the engines
        import struct
        x32 = struct.unpack("f", struct.pack("f", x))[0]
        return max(min(math.floor(x32 * FISHER_QSCALE), 2147483647), -2147483648)

    ssb = ssw = 0
    for d in range(64):
        per = {l: [q(v[d]) for v in vs] for l, vs in vecs.items()}
        gsum = sum(sum(xs) ** 2 // len(xs) for xs in per.values())
        sd = sum(sum(xs) for xs in per.values())
        s2d = sum(x * x for xs in per.values() for x in xs)
        n = sum(len(xs) for xs in per.values())
        ssb += max(gsum - (sd * sd) // n, 0)
        ssw += s2d - gsum
    assert got["trace_between"] == ssb
    assert got["trace_within"] == ssw
    assert got["eta2_permille"] == (1000 * ssb) // (ssb + ssw)


# --------------------------------------------- SLO burn-rate alerts


def test_slo_burn_hand_computed(spark, tmp_path):
    """A planted error storm fires fast_burn exactly in its hours; the
    quiet baseline never flags; window shares match the literal sums."""
    from wurzel_spark.queries.events import slo_burn_stats

    d = dt.datetime
    rows, eid = [], 0
    # 29 quiet hours (1% errors — half the budget), then a TWO-hour storm
    # at 50% errors: hour 29 must NOT page yet (the 6h window hasn't
    # burned — the multi-window design suppresses one-hour blips), hour
    # 30 pages.
    for h in range(31):
        n_err = 50 if h >= 29 else 1
        for i in range(100):
            eid += 1
            rows.append((eid, d(2024, 1, 1) + dt.timedelta(hours=h), 1,
                         "error" if i < n_err else "click", 1.0, None))
    sf = _write_events(spark, rows, tmp_path)
    out = {r["hour"].hour + 24 * (r["hour"].day - 1): r
           for r in slo_burn_stats(spark, sf).collect()}
    blip, storm = out[29], out[30]
    assert blip["err_permille"] == storm["err_permille"] == 500
    assert blip["err6_permille"] == (1000 * 55) // 600   # 91 < 120: hold
    assert not blip["fast_burn"]
    assert storm["err6_permille"] == (1000 * 104) // 600  # 173 > 120: page
    assert storm["fast_burn"]
    quiet = out[15]
    assert quiet["err_permille"] == 10
    assert not quiet["fast_burn"] and not quiet["slow_burn"]


def test_slo_burn_matches_oracle_on_fixture(spark, tmp_path):
    import duckdb
    from wurzel_spark.queries.events import SLO_BURN_SQL, slo_burn_stats

    d = dt.datetime
    rows, eid = [], 0
    for h in range(8):
        for i in range(20):
            eid += 1
            rows.append((eid, d(2024, 6, 1) + dt.timedelta(hours=h), 1,
                         "error" if i < (h % 4) else "view", 1.0, None))
    sf = _write_events(spark, rows, tmp_path)
    got = [tuple(r) for r in slo_burn_stats(spark, sf).collect()]
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM parquet_scan('{sf}/events.parquet/*.parquet')"
    )
    want = [tuple(r) for r in con.execute(SLO_BURN_SQL).fetchall()]
    assert got == want and len(got) == 8


# --------------------------------------------- value percentiles


def test_value_percentiles_hand_computed(spark, tmp_path):
    """Known values incl. a negative and a NaN: floor-quantization
    (floor, not cast — negative values floor DOWN), NaN exclusion, and
    the three rank picks all land."""
    import math
    from wurzel_spark.queries.events import value_percentiles_by_type

    d = dt.datetime
    vals = [0.0015, 0.5, 1.2349, -0.0011, 2.0, 0.75, 3.5, 1.0, 0.25, 4.2]
    rows = [(i + 1, d(2024, 1, 1), 1, "lat", v, None) for i, v in enumerate(vals)]
    rows.append((99, d(2024, 1, 1), 1, "lat", float("nan"), None))
    sf = _write_events(spark, rows, tmp_path)
    r = value_percentiles_by_type(spark, sf).collect()[0]
    milli = sorted(math.floor(v * 1000) for v in vals)
    assert r["n_values"] == 10 and r["sum_milli"] == sum(milli)
    assert r["p500_milli"] == milli[(500 * 10 + 999) // 1000 - 1]
    assert r["p900_milli"] == milli[(900 * 10 + 999) // 1000 - 1]
    assert r["p990_milli"] == milli[-1]
    assert min(milli) == -2  # floor(-0.0011*1000) = -2, not -1


def test_value_percentiles_matches_oracle_on_fixture(spark, tmp_path):
    import duckdb
    from wurzel_spark.queries.events import (
        VALUE_PERCENTILES_SQL,
        value_percentiles_by_type,
    )

    d = dt.datetime
    rows = [(i + 1, d(2024, 1, 1), 1, ["a", "b"][i % 2], 0.37 * i - 1.1, None)
            for i in range(17)]
    sf = _write_events(spark, rows, tmp_path)
    got = [tuple(r) for r in value_percentiles_by_type(spark, sf).collect()]
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM parquet_scan('{sf}/events.parquet/*.parquet')"
    )
    want = [tuple(r) for r in con.execute(VALUE_PERCENTILES_SQL).fetchall()]
    assert got == want and len(got) == 2


# ------------------------------------------ column encoding audit


def test_column_encoding_hand_computed(spark, tmp_path):
    """Constant, two-run, alternating and all-distinct columns land in
    rle/dict/plain with hand-counted runs and exact dict bits."""
    from wurzel_spark.operators.layout import q_column_encoding_stats

    d = dt.datetime
    rows = []
    for i in range(20):
        rows.append((
            i + 1, 1, 1, 1,
            # l_quantity: constant -> 1 run, rle
            5.0,
            # l_extendedprice unused by the audit
            1.0,
            # l_discount: alternating 0/0.05 -> 20 runs, 2 distinct -> dict
            [0.0, 0.05][i % 2],
            0.0,
            # l_returnflag: first half A, second half B -> 2 runs
            "A" if i < 10 else "B",
            "O",
            # l_shipdate: all distinct days -> 20 runs, plain-ish
            d(2024, 1, 1 + i),
        ))
    sf = _write_lineitem(spark, tmp_path, rows)
    out = {r["column_name"]: r for r in q_column_encoding_stats(spark, sf).collect()}
    q = out["l_quantity"]
    assert (q["n_runs"], q["n_distinct"], q["suggested"]) == (1, 1, "rle")
    assert q["dict_bits"] == 0
    disc = out["l_discount"]
    assert (disc["n_runs"], disc["n_distinct"], disc["dict_bits"]) == (20, 2, 1)
    flag = out["l_returnflag"]
    # 2 runs / 20 rows = exactly 100‰ — the strict < boundary: NOT rle,
    # falls through to the 1-bit dictionary
    assert (flag["n_runs"], flag["run_permille"], flag["suggested"]) == (2, 100, "dict")
    ship = out["l_shipdate"]
    assert ship["n_runs"] == 20 and ship["n_distinct"] == 20
    assert ship["dict_bits"] == 5  # ceil_log2(20) = len(bin(19)) = 5


def test_column_encoding_matches_oracle_on_fixture(spark, tmp_path):
    import duckdb
    from wurzel_spark.operators.layout import COLUMN_ENCODING_SQL, q_column_encoding_stats

    d = dt.datetime
    rows = [
        (k + 1, 1, 1, 1, float(k % 3), 1.0, 0.01 * (k % 5), 0.0,
         "RAN"[k % 3], "O", d(2024, 2, 1 + k % 7))
        for k in range(30)
    ]
    sf = _write_lineitem(spark, tmp_path, rows)
    got = [tuple(r) for r in q_column_encoding_stats(spark, sf).collect()]
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW lineitem AS SELECT * FROM parquet_scan('{sf}/lineitem.parquet/*.parquet')"
    )
    want = [tuple(r) for r in con.execute(COLUMN_ENCODING_SQL).fetchall()]
    assert got == want and len(got) == 4


# --------------------------------------------- kNN label accuracy


def test_knn_majority_overrules_poisoned_nearest(spark):
    """A mislabeled nearest neighbor flips top-1 but not the majority —
    the robustness k buys, pinned."""
    from wurzel_spark.operators.similarity import knn_label_accuracy

    def vec(axis, eps):
        v = [0.0] * 64
        v[axis] = 1.0
        v[axis + 1] = eps
        return v

    rows = [(0, vec(0, 0.0), 0)]          # the query, label 0
    # nearest neighbor: almost identical but MISLABELED
    rows.append((1, vec(0, 0.001), 9))
    # next four: label 0, slightly farther
    for i in range(2, 6):
        rows.append((i, vec(0, 0.01 * i), 0))
    # far cluster, label 9
    for i in range(6, 12):
        rows.append((i, vec(30, 0.01 * i), 9))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    out = {r["label"]: r
           for r in knn_label_accuracy(emb, k=5, n_queries=1).collect()}
    r = out[0]
    assert r["top1_correct"] == 0      # poisoned nearest
    assert r["maj_correct"] == 1       # 4 of 5 votes are label 0
    assert r["maj_permille"] == 1000


def test_knn_matches_oracle_at_sf(spark):
    import duckdb
    from wurzel_spark.operators.similarity import KNN_ACCURACY_SQL, q_knn_label_accuracy

    sf = "/root/testdata/sf0.001"
    got = [tuple(r) for r in q_knn_label_accuracy(spark, sf).collect()]
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM parquet_scan('{sf}/embeddings.parquet')"
    )
    want = [tuple(r) for r in con.execute(KNN_ACCURACY_SQL).fetchall()]
    assert got == want and len(got) > 0


# --------------------------------------------- streaming percentiles twin


def test_streaming_percentiles_matches_batch(spark, tmp_path):
    from wurzel_spark.queries.events import value_percentiles_by_type
    from wurzel_spark.streaming.percentiles import value_percentiles_stream
    from wurzel_spark.tables import table as _table

    sf = "/root/testdata/sf0.001"
    ev = _table(spark, sf, "events").localCheckpoint()
    d = str(tmp_path / "pct_in")
    ev.repartition(4).write.mode("overwrite").parquet(d)
    stream = (
        spark.readStream.schema(ev.schema).option("maxFilesPerTrigger", 1).parquet(d)
    )
    got = value_percentiles_stream(
        stream, str(tmp_path / "pct_state"), str(tmp_path / "pct_ckpt"),
        compact_every=2,
    )
    assert sorted(tuple(r) for r in got.collect()) == sorted(
        tuple(r) for r in value_percentiles_by_type(spark, sf).collect()
    )


def test_streaming_percentiles_replay_is_idempotent(spark, tmp_path):
    from wurzel_spark.queries.events import value_hist, value_percentiles_by_type
    from wurzel_spark.streaming._state import write_batch_state
    from wurzel_spark.streaming.percentiles import drain_percentile_state
    from wurzel_spark.tables import table as _table

    sf = "/root/testdata/sf0.001"
    ev = _table(spark, sf, "events").localCheckpoint()
    state = str(tmp_path / "pct_state2")
    mine = value_hist(ev).withColumn("src_batch", F_lit0())
    for _ in range(3):
        write_batch_state(spark, mine, state, 0,
                          ["src_batch", "event_type", "v_milli"], None)
    got = drain_percentile_state(spark, state)
    assert sorted(tuple(r) for r in got.collect()) == sorted(
        tuple(r) for r in value_percentiles_by_type(spark, sf).collect()
    )


# --------------------------------------------- bot triage composite


def test_bot_score_planted_personas(spark, tmp_path):
    """A cron scraper (all three flags), an organic human (none), and a
    small account (unscored) land in their rows."""
    from wurzel_spark.queries.events import bot_score_stats

    d = dt.datetime
    rows, eid = [], 0

    def ev(u, t, ts):
        nonlocal eid
        eid += 1
        rows.append((eid, ts, u, t, 1.0, None))

    # user 1: the cron scraper — all 'click', all at minute 0, a trickle
    # of 1/hour for 20 hours then an 80-event storm hour: peak 80 over
    # 21 active hours vs mean 100/21 — peak·k = 1680 ≥ 10·n = 1000
    for h in range(20):
        ev(1, "click", d(2024, 1, 1, h, 0, 0))
    for i in range(80):
        ev(1, "click", d(2024, 1, 1, 23, 0, i % 60))
    # user 2: organic — 24 events, 4 types, spread over hours and minutes
    for i in range(24):
        ev(2, ["view", "click", "purchase", "signup"][i % 4],
           d(2024, 1, 1, i % 12, (7 * i) % 60, 5))
    # user 3: 5 events — under the floor, unscored
    for i in range(5):
        ev(3, "view", d(2024, 1, 1, 1, 0, i))
    sf = _write_events(spark, rows, tmp_path)
    out = {r["bot_score"]: r for r in bot_score_stats(spark, sf).collect()}
    assert out[3]["n_users"] == 1          # the scraper
    assert out[3]["n_monotype"] == 1 and out[3]["n_burst"] == 1
    assert out[3]["n_clockwork"] == 1
    assert out[0]["n_users"] == 1          # the human
    assert out[-1]["n_users"] == 1         # unscored
    assert sum(r["share_permille"] for r in out.values()) >= 999 - 3


def test_bot_score_matches_oracle_on_fixture(spark, tmp_path):
    import duckdb
    from wurzel_spark.queries.events import BOT_SCORE_SQL, bot_score_stats

    d = dt.datetime
    rows = []
    eid = 0
    for u in range(4):
        for i in range(25):
            eid += 1
            rows.append((eid, d(2024, 1, 1, (u + i) % 24, (u * 13 + i * 7) % 60),
                         u, ["view", "click"][i % (u + 1) == 0], 1.0, None))
    sf = _write_events(spark, rows, tmp_path)
    got = [tuple(r) for r in bot_score_stats(spark, sf).collect()]
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM parquet_scan('{sf}/events.parquet/*.parquet')"
    )
    want = [tuple(r) for r in con.execute(BOT_SCORE_SQL).fetchall()]
    assert got == want and len(got) >= 1


# --------------------------------------------- DAU/WAU/MAU stickiness


def test_stickiness_hand_computed(spark, tmp_path):
    """Three users over four days: windows, new/returning split and the
    stickiness ratio all hand-checked (incl. a user active twice in the
    window counting ONCE)."""
    from wurzel_spark.queries.events import active_user_stickiness

    d = dt.datetime
    rows, eid = [], 0
    plan = {
        1: [0, 1, 3],   # active days (offsets from Jan 1)
        2: [0],
        3: [3],
    }
    for u, ds in plan.items():
        for dd in ds:
            for _ in range(2):  # duplicate events same day: still 1 DAU
                eid += 1
                rows.append((eid, d(2024, 1, 1 + dd), u, "view", 1.0, None))
    sf = _write_events(spark, rows, tmp_path)
    out = {r["day"] - 19723: r for r in active_user_stickiness(spark, sf).collect()}
    d0, d1, d3 = out[0], out[1], out[3]
    assert (d0["dau"], d0["wau"], d0["mau"]) == (2, 2, 2)
    assert (d0["n_new"], d0["n_returning"]) == (2, 0)
    assert (d1["dau"], d1["wau"], d1["mau"]) == (1, 2, 2)
    assert (d1["n_new"], d1["n_returning"]) == (0, 1)
    # day 3: u1 returns (3rd active day, counted once in the window),
    # u3 is new; window covers all three users
    assert (d3["dau"], d3["wau"], d3["mau"]) == (2, 3, 3)
    assert (d3["n_new"], d3["n_returning"]) == (1, 1)
    assert d3["stickiness_permille"] == (1000 * 2) // 3


def test_stickiness_matches_oracle_on_fixture(spark, tmp_path):
    import duckdb
    from wurzel_spark.queries.events import STICKINESS_SQL, active_user_stickiness

    d = dt.datetime
    rows = [(i + 1, d(2024, 2, 1 + (i * 3) % 10), i % 4, "view", 1.0, None)
            for i in range(40)]
    sf = _write_events(spark, rows, tmp_path)
    got = [tuple(r) for r in active_user_stickiness(spark, sf).collect()]
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM parquet_scan('{sf}/events.parquet/*.parquet')"
    )
    want = [tuple(r) for r in con.execute(STICKINESS_SQL).fetchall()]
    assert got == want and len(got) > 2


# ------------------------------------------ exact duplicate vectors


def test_embedding_exact_dups_planted(spark):
    """A stuck-encoder default vector repeated 5× and a tight ingest-loop
    pair are named with sizes and spans; near-duplicates (1 ulp off) are
    NOT grouped — exact means exact."""
    from wurzel_spark.operators.linalg import embedding_exact_dups

    stuck = [0.5] * 64
    near = [0.5] * 63 + [0.5000001]
    pair = [float(i) / 64 for i in range(64)]
    rows = (
        [(i, stuck, 0) for i in (3, 17, 40, 41, 99)]
        + [(100, near, 0)]
        + [(7, pair, 0), (8, pair, 0)]
        + [(50, [1.0] + [0.0] * 63, 0)]
    )
    out = {r["group_id"]: r for r in embedding_exact_dups(
        spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    ).collect()}
    assert len(out) == 2
    assert out[3]["n_members"] == 5 and out[3]["id_span"] == 96
    assert out[7]["n_members"] == 2 and out[7]["id_span"] == 1


def test_embedding_exact_dups_matches_oracle(spark, tmp_path):
    import duckdb
    from wurzel_spark.operators.linalg import EMBEDDING_DUPS_SQL, embedding_exact_dups

    dup = [0.25] * 64
    rows = [(1, dup, 0), (2, dup, 1), (3, [0.1] * 64, 0), (4, dup, 0)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    p = str(tmp_path / "embeddings.parquet")
    df.coalesce(1).write.parquet(p)
    got = [tuple(r) for r in embedding_exact_dups(
        spark.read.parquet(p)).collect()]
    con = duckdb.connect()
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM parquet_scan('{p}/*.parquet')")
    want = [tuple(r) for r in con.execute(EMBEDDING_DUPS_SQL).fetchall()]
    assert got == want == [(1, 3, 3)]


# ------------------------------------------ classifier lift table


def test_lift_table_full_capture_and_random_floor(spark, tmp_path):
    """On a planted corpus with REAL keepers (the synthetic sf corpora
    have zero Gopher keeps — all-NULL ratios there, oracle-green but
    degenerate): the full-table row captures 1000‰ at lift 1000, and a
    keeper-rich top decile lifts above it."""
    from wurzel_spark.operators.textstats import score_lift_table
    from wurzel_spark.tables import table as _table

    # gopher-passing template: ≥50 words, mean len 3-10, ≥2 stop words
    good = " ".join(["the", "be", "to", "of", "and"] + [f"word{i}" for i in range(50)])
    # stopword-dense variant (high q1000 score) that also passes
    dense = " ".join(["the", "be", "to", "of", "and", "that", "have", "with"] * 8)
    # junk: fails gopher (too short), low score
    junk = "zz qq"
    rows = (
        [(i, dense, "en", "s", len(dense)) for i in range(5)]
        + [(10 + i, good, "en", "s", len(good)) for i in range(5)]
        + [(20 + i, junk, "en", "s", len(junk)) for i in range(10)]
    )
    sf = _write_docs(spark, tmp_path, rows)
    out = score_lift_table(_table(spark, sf, "documents")).collect()
    last = out[-1]  # ordered bin desc -> last = cumulative all
    assert last["cum_docs"] == 20 and last["cum_keep"] == 10
    assert last["capture_permille"] == 1000
    assert last["lift_permille"] == 1000
    top = out[0]  # best-score decile: all keepers -> lift N/P = 2x
    assert top["n_keep"] == top["n_docs"] > 0
    assert top["lift_permille"] == 2000
    caps = [r["capture_permille"] for r in out]
    assert caps == sorted(caps)


def test_lift_table_matches_oracle_at_sf(spark):
    import duckdb
    from wurzel_spark.operators.textstats import SCORE_LIFT_SQL, q_score_lift_table

    sf = "/root/testdata/sf0.001"
    got = [tuple(r) for r in q_score_lift_table(spark, sf).collect()]
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM parquet_scan('{sf}/documents.parquet')"
    )
    want = [tuple(r) for r in con.execute(SCORE_LIFT_SQL).fetchall()]
    assert got == want and len(got) >= 2


# --------------------------------------------- streaming bot-score twin


def test_streaming_bot_score_matches_batch(spark, tmp_path):
    from wurzel_spark.queries.events import bot_score_stats
    from wurzel_spark.streaming.botscore import bot_score_stream
    from wurzel_spark.tables import table as _table

    sf = "/root/testdata/sf0.001"
    ev = _table(spark, sf, "events").localCheckpoint()
    d = str(tmp_path / "bot_in")
    ev.repartition(4).write.mode("overwrite").parquet(d)
    stream = (
        spark.readStream.schema(ev.schema).option("maxFilesPerTrigger", 1).parquet(d)
    )
    got = bot_score_stream(
        stream, str(tmp_path / "bot_state"), str(tmp_path / "bot_ckpt"),
        compact_every=2,
    )
    assert sorted(tuple(r) for r in got.collect()) == sorted(
        tuple(r) for r in bot_score_stats(spark, sf).collect()
    )


def test_streaming_bot_score_replay_is_idempotent(spark, tmp_path):
    from wurzel_spark.queries.events import bot_partials, bot_score_stats
    from wurzel_spark.streaming._state import write_batch_state
    from wurzel_spark.streaming.botscore import drain_bot_state
    from wurzel_spark.tables import table as _table

    sf = "/root/testdata/sf0.001"
    ev = _table(spark, sf, "events").localCheckpoint()
    state = str(tmp_path / "bot_state2")
    mine = bot_partials(ev).withColumn("src_batch", F_lit0())
    for _ in range(3):
        write_batch_state(spark, mine, state, 0,
                          ["src_batch", "user_id", "kind", "k"], None)
    got = drain_bot_state(spark, state)
    assert sorted(tuple(r) for r in got.collect()) == sorted(
        tuple(r) for r in bot_score_stats(spark, sf).collect()
    )


# --------------------------------------------- Simpson's paradox audit


def test_simpson_flip_fires_on_planted_paradox(spark, tmp_path):
    """Two groups each with POSITIVE slope whose pooled cloud slopes
    NEGATIVE (the textbook construction: group means anti-ordered
    against the within-group trend) — the flag fires with both group
    slopes positive and the pooled slope negative."""
    from wurzel_spark.queries.relational import simpson_flip_audit

    rows, k = [], 0
    # group A: x in 1..4, y = 90 + x  (high intercept, low x)
    for x in range(1, 5):
        k += 1
        rows.append(_li_row("A", x, (9000 + 100 * x) / 100.0, k))
    # group B: x in 20..23, y = 10 + x (low intercept, high x)
    for x in range(20, 24):
        k += 1
        rows.append(_li_row("B", x, (1000 + 100 * x) / 100.0, k))
    sf = _write_lineitem(spark, tmp_path, rows)
    r = simpson_flip_audit(spark, sf).collect()[0]
    assert r["n_groups"] == 2
    assert r["min_group_slope"] > 0          # both groups trend UP
    assert r["pooled_slope_millicents"] < 0  # the pool trends DOWN
    assert r["n_sign_flips"] == 2 and r["simpson_flag"]


def test_simpson_no_flip_on_consistent_data(spark, tmp_path):
    from wurzel_spark.queries.relational import simpson_flip_audit

    rows = [_li_row(f, q, (100 + 250 * q) / 100.0, i + 1)
            for i, (f, q) in enumerate([("A", 1), ("A", 3), ("B", 2), ("B", 5)])]
    sf = _write_lineitem(spark, tmp_path, rows)
    r = simpson_flip_audit(spark, sf).collect()[0]
    assert r["n_sign_flips"] == 0 and not r["simpson_flag"]


def test_simpson_matches_oracle_on_fixture(spark, tmp_path):
    import duckdb
    from wurzel_spark.queries.relational import SIMPSON_SQL, simpson_flip_audit

    rows = [_li_row(["A", "B", "C"][i % 3], 1 + i % 7, 1.0 + 0.37 * i, i + 1)
            for i in range(21)]
    sf = _write_lineitem(spark, tmp_path, rows)
    got = [tuple(r) for r in simpson_flip_audit(spark, sf).collect()]
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW lineitem AS SELECT * FROM parquet_scan('{sf}/lineitem.parquet/*.parquet')"
    )
    want = [tuple(r) for r in con.execute(SIMPSON_SQL).fetchall()]
    assert got == want


# --------------------------------------------- supplier lead time


def test_leadtime_hand_computed(spark, tmp_path):
    """Known lags across two nations: hist quantiles, sums, and the SLA
    late share all hand-checked."""
    from wurzel_spark.queries.relational import supplier_leadtime_stats

    d = dt.datetime
    spark.createDataFrame(
        [(1, "s1", 0, 0.0), (2, "s2", 1, 0.0)],
        "s_suppkey long, s_name string, s_nationkey long, s_acctbal double",
    ).coalesce(1).write.parquet(str(tmp_path / "supplier.parquet"))
    orders = [(k, 1, "O", 1.0, d(2024, 1, 1), "P") for k in range(1, 7)]
    spark.createDataFrame(
        orders,
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    ).coalesce(1).write.parquet(str(tmp_path / "orders.parquet"))
    # nation 0 lags: 10, 20, 100 (one late) ; nation 1 lags: 5, 5
    li = [
        (1, 1, 1, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", d(2024, 1, 11)),
        (2, 1, 1, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", d(2024, 1, 21)),
        (3, 1, 1, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", d(2024, 4, 10)),
        (4, 1, 2, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", d(2024, 1, 6)),
        (5, 1, 2, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", d(2024, 1, 6)),
    ]
    spark.createDataFrame(
        li,
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber long,"
        " l_quantity double, l_extendedprice double, l_discount double,"
        " l_tax double, l_returnflag string, l_linestatus string,"
        " l_shipdate timestamp",
    ).coalesce(1).write.parquet(str(tmp_path / "lineitem.parquet"))
    out = {r["nation"]: r for r in
           supplier_leadtime_stats(spark, str(tmp_path)).collect()}
    n0 = out[0]
    assert n0["n_lines"] == 3 and n0["lag_days_sum"] == 130
    assert (n0["lag_p500_days"], n0["lag_p900_days"]) == (20, 100)
    assert n0["n_late"] == 1 and n0["late_permille"] == 333
    n1 = out[1]
    assert (n1["lag_p500_days"], n1["n_late"]) == (5, 0)


def test_leadtime_matches_oracle_at_sf(spark):
    import duckdb
    from wurzel_spark.queries.relational import LEADTIME_SQL, supplier_leadtime_stats

    sf = "/root/testdata/sf0.001"
    got = [tuple(r) for r in supplier_leadtime_stats(spark, sf).collect()]
    con = duckdb.connect()
    for t in ("lineitem", "orders", "supplier"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM parquet_scan('{sf}/{t}.parquet')")
    want = [tuple(r) for r in con.execute(LEADTIME_SQL).fetchall()]
    assert got == want and len(got) > 0


# ------------------------------------------ transition predictability


def test_transition_predictability_extremes(spark, tmp_path):
    """A scripted A→B flow scores gini 0 + flag; a uniform 4-way
    follower scores 750; values match the literal formula."""
    from wurzel_spark.queries.events import transition_predictability

    d = dt.datetime
    rows, eid = [], 0

    def ev(u, t, second):
        nonlocal eid
        eid += 1
        rows.append((eid, d(2024, 1, 1, 10, 0, second), u, t, 1.0, None))

    # users 1-4: scripted A -> B, every time (one transition each)
    sec = 0
    for u in range(1, 5):
        ev(u, "A", sec); ev(u, "B", sec + 1); sec += 2
    # users 11-14: C followed by a DIFFERENT type each time
    for i, nxt in enumerate(["v", "w", "x", "y"]):
        ev(11 + i, "C", sec); ev(11 + i, nxt, sec + 1); sec += 2
    sf = _write_events(spark, rows, tmp_path)
    out = {r["from_type"]: r for r in
           transition_predictability(spark, sf).collect()}
    a = out["A"]
    assert (a["n_transitions"], a["n_next_types"], a["top_next"]) == (4, 1, "B")
    assert a["gini_permille"] == 0 and a["scripted_flag"]
    assert a["top_share_permille"] == 1000
    c = out["C"]
    # uniform over 4: gini = (16 - 4)*1000 // 16 = 750
    assert c["gini_permille"] == 750 and not c["scripted_flag"]
    assert c["top_share_permille"] == 250


def test_transition_predictability_matches_oracle(spark, tmp_path):
    import duckdb
    from wurzel_spark.queries.events import (
        TRANSITION_PREDICT_SQL,
        transition_predictability,
    )

    d = dt.datetime
    rows = [(i + 1, d(2024, 1, 1, 9, 0, i), 1 + i // 8,
             ["a", "b", "a", "c"][i % 4], 1.0, None) for i in range(24)]
    sf = _write_events(spark, rows, tmp_path)
    got = [tuple(r) for r in transition_predictability(spark, sf).collect()]
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM parquet_scan('{sf}/events.parquet/*.parquet')"
    )
    want = [tuple(r) for r in con.execute(TRANSITION_PREDICT_SQL).fetchall()]
    assert got == want and len(got) >= 2


# ------------------------------------------ template-opener detection


def test_prefix_template_planted(spark, tmp_path):
    """A 3-doc template family (same 8-word opener, different bodies),
    a short-doc template pair, and unique docs: counts and the top
    template hand-checked; case-insensitive grouping pinned."""
    from wurzel_spark.operators.textstats import prefix_template_stats
    from wurzel_spark.tables import table as _table

    opener = "dear customer thank you for your recent order"
    rows = [
        (1, opener + " of widgets", "en", "mail", 1),
        (2, opener + " of gadgets and more body text", "en", "mail", 1),
        (3, "Dear Customer THANK you for your recent order refund", "en", "mail", 1),
        (4, "completely unique message body", "en", "mail", 1),
        # short docs: the whole 3-word text is the prefix
        (5, "error not found", "en", "mail", 1),
        (6, "error not found", "en", "mail", 1),
    ]
    sf = _write_docs(spark, tmp_path, rows)
    r = prefix_template_stats(_table(spark, sf, "documents")).collect()[0]
    assert r["n_docs"] == 6 and r["n_prefixes"] == 3
    assert r["templated_docs"] == 5          # 3 openers + 2 errors
    assert r["templated_permille"] == 833
    assert r["top_prefix"] == opener         # lowercased, 3 members
    assert r["top_share_permille"] == 500


def test_prefix_template_matches_oracle(spark, tmp_path):
    import duckdb
    from wurzel_spark.operators.textstats import (
        PREFIX_TEMPLATE_SQL,
        prefix_template_stats,
    )
    from wurzel_spark.tables import table as _table

    rows = [(i, f"w{i % 3} common words here and then tail {i}", "en",
             ["a", "b"][i % 2], 1) for i in range(12)]
    sf = _write_docs(spark, tmp_path, rows)
    got = [tuple(r) for r in
           prefix_template_stats(_table(spark, sf, "documents")).collect()]
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM parquet_scan('{sf}/documents.parquet/*.parquet')"
    )
    want = [tuple(r) for r in con.execute(PREFIX_TEMPLATE_SQL).fetchall()]
    assert got == want and len(got) == 2


# --------------------------------------------- peak concurrency


def test_peak_concurrency_hand_computed(spark, tmp_path):
    """A session spanning three hours loads all three; two users in one
    hour = concurrency 2; a gap splits the session and frees the silent
    hour ONLY when the gap crosses the session bound."""
    from wurzel_spark.queries.events import peak_concurrency_stats

    d = dt.datetime
    rows, eid = [], 0

    def ev(u, ts):
        nonlocal eid
        eid += 1
        rows.append((eid, ts, u, "view", 1.0, None))

    # user 1: ONE session 10:30 -> 12:10 (25-min hops, under the gap):
    # active hours 10, 11, 12
    for ts in (d(2024, 1, 1, 10, 30), d(2024, 1, 1, 10, 55),
               d(2024, 1, 1, 11, 20), d(2024, 1, 1, 11, 45),
               d(2024, 1, 1, 12, 10)):
        ev(1, ts)
    # user 2: events at 11:00 and 14:00 — TWO sessions (3h gap), so
    # hours 12/13 carry no session despite user 2 "returning"
    ev(2, d(2024, 1, 1, 11, 0))
    ev(2, d(2024, 1, 1, 14, 0))
    sf = _write_events(spark, rows, tmp_path)
    base = 19723 * 24  # epoch hours of 2024-01-01 00:00
    out = {r["eh"] - base: r for r in peak_concurrency_stats(spark, sf).collect()}
    assert out[10]["n_active_sessions"] == 1
    assert out[11]["n_active_sessions"] == 2   # both users
    assert out[11]["n_active_users"] == 2
    assert out[12]["n_active_sessions"] == 1   # user 1 still going
    assert 13 not in out                       # nobody active
    assert out[14]["n_active_sessions"] == 1   # user 2's second session
    assert out[11]["n_events"] == 3            # 2 from u1 + 1 from u2


def test_peak_concurrency_matches_oracle(spark, tmp_path):
    import duckdb
    from wurzel_spark.queries.events import PEAK_CONCURRENCY_SQL, peak_concurrency_stats

    d = dt.datetime
    rows = [(i + 1, d(2024, 3, 1, (i * 2) % 12, (i * 17) % 60), 1 + i % 3,
             "view", 1.0, None) for i in range(30)]
    sf = _write_events(spark, rows, tmp_path)
    got = [tuple(r) for r in peak_concurrency_stats(spark, sf).collect()]
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM parquet_scan('{sf}/events.parquet/*.parquet')"
    )
    want = [tuple(r) for r in con.execute(PEAK_CONCURRENCY_SQL).fetchall()]
    assert got == want and len(got) > 2


# --------------------------------------------- open-order aging


def test_backlog_aging_hand_computed(spark, tmp_path):
    """Planted ages around every bucket edge (30/31, 90/91, 365/366) and
    a closed order that must not appear."""
    from wurzel_spark.queries.relational import backlog_aging_stats

    d = dt.datetime
    anchor = d(2024, 12, 31)
    orders = []
    for k, (age, status) in enumerate(
        [(0, "O"), (30, "O"), (31, "O"), (90, "O"), (91, "O"),
         (365, "O"), (366, "O"), (5, "F")]
    ):
        orders.append((k + 1, 1, status, 10.005,
                       anchor - dt.timedelta(days=age), "P"))
    spark.createDataFrame(
        orders,
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    ).coalesce(1).write.parquet(str(tmp_path / "orders.parquet"))
    out = {r["age_bucket"]: r
           for r in backlog_aging_stats(spark, str(tmp_path)).collect()}
    assert out["0-30"]["n_orders"] == 2      # ages 0, 30
    assert out["31-90"]["n_orders"] == 2     # 31, 90
    assert out["91-365"]["n_orders"] == 2    # 91, 365
    assert out["365+"]["n_orders"] == 1      # 366
    assert sum(r["n_orders"] for r in out.values()) == 7  # 'F' excluded
    # floor(10.005*100) = 1000 cents exactly, per order
    assert out["0-30"]["open_cents"] == 2000


def test_backlog_aging_matches_oracle(spark, tmp_path):
    import duckdb
    from wurzel_spark.queries.relational import BACKLOG_AGING_SQL, backlog_aging_stats

    d = dt.datetime
    orders = [(k + 1, 1, "OF"[k % 2], 1.0 + k, d(2024, 1, 1 + (k * 11) % 28),
               ["1-URGENT", "3-MEDIUM"][k % 2]) for k in range(20)]
    spark.createDataFrame(
        orders,
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    ).coalesce(1).write.parquet(str(tmp_path / "orders.parquet"))
    got = [tuple(r) for r in backlog_aging_stats(spark, str(tmp_path)).collect()]
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW orders AS SELECT * FROM parquet_scan('{tmp_path}/orders.parquet/*.parquet')"
    )
    want = [tuple(r) for r in con.execute(BACKLOG_AGING_SQL).fetchall()]
    assert got == want and len(got) >= 1


# --------------------------------------------- revenue growth (MoM/YoY)


def test_revenue_growth_hand_computed(spark, tmp_path):
    """Planted monthly ledger across a year boundary: MoM (incl. a
    NEGATIVE month under sign-split), YoY to the exact month index, and
    the NULL edges all hand-checked."""
    from wurzel_spark.queries.relational import revenue_growth_stats

    d = dt.datetime
    ledger = {
        (2023, 11): 100_00, (2023, 12): 150_00,
        (2024, 1): 120_00, (2024, 11): 130_00, (2024, 12): 90_00,
    }
    orders, k = [], 0
    for (y, m), cents in ledger.items():
        k += 1
        orders.append((k, 1, "O", cents / 100.0, d(y, m, 15), "P"))
    spark.createDataFrame(
        orders,
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    ).coalesce(1).write.parquet(str(tmp_path / "orders.parquet"))
    out = {(r["yr"], r["mo"]): r
           for r in revenue_growth_stats(spark, str(tmp_path)).collect()}
    assert out[(2023, 11)]["mom_permille"] is None
    assert out[(2023, 12)]["mom_permille"] == 500       # 100 -> 150
    assert out[(2024, 1)]["mom_permille"] == -200       # 150 -> 120
    # 2024-11 has no 2024-10 sibling: NULL MoM, but YoY to 2023-11
    assert out[(2024, 11)]["mom_permille"] is None
    assert out[(2024, 11)]["yoy_permille"] == 300       # 100 -> 130
    assert out[(2024, 12)]["yoy_permille"] == -400      # 150 -> 90
    assert out[(2024, 12)]["mom_permille"] == -((1000 * 4000) // 13000)


def test_revenue_growth_matches_oracle(spark, tmp_path):
    import duckdb
    from wurzel_spark.queries.relational import REVENUE_GROWTH_SQL, revenue_growth_stats

    d = dt.datetime
    orders = [(k + 1, 1, "O", 10.0 + 3 * k, d(2023 + k // 12, 1 + k % 12, 5), "P")
              for k in range(30)]
    spark.createDataFrame(
        orders,
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    ).coalesce(1).write.parquet(str(tmp_path / "orders.parquet"))
    got = [tuple(r) for r in revenue_growth_stats(spark, str(tmp_path)).collect()]
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW orders AS SELECT * FROM parquet_scan('{tmp_path}/orders.parquet/*.parquet')"
    )
    want = [tuple(r) for r in con.execute(REVENUE_GROWTH_SQL).fetchall()]
    assert got == want and len(got) == 30


# --------------------------------------------- seasonality strength


def test_seasonality_strength_extremes(spark, tmp_path):
    """A pure clock (count depends only on hour-of-day across days)
    scores η² 1000; a day-over-day gradient with a flat daily profile
    scores 0."""
    from wurzel_spark.queries.events import seasonality_strength

    d = dt.datetime
    rows, eid = [], 0

    def pump(et, day, hr, n):
        nonlocal eid
        for _ in range(n):
            eid += 1
            rows.append((eid, d(2024, 1, day, hr), 1, et, 1.0, None))

    # 'clock': hour 9 always 10 events, hour 18 always 2 — identical
    # across 3 days -> zero within-group variance, eta2 = 1000
    for day in (1, 2, 3):
        pump("clock", day, 9, 10)
        pump("clock", day, 18, 2)
    # 'trend': same hour each day but count grows 2,6,10 -> all variance
    # WITHIN the single hod group, eta2 = 0
    for day, n in ((1, 2), (2, 6), (3, 10)):
        pump("trend", day, 12, n)
    sf = _write_events(spark, rows, tmp_path)
    out = {r["event_type"]: r for r in seasonality_strength(spark, sf).collect()}
    assert out["clock"]["eta2_permille"] == 1000
    assert out["clock"]["n_hod_groups"] == 2
    assert out["trend"]["eta2_permille"] == 0
    assert out["trend"]["f_permille"] is None  # k = 1: no between factor


def test_seasonality_matches_oracle(spark, tmp_path):
    import duckdb
    from wurzel_spark.queries.events import SEASONALITY_SQL, seasonality_strength

    d = dt.datetime
    rows = [(i + 1, d(2024, 1, 1 + i % 4, (i * 5) % 24), 1,
             ["a", "b"][i % 2], 1.0, None) for i in range(60)]
    sf = _write_events(spark, rows, tmp_path)
    got = [tuple(r) for r in seasonality_strength(spark, sf).collect()]
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM parquet_scan('{sf}/events.parquet/*.parquet')"
    )
    want = [tuple(r) for r in con.execute(SEASONALITY_SQL).fetchall()]
    assert got == want and len(got) == 2


# --------------------------------------------- discount band ROI


def test_discount_band_hand_computed(spark, tmp_path):
    """Band edges (0, 3/4, 6/7) and the exact decimal money path
    hand-checked — incl. a price whose IEEE product would round wrong
    if the decimal rule were broken."""
    from wurzel_spark.queries.relational import discount_band_stats

    rows = [
        _li_row("N", 1, 10.00, 1),   # 0% band
        _li_row("N", 2, 10.00, 2),   # 3% -> '1-3'
        _li_row("N", 3, 10.00, 3),   # 4% -> '4-6'
        _li_row("N", 4, 10.00, 4),   # 7% -> '7+'
        _li_row("N", 5, 0.29, 5),    # 10%: 0.29*0.9 = 0.261 -> 26 cents
    ]
    discs = {1: 0.0, 2: 0.03, 3: 0.04, 4: 0.07, 5: 0.10}
    rows = [
        (k, pk, sk, ln, q, p, discs[k], t, rf, ls, sd)
        for (k, pk, sk, ln, q, p, _, t, rf, ls, sd) in rows
    ]
    sf = _write_lineitem(spark, tmp_path, rows)
    out = {r["disc_band"]: r for r in discount_band_stats(spark, sf).collect()}
    assert out["0"]["net_cents"] == 1000
    assert out["1-3"]["net_cents"] == 970
    assert out["4-6"]["net_cents"] == 960
    # 7+ band: 10.00 @7% = 930 + 0.29 @10% = 26 (decimal-exact floor)
    assert out["7+"]["n_lines"] == 2
    assert out["7+"]["net_cents"] == 930 + 26
    assert out["0"]["kept_permille"] == 1000


def test_discount_band_matches_oracle(spark, tmp_path):
    import duckdb
    from wurzel_spark.queries.relational import DISCOUNT_BAND_SQL, discount_band_stats

    rows = []
    for i in range(40):
        r = list(_li_row("N", 1 + i % 9, 1.37 * (i + 1), i + 1))
        r[6] = (i % 11) / 100.0
        rows.append(tuple(r))
    sf = _write_lineitem(spark, tmp_path, rows)
    got = [tuple(r) for r in discount_band_stats(spark, sf).collect()]
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW lineitem AS SELECT * FROM parquet_scan('{sf}/lineitem.parquet/*.parquet')"
    )
    want = [tuple(r) for r in con.execute(DISCOUNT_BAND_SQL).fetchall()]
    assert got == want and len(got) == 4


# --------------------------------------------- user activity histogram


def test_user_fof_bands_hand_computed(spark, tmp_path):
    """Counts 1, 2, 3, 7, 8 land in bands 1, 2, 2, 3, 4 with exact
    2^(b-1)..2^b-1 bounds."""
    from wurzel_spark.queries.events import user_activity_fof

    d = dt.datetime
    rows, eid = [], 0
    for u, k in [(1, 1), (2, 2), (3, 3), (4, 7), (5, 8)]:
        for i in range(k):
            eid += 1
            rows.append((eid, d(2024, 1, 1, 0, 0, i), u, "v", 1.0, None))
    sf = _write_events(spark, rows, tmp_path)
    out = {r["band"]: r for r in user_activity_fof(spark, sf).collect()}
    assert out[1]["n_users"] == 1 and out[1]["max_events"] == 1
    assert out[2]["n_users"] == 2
    assert (out[2]["min_events"], out[2]["max_events"]) == (2, 3)
    assert out[3]["n_users"] == 1 and out[3]["min_events"] == 7
    assert out[4]["n_users"] == 1 and out[4]["min_events"] == 8
    assert sum(r["n_users"] for r in out.values()) == 5


def test_user_fof_matches_oracle(spark, tmp_path):
    import duckdb
    from wurzel_spark.queries.events import USER_FOF_SQL, user_activity_fof

    d = dt.datetime
    rows = [(i + 1, d(2024, 1, 1, 0, 0, i % 60), 1 + i % 7, "v", 1.0, None)
            for i in range(50)]
    sf = _write_events(spark, rows, tmp_path)
    got = [tuple(r) for r in user_activity_fof(spark, sf).collect()]
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM parquet_scan('{sf}/events.parquet/*.parquet')"
    )
    want = [tuple(r) for r in con.execute(USER_FOF_SQL).fetchall()]
    assert got == want and len(got) >= 1


# --------------------------------------------- single-source exposure


def test_single_source_hand_computed(spark, tmp_path):
    """Part shipped only by supplier 1 flags; a dual-sourced part does
    not; brands aggregate correctly."""
    from wurzel_spark.queries.relational import single_source_parts

    d = dt.datetime
    spark.createDataFrame(
        [(1, "BrandA"), (2, "BrandA"), (3, "BrandB")],
        "p_partkey long, p_brand string",
    ).coalesce(1).write.parquet(str(tmp_path / "part.parquet"))
    li = [
        (1, 1, 1, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", d(2024, 1, 1)),  # p1 s1
        (2, 1, 1, 2, 1.0, 1.0, 0.0, 0.0, "N", "O", d(2024, 1, 2)),  # p1 s1 again
        (3, 2, 1, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", d(2024, 1, 3)),  # p2 s1
        (4, 2, 2, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", d(2024, 1, 4)),  # p2 s2
        (5, 3, 9, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", d(2024, 1, 5)),  # p3 s9
    ]
    spark.createDataFrame(
        li,
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber long,"
        " l_quantity double, l_extendedprice double, l_discount double,"
        " l_tax double, l_returnflag string, l_linestatus string,"
        " l_shipdate timestamp",
    ).coalesce(1).write.parquet(str(tmp_path / "lineitem.parquet"))
    out = {r["p_brand"]: r
           for r in single_source_parts(spark, str(tmp_path)).collect()}
    a = out["BrandA"]
    assert (a["n_parts"], a["n_single_source"]) == (2, 1)  # p1 yes, p2 no
    assert a["single_source_permille"] == 500
    b = out["BrandB"]
    assert (b["n_parts"], b["n_single_source"]) == (1, 1)


def test_single_source_matches_oracle_at_sf(spark):
    import duckdb
    from wurzel_spark.queries.relational import SINGLE_SOURCE_SQL, single_source_parts

    sf = "/root/testdata/sf0.001"
    got = [tuple(r) for r in single_source_parts(spark, sf).collect()]
    con = duckdb.connect()
    for t in ("lineitem", "part"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM parquet_scan('{sf}/{t}.parquet')")
    want = [tuple(r) for r in con.execute(SINGLE_SOURCE_SQL).fetchall()]
    assert got == want and len(got) > 0


# ------------------------------------------ embedding anisotropy


def test_anisotropy_extremes_and_identity(spark):
    """Identical vectors ⇒ anisotropy 1000 exactly; a ± mirrored pair set
    ⇒ strongly negative; the sum-vector identity equals the literal
    pairwise mean on a small mixed set."""
    from wurzel_spark.operators.linalg import FISHER_QSCALE, embedding_anisotropy

    schema = "vec_id long, embedding array<float>, label int"
    same = [(i, [0.5] * 64, 0) for i in range(6)]
    r = embedding_anisotropy(spark.createDataFrame(same, schema)).collect()[0]
    assert r["anisotropy_permille"] == 1000

    v = [1.0] + [0.0] * 63
    mirrored = [(1, v, 0), (2, [-x for x in v], 0),
                (3, v, 0), (4, [-x for x in v], 0)]
    r2 = embedding_anisotropy(spark.createDataFrame(mirrored, schema)).collect()[0]
    # 12 cross pairs: 4 aligned (+q), 8 anti (-q) -> mean -1/3
    assert r2["anisotropy_permille"] == -((1000 * 4) // 12)

    import struct
    mixed = [(1, [0.9, 0.1] + [0.0] * 62, 0), (2, [0.2, 0.7] + [0.0] * 62, 0),
             (3, [0.5, 0.5] + [0.0] * 62, 0)]
    got = embedding_anisotropy(spark.createDataFrame(mixed, schema)).collect()[0]

    def q(x):
        x32 = struct.unpack("f", struct.pack("f", x))[0]
        import math
        return math.floor(x32 * FISHER_QSCALE)

    vecs = [[q(x) for x in v] for _, v, _ in mixed]
    n = len(vecs)
    pair_sum = sum(
        sum(a * b for a, b in zip(vecs[i], vecs[j]))
        for i in range(n) for j in range(n) if i != j
    )
    qq = sum(x * x for v in vecs for x in v)
    want = (1000 * pair_sum) // ((n - 1) * qq) if pair_sum >= 0 else -(
        (1000 * -pair_sum) // ((n - 1) * qq))
    assert got["anisotropy_permille"] == want


# --------------------------------------------- session duration


def test_session_duration_hand_computed(spark, tmp_path):
    """Three sessions with known durations (0 s bounce, 600 s, 1200 s):
    quantiles, bounce share and events-per-session hand-checked."""
    from wurzel_spark.queries.events import session_duration_stats

    d = dt.datetime
    rows, eid = [], 0

    def ev(u, ts):
        nonlocal eid
        eid += 1
        rows.append((eid, ts, u, "v", 1.0, None))

    ev(1, d(2024, 1, 1, 10, 0))                      # bounce: 0 s, 1 event
    ev(2, d(2024, 1, 1, 10, 0)); ev(2, d(2024, 1, 1, 10, 10))   # 600 s
    ev(3, d(2024, 1, 1, 10, 0)); ev(3, d(2024, 1, 1, 10, 10))
    ev(3, d(2024, 1, 1, 10, 20))                     # 1200 s, 3 events
    sf = _write_events(spark, rows, tmp_path)
    r = session_duration_stats(spark, sf).collect()[0]
    assert (r["n_sessions"], r["n_events"], r["n_bounces"]) == (3, 6, 1)
    assert r["bounce_permille"] == 333
    assert r["events_per_session_centi"] == 200
    # sorted durations [0, 600, 1200]: p50 -> rank 2 -> 600, p90 -> 1200
    assert (r["dur_p500_s"], r["dur_p900_s"]) == (600, 1200)


def test_session_duration_matches_oracle(spark, tmp_path):
    import duckdb
    from wurzel_spark.queries.events import SESSION_DURATION_SQL, session_duration_stats

    d = dt.datetime
    rows = [(i + 1, d(2024, 1, 1, (i * 3) % 24, (i * 11) % 60), 1 + i % 4,
             "v", 1.0, None) for i in range(40)]
    sf = _write_events(spark, rows, tmp_path)
    got = [tuple(r) for r in session_duration_stats(spark, sf).collect()]
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM parquet_scan('{sf}/events.parquet/*.parquet')"
    )
    want = [tuple(r) for r in con.execute(SESSION_DURATION_SQL).fetchall()]
    assert got == want


# ------------------------------------------ metadata consistency audit


def test_metadata_consistency_planted(spark, tmp_path):
    """A truthful doc, a stale-metadata doc (text rewritten, n_chars
    not), and a NULL-text doc each land in their counter."""
    from wurzel_spark.operators.textstats import metadata_consistency_stats
    from wurzel_spark.tables import table as _table

    rows = [
        (1, "hello", "en", "s", 5),       # consistent
        (2, "rewritten text", "en", "s", 5),  # stale: 14 vs 5
        (3, None, "en", "s", 7),          # null text
        (4, "ok", "en", "t", 2),          # consistent, other source
    ]
    sf = _write_docs(spark, tmp_path, rows)
    out = {r["source"]: r for r in
           metadata_consistency_stats(_table(spark, sf, "documents")).collect()}
    s = out["s"]
    assert (s["n_docs"], s["n_null_text"], s["n_stale"]) == (3, 1, 1)
    assert s["max_abs_delta"] == 9
    assert s["stale_permille"] == 333
    t = out["t"]
    assert (t["n_stale"], t["max_abs_delta"]) == (0, 0)


def test_metadata_consistency_matches_oracle(spark, tmp_path):
    import duckdb
    from wurzel_spark.operators.textstats import (
        METADATA_CONSISTENCY_SQL,
        metadata_consistency_stats,
    )
    from wurzel_spark.tables import table as _table

    rows = [(i, "x" * (i % 9), "en", ["a", "b"][i % 2], (i % 9) + (i % 3))
            for i in range(1, 21)]
    sf = _write_docs(spark, tmp_path, rows)
    got = [tuple(r) for r in
           metadata_consistency_stats(_table(spark, sf, "documents")).collect()]
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM parquet_scan('{sf}/documents.parquet/*.parquet')"
    )
    want = [tuple(r) for r in con.execute(METADATA_CONSISTENCY_SQL).fetchall()]
    assert got == want and len(got) == 2
