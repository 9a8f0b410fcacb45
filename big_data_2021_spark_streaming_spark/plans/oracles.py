"""DuckDB oracle SQL for every query in plans.analytics (and beyond).

Each statement is semantically equivalent ANSI SQL over the same
parquet tables (pre-registered as views by the driver). Parity rules
discovered empirically and relied on throughout:

- DuckDB reads parquet TIMESTAMP(NANOS) truncating to µs — identical
  to our loader's floor-division (sources/batch.py).
- DuckDB ``month()``/``row_number()``/etc. return BIGINT where Spark
  returns INT → explicit CASTs on the DuckDB side.
- DuckDB ``SUM(BIGINT)`` returns HUGEINT → CAST to BIGINT.
- Float aggregates are ROUNDed on BOTH sides (parallel sum order is
  nondeterministic in both engines).
- Set-valued results are sorted on both sides (list_sort / array_sort).
- ``to_json(struct_pack(...))`` prints identically to Spark's
  ``to_json(struct(...))`` (no whitespace, insertion order) for
  non-null scalar fields.
"""

from __future__ import annotations

ORACLES: dict[str, str] = {
    "event_value_benford": """
        WITH digits AS (
            SELECT CAST(substring(CAST(vq AS VARCHAR), 1, 1) AS BIGINT)
                       AS digit
            FROM (
                SELECT CAST(ROUND(value * 1000000) AS BIGINT) AS vq
                FROM events
            ) WHERE vq > 0
        ),
        per AS (
            SELECT digit, CAST(COUNT(*) AS BIGINT) AS n
            FROM digits GROUP BY digit
        ),
        tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS total FROM digits),
        shares AS (
            SELECT digit, n,
                   CAST((2 * n * 1000000 + total) // (2 * total)
                        AS BIGINT) AS share_micro,
                   CAST(CASE digit WHEN 1 THEN 301030 WHEN 2 THEN 176091 WHEN 3 THEN 124939 WHEN 4 THEN 96910 WHEN 5 THEN 79181 WHEN 6 THEN 66947 WHEN 7 THEN 57992 WHEN 8 THEN 51153 WHEN 9 THEN 45757 END AS BIGINT) AS benford_micro,
                   total
            FROM per, tot
        )
        SELECT digit, n, share_micro, benford_micro,
               CAST((2 * CAST(total AS HUGEINT)
                     * (share_micro - benford_micro)
                     * (share_micro - benford_micro) + benford_micro)
                    // (2 * CAST(benford_micro AS HUGEINT))
                    AS BIGINT) AS chi2_micro
        FROM shares ORDER BY digit
    """,
    "order_backlog_timeseries": """
        WITH opens AS (
            SELECT CAST(year(o_orderdate) * 100 + month(o_orderdate)
                        AS BIGINT) AS month,
                   CAST(COUNT(*) AS BIGINT) AS n_opened
            FROM orders GROUP BY 1
        ),
        closes AS (
            SELECT CAST(year(last_ship) * 100 + month(last_ship)
                        AS BIGINT) AS month,
                   CAST(COUNT(*) AS BIGINT) AS n_closed
            FROM (
                SELECT MAX(l_shipdate) AS last_ship
                FROM lineitem GROUP BY l_orderkey
            ) GROUP BY 1
        ),
        months AS (
            SELECT COALESCE(o.month, c.month) AS month,
                   COALESCE(o.n_opened, 0) AS n_opened,
                   COALESCE(c.n_closed, 0) AS n_closed
            FROM opens o FULL OUTER JOIN closes c ON o.month = c.month
        )
        SELECT month,
               CAST(n_opened AS BIGINT) AS n_opened,
               CAST(n_closed AS BIGINT) AS n_closed,
               CAST(SUM(n_opened - n_closed) OVER (ORDER BY month)
                    AS BIGINT) AS backlog
        FROM months ORDER BY month
    """,
    "orders_priority_mix_shift": """
        WITH o AS (
            SELECT CAST(year(o_orderdate) AS BIGINT) AS year,
                   o_orderpriority AS priority
            FROM orders
        ),
        cells AS (
            SELECT year, priority, CAST(COUNT(*) AS BIGINT) AS n_orders
            FROM o GROUP BY year, priority
        ),
        yt AS (
            SELECT year, CAST(COUNT(*) AS BIGINT) AS year_total
            FROM o GROUP BY year
        ),
        g AS (
            SELECT priority,
                   CAST((2 * prio_total * 1000000 + grand_total)
                        // (2 * grand_total) AS BIGINT)
                       AS global_share_micro
            FROM (
                SELECT priority, CAST(COUNT(*) AS BIGINT) AS prio_total
                FROM o GROUP BY priority
            ), (SELECT CAST(COUNT(*) AS BIGINT) AS grand_total FROM o)
        ),
        shares AS (
            SELECT c.year, c.priority, c.n_orders,
                   CAST((2 * c.n_orders * 1000000 + y.year_total)
                        // (2 * y.year_total) AS BIGINT) AS share_micro,
                   g.global_share_micro, y.year_total
            FROM cells c JOIN yt y USING (year) JOIN g USING (priority)
        )
        SELECT year, priority, n_orders, share_micro, global_share_micro,
               CAST((2 * CAST(year_total AS HUGEINT)
                     * (share_micro - global_share_micro)
                     * (share_micro - global_share_micro)
                     + global_share_micro)
                    // (2 * CAST(global_share_micro AS HUGEINT))
                    AS BIGINT) AS drift_chi2_micro
        FROM shares ORDER BY year, priority
    """,
    "merge_touched_partitions": """
        WITH matched AS (
            SELECT o_orderkey FROM orders WHERE o_orderkey % 101 = 5
        ),
        batch AS (
            SELECT o_orderkey, 'update' AS op FROM matched
            UNION ALL
            SELECT o_orderkey + 20000000, 'insert' FROM matched
        ),
        bp AS (
            SELECT o_orderkey % 101 AS part_id,
                   CAST(COUNT(*) AS BIGINT) AS batch_rows,
                   CAST(SUM(CASE WHEN op = 'update' THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_updates,
                   CAST(SUM(CASE WHEN op = 'insert' THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_inserts
            FROM batch GROUP BY o_orderkey % 101
        ),
        sp AS (
            SELECT o_orderkey % 101 AS part_id,
                   CAST(COUNT(*) AS BIGINT) AS state_rows_read
            FROM orders GROUP BY o_orderkey % 101
        ),
        t AS (
            SELECT bp.part_id, bp.batch_rows, bp.n_updates, bp.n_inserts,
                   CAST(COALESCE(sp.state_rows_read, 0) AS BIGINT)
                       AS state_rows_read,
                   CAST(COALESCE(sp.state_rows_read, 0) + bp.n_inserts
                        AS BIGINT) AS rows_after_merge,
                   CAST((2 * COALESCE(sp.state_rows_read, 0) * 1000000
                         + bp.batch_rows) // (2 * bp.batch_rows)
                        AS BIGINT) AS readback_amp_micro
            FROM bp LEFT JOIN sp ON bp.part_id = sp.part_id
        )
        SELECT t.*, CAST(101 - (SELECT COUNT(*) FROM t) AS BIGINT)
                   AS untouched_parts
        FROM t ORDER BY part_id
    """,
    "snapshot_asof_diff": """
        WITH bounded AS (
            SELECT * FROM events
            WHERE ts <= TIMESTAMP '2024-01-31 00:00:00'
        ),
        states AS (
            SELECT user_id,
                   max(CASE WHEN ts <= TIMESTAMP '2024-01-16 00:00:00'
                            THEN struct_pack(ts := ts, eid := event_id,
                                             et := event_type, v := value)
                       END) AS old,
                   max(struct_pack(ts := ts, eid := event_id,
                                   et := event_type, v := value)) AS new
            FROM bounded GROUP BY user_id
        ),
        diff AS (
            SELECT user_id,
                   CASE WHEN old IS NULL THEN 'added'
                        WHEN old.et <> new.et OR old.v <> new.v
                             THEN 'changed'
                   END AS change_type,
                   old.et AS old_type, old.v AS old_value,
                   new.et AS new_type, new.v AS new_value
            FROM states
        )
        SELECT user_id, change_type, old_type, old_value,
               new_type, new_value
        FROM diff WHERE change_type IS NOT NULL
    """,
    "mv_incremental_refresh": """
        WITH typed AS (
            SELECT o_orderpriority,
                   CAST(year(o_orderdate) * 100 + month(o_orderdate)
                        AS INTEGER) AS month,
                   CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
                   o_orderdate < TIMESTAMP '2001-01-01' AS is_base
            FROM orders
        ),
        base_mv AS (
            SELECT o_orderpriority, month,
                   CAST(COUNT(*) AS BIGINT) AS n_orders,
                   CAST(SUM(cents) AS BIGINT) AS total_cents
            FROM typed WHERE is_base GROUP BY 1, 2
        ),
        delta AS (
            SELECT o_orderpriority, month,
                   CAST(COUNT(*) AS BIGINT) AS n_orders,
                   CAST(SUM(cents) AS BIGINT) AS total_cents
            FROM typed WHERE NOT is_base GROUP BY 1, 2
        ),
        merged AS (
            SELECT o_orderpriority, month,
                   CAST(SUM(n_orders) AS BIGINT) AS n_orders,
                   CAST(SUM(total_cents) AS BIGINT) AS total_cents
            FROM (SELECT * FROM base_mv UNION ALL SELECT * FROM delta)
            GROUP BY 1, 2
        ),
        full_mv AS (
            SELECT o_orderpriority, month,
                   CAST(COUNT(*) AS BIGINT) AS f_n,
                   CAST(SUM(cents) AS BIGINT) AS f_cents
            FROM typed GROUP BY 1, 2
        )
        SELECT m.o_orderpriority, m.month, m.n_orders, m.total_cents,
               (2 * m.total_cents + m.n_orders) // (2 * m.n_orders)
                   AS avg_cents,
               (m.n_orders IS NOT DISTINCT FROM f.f_n
                AND m.total_cents IS NOT DISTINCT FROM f.f_cents)
                   AS consistent
        FROM merged m
        FULL OUTER JOIN full_mv f
            ON m.o_orderpriority = f.o_orderpriority AND m.month = f.month
    """,
    "event_path_topk": """
        WITH e AS (
            SELECT user_id, ts, event_id, event_type,
                   CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER (
                            PARTITION BY user_id ORDER BY ts, event_id
                        ) > 30 * 60 * 1000000 THEN 1 ELSE 0 END AS new_sess
            FROM events
        ),
        s AS (
            SELECT user_id, ts, event_id, event_type,
                   SUM(new_sess) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                   ) AS sess_id
            FROM e
        ),
        p AS (
            SELECT array_to_string(
                       (list(event_type ORDER BY ts, event_id))[1:8], '>'
                   ) AS path
            FROM s GROUP BY user_id, sess_id
        )
        SELECT path, CAST(COUNT(*) AS BIGINT) AS n_sessions
        FROM p GROUP BY path
        ORDER BY n_sessions DESC, path ASC
        LIMIT 20
    """,
    "event_cooccurrence_lift": """
        WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
        n AS (
            SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
            FROM events
        ),
        pt AS (
            SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_t
            FROM ut GROUP BY event_type
        ),
        pairs AS (
            SELECT a.event_type AS type_a, b.event_type AS type_b,
                   CAST(COUNT(*) AS BIGINT) AS n_both
            FROM ut a
            JOIN ut b ON a.user_id = b.user_id
                     AND a.event_type < b.event_type
            GROUP BY 1, 2
        )
        SELECT type_a, type_b, pa.n_t AS n_a, pb.n_t AS n_b, n_both,
               (2 * n_both * n.n_users * 1000000 + pa.n_t * pb.n_t)
                   // (2 * pa.n_t * pb.n_t) AS lift_micro
        FROM pairs
        CROSS JOIN n
        JOIN pt pa ON pairs.type_a = pa.event_type
        JOIN pt pb ON pairs.type_b = pb.event_type
    """,
    "discount_quantity_ols": """
        WITH j AS (
            SELECT p.p_brand,
                   CAST(round(l.l_discount * 100) AS BIGINT) AS x,
                   CAST(round(l.l_quantity) AS BIGINT) AS y
            FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        ),
        m AS (
            SELECT p_brand,
                   CAST(COUNT(*) AS HUGEINT) AS n,
                   CAST(SUM(x) AS HUGEINT) AS sx,
                   CAST(SUM(y) AS HUGEINT) AS sy,
                   CAST(SUM(x * y) AS HUGEINT) AS sxy,
                   CAST(SUM(x * x) AS HUGEINT) AS sxx,
                   CAST(SUM(y * y) AS HUGEINT) AS syy
            FROM j GROUP BY p_brand
        )
        SELECT p_brand, CAST(n AS BIGINT) AS n_rows,
               CASE WHEN n * sxx - sx * sx = 0 THEN NULL
                    WHEN n * sxy - sx * sy >= 0 THEN
                     CAST((2 * (n * sxy - sx * sy) * 100000000
                           + (n * sxx - sx * sx))
                          // (2 * (n * sxx - sx * sx)) AS BIGINT)
                         / 1000000.0
                    ELSE
                     -CAST((2 * -(n * sxy - sx * sy) * 100000000
                            + (n * sxx - sx * sx))
                           // (2 * (n * sxx - sx * sx)) AS BIGINT)
                         / 1000000.0 END AS slope,
               CASE WHEN (n * sxx - sx * sx) * (n * syy - sy * sy) = 0
                    THEN NULL
                    ELSE CAST((2 * (n * sxy - sx * sy) * (n * sxy - sx * sy)
                               * 1000000
                               + (n * sxx - sx * sx) * (n * syy - sy * sy))
                              // (2 * (n * sxx - sx * sx)
                                  * (n * syy - sy * sy)) AS BIGINT)
                        / 1000000.0 END AS r2
        FROM m
    """,
    "user_value_gini": """
        WITH users AS (
            SELECT user_id,
                   CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                       AS v_cents
            FROM events GROUP BY user_id
        ),
        ranked AS (
            SELECT v_cents,
                   CAST(ROW_NUMBER() OVER (ORDER BY v_cents, user_id)
                        AS HUGEINT) AS rnk
            FROM users
        ),
        a AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
                   CAST(SUM(v_cents) AS HUGEINT) AS s,
                   CAST(SUM(rnk * v_cents) AS HUGEINT) AS si
            FROM ranked
        )
        SELECT n_users,
               CAST(s AS BIGINT) AS total_cents,
               CASE WHEN n_users * s <= 0 THEN NULL
                    WHEN 2 * si - (n_users + 1) * s >= 0 THEN
                     CAST((2 * (2 * si - (n_users + 1) * s) * 1000000
                           + n_users * s) // (2 * n_users * s) AS BIGINT)
                         / 1000000.0
                    ELSE
                     -CAST((2 * -(2 * si - (n_users + 1) * s) * 1000000
                            + n_users * s) // (2 * n_users * s) AS BIGINT)
                         / 1000000.0 END AS gini
        FROM a
    """,
    "user_value_concentration": """
        WITH users AS (
            SELECT user_id,
                   CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                       AS v_cents
            FROM events GROUP BY user_id
        ),
        bands AS (
            SELECT CAST(CASE WHEN v_cents <= 0 THEN 0
                        ELSE length(bin(v_cents)) END AS INTEGER) AS band,
                   CAST(COUNT(*) AS BIGINT) AS n_users,
                   CAST(SUM(v_cents) AS BIGINT) AS band_cents
            FROM users GROUP BY 1
        )
        SELECT band, n_users, band_cents,
               CAST(SUM(n_users) OVER w1 AS BIGINT) AS cum_users,
               CAST(SUM(band_cents) OVER w1 AS BIGINT) AS cum_cents,
               -- cumulative products on HUGEINT (2e6 x corpus cents
               -- passes int64 at ~$50B corpus value)
               CAST((2 * 1000000 * CAST(SUM(band_cents) OVER w1 AS HUGEINT)
                     + CAST(SUM(band_cents) OVER w2 AS HUGEINT))
                   // (2 * CAST(SUM(band_cents) OVER w2 AS HUGEINT))
                   AS BIGINT) AS cum_share_micro
        FROM bands
        WINDOW w1 AS (ORDER BY band DESC
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
               w2 AS (ORDER BY band DESC
                      ROWS BETWEEN UNBOUNDED PRECEDING
                      AND UNBOUNDED FOLLOWING)
    """,
    "nation_supplier_hhi": """
        WITH rev AS (
            SELECT l_suppkey,
                   CAST(SUM(CAST(round(l_extendedprice * (1 - l_discount)
                                       * 100) AS BIGINT)) AS BIGINT)
                       AS v_cents
            FROM lineitem GROUP BY l_suppkey
        ),
        by_n AS (
            SELECT n.n_name,
                   CAST(COUNT(*) AS BIGINT) AS n_suppliers,
                   CAST(SUM(r.v_cents) AS BIGINT) AS total_cents,
                   SUM(CAST(r.v_cents AS HUGEINT) * r.v_cents) AS sum_sq
            FROM rev r
            JOIN supplier s ON r.l_suppkey = s.s_suppkey
            JOIN nation n ON s.s_nationkey = n.n_nationkey
            GROUP BY n.n_name
        )
        SELECT n_name AS nation_name, n_suppliers, total_cents,
               CAST((2 * 1000000 * sum_sq
                     + CAST(total_cents AS HUGEINT) * total_cents)
                    // (2 * CAST(total_cents AS HUGEINT) * total_cents)
                    AS BIGINT) AS hhi_micro
        FROM by_n
    """,
    "event_transition_matrix": """
        WITH seq AS (
            SELECT user_id,
                   LAG(event_type) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                   ) AS prev_type,
                   event_type AS next_type
            FROM events
        ),
        pairs AS (
            SELECT prev_type, next_type,
                   CAST(COUNT(*) AS BIGINT) AS n_transitions
            FROM seq WHERE prev_type IS NOT NULL
            GROUP BY prev_type, next_type
        ),
        totals AS (
            SELECT prev_type, CAST(SUM(n_transitions) AS BIGINT) AS n_from
            FROM pairs GROUP BY prev_type
        )
        SELECT p.prev_type, p.next_type, p.n_transitions,
               (2 * p.n_transitions * 1000000 + t.n_from)
                   // (2 * t.n_from) AS p_micro
        FROM pairs p JOIN totals t ON p.prev_type = t.prev_type
    """,
    "orders_monthly_growth": """
        WITH monthly AS (
            SELECT CAST(year(o_orderdate) AS INTEGER) AS year,
                   CAST(month(o_orderdate) AS INTEGER) AS month,
                   COUNT(*) AS n_orders,
                   CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT))
                        AS BIGINT) AS revenue_cents
            FROM orders
            GROUP BY 1, 2
        ),
        lagged AS (
            SELECT *,
                   LAG(revenue_cents) OVER (ORDER BY year, month)
                       AS prev_cents
            FROM monthly
        )
        SELECT year, month, n_orders, revenue_cents, prev_cents,
               CASE
                   WHEN prev_cents IS NULL THEN NULL
                   WHEN revenue_cents >= prev_cents THEN
                       (2 * (revenue_cents - prev_cents) * 1000000
                        + prev_cents) // (2 * prev_cents)
                   ELSE
                       -((2 * (prev_cents - revenue_cents) * 1000000
                          + prev_cents) // (2 * prev_cents))
               END AS growth_micro
        FROM lagged
    """,
    "order_status_upsert": """
        WITH base AS (
            SELECT o_orderkey, o_orderstatus,
                   CAST(round(o_totalprice * 100) AS BIGINT) AS cents
            FROM orders
        ),
        matched AS (
            SELECT o_orderkey, 'X' AS u_status,
                   cents + 500 AS u_cents
            FROM base WHERE o_orderkey % 101 = 5
        ),
        updates AS (
            SELECT * FROM matched
            UNION ALL
            SELECT o_orderkey + 20000000, 'N', u_cents FROM matched
        ),
        merged AS (
            SELECT COALESCE(u.u_status, b.o_orderstatus) AS status,
                   COALESCE(u.u_cents, b.cents) AS cents
            FROM base b
            FULL OUTER JOIN updates u USING (o_orderkey)
        )
        SELECT status, COUNT(*) AS n_orders,
               CAST(SUM(cents) AS BIGINT) AS total_cents
        FROM merged GROUP BY status
    """,
    "q1_filter": """
        SELECT event_id,
               user_id,
               ROUND(value, 2) AS value,
               CAST(json_extract(props, '$.k') AS INTEGER) AS k
        FROM events
        WHERE event_type = 'click' AND value > 100.0
    """,
    "q2_join_enrich": """
        SELECT c_custkey,
               c_name,
               ROUND(c_acctbal, 2) AS c_acctbal,
               n_name AS nation_name,
               r_name AS region_name
        FROM customer
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
    """,
    "q3_window_collect_set": """
        SELECT window_start,
               CAST(month(window_start) AS INTEGER) AS month,
               CAST(dayofmonth(window_start) AS INTEGER) AS day_of_the_month,
               CAST(hour(window_start) AS INTEGER) AS hour,
               CAST(minute(window_start) AS INTEGER) AS minute,
               array_to_string(list_sort(list(DISTINCT event_type)), ',')
                   AS event_types
        FROM (SELECT date_trunc('minute', ts) AS window_start, event_type FROM events)
        GROUP BY window_start
    """,
    "json_encode": """
        SELECT event_id,
               to_json(struct_pack(event_id := event_id,
                                   event_type := event_type,
                                   user_id := user_id)) AS payload
        FROM events
    """,
    "date_parts": """
        SELECT CAST(year(ts) AS INTEGER) AS year,
               CAST(month(ts) AS INTEGER) AS month,
               CAST(dayofmonth(ts) AS INTEGER) AS day_of_the_month,
               CAST(hour(ts) AS INTEGER) AS hour,
               COUNT(*) AS n_events
        FROM events
        GROUP BY 1, 2, 3, 4
    """,
    "pricing_summary": """
        SELECT l_returnflag,
               l_linestatus,
               (2 * SUM(CAST(ROUND((l_quantity) * 1000000) AS BIGINT)) + 10000) // 20000 / 100.0 AS sum_qty,
               (2 * SUM(CAST(ROUND((l_extendedprice) * 1000000) AS BIGINT)) + 10000) // 20000 / 100.0 AS sum_base_price,
               (2 * SUM(CAST(ROUND((l_extendedprice * (1 - l_discount)) * 1000000) AS BIGINT)) + 10000) // 20000 / 100.0 AS sum_disc_price,
               (2 * SUM(CAST(ROUND((l_quantity) * 1000000) AS BIGINT)) + COUNT(*)) // (2 * COUNT(*)) / 1000000.0 AS avg_qty,
               (2 * SUM(CAST(ROUND((l_discount) * 1000000) AS BIGINT)) + COUNT(*)) // (2 * COUNT(*)) / 1000000.0 AS avg_disc,
               COUNT(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '2001-09-01 00:00:00'
        GROUP BY l_returnflag, l_linestatus
    """,
    "revenue_by_nation": """
        SELECT n_name AS nation_name,
               (2 * SUM(CAST(ROUND((l_extendedprice * (1 - l_discount)) * 1000000) AS BIGINT)) + 10000) // 20000 / 100.0 AS revenue
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation   ON c_nationkey = n_nationkey
        GROUP BY n_name
    """,
    "fuzzy_name_matches": """
        WITH base AS (
            SELECT c_custkey, c_name, length(c_name) AS n FROM customer
        ),
        variants AS (
            SELECT DISTINCT c_custkey, c_name, variant FROM (
                SELECT c_custkey, c_name,
                       substr(c_name, 1, pos - 1)
                           || substr(c_name, pos + 1) AS variant
                FROM base, unnest(range(1, n + 1)) AS t(pos)
                UNION ALL
                SELECT c_custkey, c_name, c_name AS variant FROM base
            )
        ),
        cand AS (
            SELECT DISTINCT
                   a.c_custkey AS custkey_a, a.c_name AS name_a,
                   b.c_custkey AS custkey_b, b.c_name AS name_b
            FROM variants a JOIN variants b USING (variant)
            WHERE a.c_custkey < b.c_custkey
        )
        SELECT custkey_a, custkey_b, name_a, name_b,
               CAST(levenshtein(name_a, name_b) AS INTEGER) AS edit_dist
        FROM cand
        WHERE levenshtein(name_a, name_b) = 1
    """,
    "props_map_stats": """
        -- unnest key/value pairs TOGETHER via the JSON→MAP cast: the
        -- earlier json_extract(props, '$.' || key) rebuilt JSON paths
        -- by string concatenation, which silently mis-addresses keys
        -- containing '.', quotes, or brackets that Spark's
        -- map<string,int> decode handles fine
        WITH entries AS (
            SELECT unnest(map_entries(
                       CAST(props::JSON AS MAP(VARCHAR, INTEGER)))) AS e
            FROM events
        )
        SELECT e.key AS key,
               COUNT(*) AS n_entries,
               MIN(e.value) AS min_val,
               MAX(e.value) AS max_val,
               CAST(SUM(e.value) AS BIGINT) AS sum_val
        FROM entries
        GROUP BY e.key
    """,
    "user_trailing_hour_stats": """
        WITH e AS (
            SELECT event_id, user_id, ts, value,
                   epoch_us(ts) // 1000000 AS sec
            FROM events
        )
        SELECT event_id, user_id, ts,
               COUNT(*) OVER w AS n_trailing_1h,
               (2 * SUM(CAST(ROUND(value * 1000000) AS BIGINT)) OVER w
                + 100) // 200 / 10000.0 AS sum_trailing_1h
        FROM e
        WINDOW w AS (PARTITION BY user_id ORDER BY sec
                     RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
    """,
    "local_supplier_volume": """
        -- exact micro-unit sum + integer half-up division to cents,
        -- like returned_item_report: a double SUM is partial-order-
        -- dependent and ROUND diverges between engines at boundaries
        SELECT n_name AS nation_name,
               ((CAST(SUM(CAST(round(
                     l_extendedprice * (1 - l_discount) * 1e6)
                 AS BIGINT)) AS BIGINT) + 5000) // 10000) / 100.0
                   AS revenue
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey
                     AND s_nationkey = c_nationkey
        JOIN nation   ON s_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
          AND o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate <  TIMESTAMP '1997-01-01'
        GROUP BY n_name
    """,
    "returned_item_report": """
        WITH revenue AS (
            -- exact micro-unit sum + integer half-up division to cents:
            -- double ROUND diverges between engines at .xx5 boundaries
            -- (see the Spark builder's note)
            SELECT o_custkey,
                   ((CAST(SUM(CAST(round(
                         l_extendedprice * (1 - l_discount) * 1e6)
                     AS BIGINT)) AS BIGINT) + 5000) // 10000) / 100.0
                       AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            WHERE l_returnflag = 'R'
              AND o_orderdate >= TIMESTAMP '1996-01-01'
              AND o_orderdate <  TIMESTAMP '1996-04-01'
            GROUP BY o_custkey
        )
        SELECT c_custkey, c_name,
               ROUND(c_acctbal, 2) AS c_acctbal,
               n_name AS nation_name,
               revenue
        FROM revenue
        JOIN customer ON o_custkey = c_custkey
        JOIN nation   ON c_nationkey = n_nationkey
        ORDER BY revenue DESC, c_custkey
        LIMIT 20
    """,
    "top_customers": """
        SELECT c_custkey, c_name, total_spent
        FROM (
            SELECT o_custkey, (2 * SUM(CAST(ROUND((o_totalprice) * 1000000) AS BIGINT)) + 10000) // 20000 / 100.0 AS total_spent
            FROM orders GROUP BY o_custkey
        )
        JOIN customer ON o_custkey = c_custkey
        ORDER BY total_spent DESC, c_custkey
        LIMIT 10
    """,
    "order_priority_semijoin": """
        SELECT o_orderpriority, COUNT(*) AS order_count
        FROM orders
        WHERE EXISTS (
            SELECT 1 FROM lineitem
            WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate
        )
        GROUP BY o_orderpriority
    """,
    "parts_never_in_bulk_orders": """
        SELECT p_partkey, p_name, p_brand
        FROM part
        WHERE NOT EXISTS (
            SELECT 1 FROM lineitem
            WHERE l_partkey = p_partkey AND l_quantity >= 50.0
        )
    """,
    "clickers_not_purchasers": """
        SELECT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day
        FROM events
        WHERE event_type IN ('click', 'purchase')
        GROUP BY user_id, day
        HAVING max(event_type = 'click') AND NOT max(event_type = 'purchase')
    """,
    "event_type_union": """
        SELECT user_id, event_type FROM events WHERE event_type = 'click'
        UNION
        SELECT user_id, event_type FROM events WHERE event_type = 'error'
    """,
    "distinct_users_per_type": """
        SELECT event_type,
               COUNT(DISTINCT user_id) AS n_users,
               COUNT(*) AS n_events
        FROM events
        GROUP BY event_type
    """,
    "rollup_order_status": """
        SELECT o_orderstatus,
               o_orderpriority,
               COUNT(*) AS n_orders,
               (2 * SUM(CAST(ROUND((o_totalprice) * 1000000) AS BIGINT)) + 10000) // 20000 / 100.0 AS total_price
        FROM orders
        GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
    "cube_event_stats": """
        SELECT event_type,
               CAST(hour(ts) AS INTEGER) AS hour,
               COUNT(*) AS n_events,
               (2 * SUM(CAST(ROUND((value) * 1000000) AS BIGINT)) + 10000) // 20000 / 100.0 AS sum_value
        FROM events
        GROUP BY CUBE (event_type, hour(ts))
    """,
    # exact micro-unit cents (half-up) — ROUND(SUM(double)) is
    # partition-order-dependent and flipped a boundary at sf0.4
    "pivot_user_event_values": """
        SELECT user_id,
               (2 * SUM(m) FILTER (event_type = 'click') + 10000)
                   // 20000 / 100.0 AS click,
               (2 * SUM(m) FILTER (event_type = 'view') + 10000)
                   // 20000 / 100.0 AS view,
               (2 * SUM(m) FILTER (event_type = 'purchase') + 10000)
                   // 20000 / 100.0 AS purchase,
               (2 * SUM(m) FILTER (event_type = 'error') + 10000)
                   // 20000 / 100.0 AS error,
               (2 * SUM(m) FILTER (event_type = 'signup') + 10000)
                   // 20000 / 100.0 AS signup
        FROM (SELECT user_id, event_type,
                     CAST(ROUND(value * 1000000) AS BIGINT) AS m
              FROM events)
        GROUP BY user_id
    """,
    "value_percentiles": """
        SELECT event_type,
               ROUND(quantile_cont(value, 0.5), 6) AS p50,
               ROUND(quantile_cont(value, 0.9), 6) AS p90,
               ROUND(quantile_cont(value, 0.99), 6) AS p99
        FROM events
        GROUP BY event_type
    """,
    # session windows via gaps-and-islands: new session when the gap
    # from the previous event reaches 30 min; end = last event + gap
    "session_window_stats": """
        WITH flagged AS (
            SELECT user_id, ts, event_id, value,
                   CASE WHEN lag(ts) OVER w IS NULL
                             OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                        THEN 1 ELSE 0 END AS new_sess
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        numbered AS (
            SELECT user_id, ts, value,
                   SUM(new_sess) OVER (
                       -- same total order (ts, event_id) as the flagged
                       -- window, or a duplicate-ts row at a session
                       -- boundary can land in the wrong session
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS UNBOUNDED PRECEDING
                   ) AS sess_id
            FROM flagged
        )
        SELECT user_id,
               MIN(ts) AS session_start,
               MAX(ts) + INTERVAL 30 MINUTE AS session_end,
               COUNT(*) AS n_events,
               (2 * SUM(CAST(ROUND(value * 1000000) AS BIGINT)) + 10000)
                   // 20000 / 100.0 AS sum_value
        FROM numbered
        GROUP BY user_id, sess_id
    """,
    # composed on the session oracle: +1/-1 boundary sweep, running sum
    # = live concurrency (ends sort before coincident starts); among
    # equal (ts, delta) rows the multiset of running values is order-
    # independent, so the max and its first ts are deterministic
    "peak_concurrent_sessions": None,  # assembled below (needs session SQL)
    "top3_per_segment": """
        SELECT c_mktsegment,
               c_custkey,
               ROUND(c_acctbal, 2) AS c_acctbal,
               CAST(rank_in_segment AS INTEGER) AS rank_in_segment
        FROM (
            SELECT c_mktsegment, c_custkey, c_acctbal,
                   row_number() OVER (
                       PARTITION BY c_mktsegment
                       ORDER BY c_acctbal DESC, c_custkey
                   ) AS rank_in_segment
            FROM customer
        )
        WHERE rank_in_segment <= 3
    """,
    "user_event_gaps": """
        -- integer-µs mean with one exact half-up division (see the
        -- Spark builder); // by a zero gap count yields NULL like
        -- AVG over no rows
        SELECT user_id,
               ((2 * CAST(SUM(gap_us) AS BIGINT) + 100 * COUNT(gap_us))
                // (200 * COUNT(gap_us))) / 1e4 AS avg_gap_sec,
               COUNT(*) AS n_events
        FROM (
            SELECT user_id,
                   epoch_us(ts) - epoch_us(lag(ts) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                   )) AS gap_us
            FROM events
        )
        GROUP BY user_id
    """,
}

ORACLES["promo_revenue_ratio"] = """
    SELECT CAST(year(l_shipdate) AS INTEGER) AS year,
           CAST(month(l_shipdate) AS INTEGER) AS month,
           (2 * SUM(CAST(ROUND((CASE WHEN p_type LIKE 'PROMO%' THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END) * 1000000) AS BIGINT)) * 1000000
            + SUM(CAST(ROUND((l_extendedprice * (1 - l_discount)) * 1000000) AS BIGINT)))
               // (2 * SUM(CAST(ROUND((l_extendedprice * (1 - l_discount)) * 1000000) AS BIGINT))) / 10000.0 AS promo_pct,
           (2 * SUM(CAST(ROUND((l_extendedprice * (1 - l_discount)) * 1000000) AS BIGINT)) + 10000) // 20000 / 100.0 AS total_revenue
    FROM lineitem JOIN part ON l_partkey = p_partkey
    GROUP BY 1, 2
"""

ORACLES["returnflag_priority_counts"] = """
    SELECT l_returnflag,
           -- DuckDB SUM(BIGINT) → HUGEINT → pandas float64; re-cast so the
           -- driver's canonicalizer sees int64 like Spark's
           CAST(SUM(CAST(o_orderpriority IN ('1-URGENT', '2-HIGH') AS BIGINT))
                AS BIGINT) AS high_priority,
           CAST(SUM(CAST(o_orderpriority NOT IN ('1-URGENT', '2-HIGH') AS BIGINT))
                AS BIGINT) AS low_priority
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY l_returnflag
"""

ORACLES["supplier_balance_by_nation"] = """
    SELECT n_name AS nation_name,
           COUNT(*) AS n_suppliers,
           (CASE WHEN SUM(CAST(ROUND((s_acctbal) * 1000000) AS BIGINT)) >= 0 THEN (2 * SUM(CAST(ROUND((s_acctbal) * 1000000) AS BIGINT)) + 10000) // 20000 ELSE -((-2 * SUM(CAST(ROUND((s_acctbal) * 1000000) AS BIGINT)) + 10000) // 20000) END) / 100.0 AS total_balance
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
    GROUP BY n_name
    HAVING COUNT(*) > 0
"""

ORACLES["asof_last_signup"] = """
    SELECT event_id,
           user_id,
           ts,
           last_value(CASE WHEN event_type = 'signup' THEN ts END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS last_signup_ts
    FROM events
"""

# the oracle uses the naive per-purchase LATERAL lookup — the clear
# declarative form of backward-as-of-with-tolerance; the Spark side's
# union-trick window pass must reproduce it exactly (including the
# max-event-id tie-break among same-instant clicks)
ORACLES["user_bot_periodicity"] = """
    WITH gaps AS (
        SELECT user_id,
               (epoch_us(ts) - epoch_us(LAG(ts) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id)))
                   // 1000000 AS gap_s
        FROM events
    ),
    per_gap AS (
        SELECT user_id, gap_s, CAST(COUNT(*) AS BIGINT) AS c
        FROM gaps WHERE gap_s IS NOT NULL
        GROUP BY user_id, gap_s
    ),
    ranked AS (
        SELECT *,
               CAST(SUM(c) OVER (PARTITION BY user_id) AS BIGINT) AS n_gaps,
               CAST(COUNT(*) OVER (PARTITION BY user_id) AS BIGINT)
                   AS n_distinct_gaps,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY c DESC, gap_s) AS rn
        FROM per_gap
    )
    SELECT user_id, n_gaps, n_distinct_gaps,
           CAST(gap_s AS BIGINT) AS modal_gap_s,
           c AS modal_n,
           (2 * 1000000 * c + n_gaps) // (2 * n_gaps) AS periodicity_micro
    FROM ranked
    WHERE rn = 1 AND n_gaps >= 5
"""

ORACLES["value_winsorize"] = """
    WITH base AS (
        SELECT event_id,
               CAST(ROUND(value * 1000000) AS BIGINT) AS m
        FROM events WHERE value IS NOT NULL
    ),
    ranked AS (
        SELECT m,
               ROW_NUMBER() OVER (ORDER BY m, event_id) AS rnk,
               COUNT(*) OVER () AS n
        FROM base
    ),
    bounds AS (
        SELECT MIN(m) AS lo_micro, MAX(m) AS hi_micro
        FROM ranked
        WHERE rnk = (n + 99) // 100 OR rnk = (99 * n + 99) // 100
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_events,
           MAX(b.lo_micro) AS lo_micro,
           MAX(b.hi_micro) AS hi_micro,
           CAST(SUM(CASE WHEN m < b.lo_micro THEN 1 ELSE 0 END) AS BIGINT)
               AS n_clipped_lo,
           CAST(SUM(CASE WHEN m > b.hi_micro THEN 1 ELSE 0 END) AS BIGINT)
               AS n_clipped_hi,
           CAST(SUM(m) AS BIGINT) AS sum_micro,
           CAST(SUM(GREATEST(b.lo_micro, LEAST(b.hi_micro, m))) AS BIGINT)
               AS winsorized_sum_micro
    FROM base CROSS JOIN bounds b
"""
# the bounds frame is exactly one aggregate row, so MAX() over the
# cross join reads it back unchanged; a GROUP BY b.* formulation
# emitted ZERO rows on an empty events table where Spark's global
# aggregate emits one (degenerate-corpus sweep, round 7)

ORACLES["user_simpson_diversity"] = """
    WITH per_type AS (
        SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS c
        FROM events GROUP BY user_id, event_type
    ),
    agg AS (
        SELECT user_id,
               CAST(SUM(c) AS BIGINT) AS n_events,
               CAST(COUNT(*) AS BIGINT) AS n_types,
               CAST(SUM(c * (c - 1)) AS BIGINT) AS num
        FROM per_type GROUP BY user_id
    )
    SELECT user_id, n_events, n_types,
           -- pair counts on HUGEINT: a ~2e6-same-type-event bot user
           -- would wrap 2*1e6*num in BIGINT silently
           CASE WHEN n_events >= 2
                THEN CAST((2 * 1000000 * CAST(num AS HUGEINT)
                           + CAST(n_events AS HUGEINT) * (n_events - 1))
                     // (2 * CAST(n_events AS HUGEINT) * (n_events - 1))
                     AS BIGINT)
           END AS simpson_micro
    FROM agg
"""

ORACLES["customer_rfm_scores"] = """
    WITH per_cust AS (
        SELECT o_custkey,
               MAX(o_orderdate) AS last_order,
               CAST(COUNT(*) AS BIGINT) AS frequency,
               CAST(SUM(CAST(ROUND(o_totalprice * 1000000) AS BIGINT))
                    AS BIGINT) AS micro
        FROM orders GROUP BY o_custkey
    ),
    m AS (SELECT MAX(o_orderdate) AS corpus_max FROM orders),
    base AS (
        SELECT o_custkey,
               CAST(date_diff('day', CAST(last_order AS DATE),
                              CAST(corpus_max AS DATE)) AS BIGINT)
                   AS recency_days,
               frequency,
               (2 * micro + 10000) // 20000 AS monetary_cents
        FROM per_cust CROSS JOIN m
    ),
    ranked AS (
        SELECT *,
               ROW_NUMBER() OVER (ORDER BY recency_days, o_custkey) AS r_rank,
               ROW_NUMBER() OVER (ORDER BY frequency, o_custkey) AS f_rank,
               ROW_NUMBER() OVER (ORDER BY monetary_cents, o_custkey)
                   AS m_rank,
               COUNT(*) OVER () AS n
        FROM base
    ),
    scored AS (
        SELECT o_custkey, recency_days, frequency, monetary_cents,
               CAST(5 - ((r_rank - 1) * 5) // n AS INTEGER) AS r_score,
               CAST(1 + ((f_rank - 1) * 5) // n AS INTEGER) AS f_score,
               CAST(1 + ((m_rank - 1) * 5) // n AS INTEGER) AS m_score
        FROM ranked
    )
    SELECT *,
           CAST(r_score AS VARCHAR) || CAST(f_score AS VARCHAR)
               || CAST(m_score AS VARCHAR) AS rfm_cell
    FROM scored
"""

ORACLES["asof_attribution"] = """
    SELECT p.event_id AS purchase_event_id,
           p.user_id,
           p.ts AS purchase_ts,
           c.cid AS click_event_id,
           c.cts AS click_ts
    FROM (SELECT event_id, user_id, ts FROM events
          WHERE event_type = 'purchase') p
    LEFT JOIN LATERAL (
        SELECT event_id AS cid, ts AS cts
        FROM events c
        WHERE c.event_type = 'click'
          AND c.user_id = p.user_id
          AND c.ts <= p.ts
          AND c.ts >= p.ts - INTERVAL 7200 SECOND
        ORDER BY c.ts DESC, c.event_id DESC
        LIMIT 1
    ) c ON TRUE
"""

# the oracle uses the naive interval join — correct at oracle scale,
# and exactly what the bucketed rewrite must reproduce
ORACLES["range_join_click_purchase"] = """
    SELECT c.event_id AS click_event_id,
           p.event_id AS purchase_event_id,
           c.user_id,
           ROUND(epoch(p.ts - c.ts), 6) AS secs_between
    FROM events c
    JOIN events p
      ON c.user_id = p.user_id
     AND p.ts >= c.ts
     AND p.ts <= c.ts + INTERVAL 1 HOUR
    WHERE c.event_type = 'click' AND p.event_type = 'purchase'
"""

ORACLES["salted_type_totals"] = """
    SELECT event_type,
           COUNT(*) AS n_events,
           (2 * SUM(CAST(ROUND((value) * 1000000) AS BIGINT)) + 10000) // 20000 / 100.0 AS total_value
    FROM events
    GROUP BY event_type
"""

ORACLES["shipping_priority_topk"] = """
    SELECT l.l_orderkey AS o_orderkey, o.o_orderdate, o.o_orderpriority,
           (2 * SUM(CAST(ROUND((l.l_extendedprice * (1 - l.l_discount)) * 1000000) AS BIGINT)) + 10000) // 20000 / 100.0 AS revenue
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE l.l_shipdate > TIMESTAMP '1998-06-01 00:00:00'
      AND o.o_orderdate < TIMESTAMP '1998-06-01 00:00:00'
      AND o.o_custkey IN (
          SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
    GROUP BY 1, 2, 3
    ORDER BY revenue DESC, o_orderkey
    LIMIT 10
"""

ORACLES["nation_pair_volume"] = """
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           year(l.l_shipdate) AS l_year,
           (2 * SUM(CAST(ROUND((l.l_extendedprice * (1 - l.l_discount)) * 1000000) AS BIGINT)) + 10000) // 20000 / 100.0 AS revenue
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
    JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
    WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
       OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
    GROUP BY 1, 2, 3
"""

ORACLES["market_share_by_year"] = """
    SELECT year(o.o_orderdate) AS o_year,
           (2 * SUM(CAST(ROUND((CASE WHEN n1.n_name = 'NATION_2' THEN l.l_extendedprice * (1 - l.l_discount) ELSE 0.0 END) * 1000000) AS BIGINT)) * 1000000
            + SUM(CAST(ROUND((l.l_extendedprice * (1 - l.l_discount)) * 1000000) AS BIGINT)))
               // (2 * SUM(CAST(ROUND((l.l_extendedprice * (1 - l.l_discount)) * 1000000) AS BIGINT))) / 1000000.0 AS mkt_share
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
    WHERE l.l_partkey IN (SELECT p_partkey FROM part WHERE p_type = 'PROMO')
      AND c.c_nationkey IN (
          SELECT n_nationkey FROM nation n
          JOIN region r ON n.n_regionkey = r.r_regionkey
          WHERE r.r_name = 'ASIA')
    GROUP BY 1
"""

ORACLES["part_profit_by_nation_year"] = """
    SELECT n.n_name AS nation, year(o.o_orderdate) AS o_year,
           (2 * SUM(CAST(ROUND((l.l_extendedprice * (1 - l.l_discount)) * 1000000) AS BIGINT)) + 10000) // 20000 / 100.0 AS profit
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    WHERE l.l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE '%red%')
    GROUP BY 1, 2
"""

ORACLES["customer_order_distribution"] = """
    SELECT c_count, COUNT(*) AS custdist
    FROM (
        SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
        FROM customer c
        LEFT OUTER JOIN orders o
          ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '5-LOW'
        GROUP BY c.c_custkey
    )
    GROUP BY c_count
"""

ORACLES["disjunctive_part_revenue"] = """
    SELECT (2 * SUM(CAST(ROUND((l.l_extendedprice * (1 - l.l_discount)) * 1000000) AS BIGINT)) + 10000) // 20000 / 100.0 AS revenue,
           COUNT(*) AS n_lines
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 5
           AND l.l_quantity BETWEEN 1 AND 11)
       OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 10
           AND l.l_quantity BETWEEN 10 AND 20)
       OR (p.p_brand = 'Brand#34' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 20 AND 30)
"""

ORACLES["daily_click_purchase_recon"] = """
    WITH clicks AS (
        SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
               (2 * SUM(CAST(ROUND((value) * 1000000) AS BIGINT)) + 10000) // 20000 / 100.0 AS click_total
        FROM events WHERE event_type = 'click' GROUP BY 1
    ),
    purchases AS (
        SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
               (2 * SUM(CAST(ROUND((value) * 1000000) AS BIGINT)) + 10000) // 20000 / 100.0 AS purchase_total
        FROM events WHERE event_type = 'purchase' GROUP BY 1
    )
    SELECT COALESCE(c.day, p.day) AS day,
           COALESCE(click_total, 0.0) AS click_total,
           COALESCE(purchase_total, 0.0) AS purchase_total
    FROM clicks c FULL OUTER JOIN purchases p ON c.day = p.day
"""

ORACLES["click_and_error_users"] = """
    SELECT user_id FROM events WHERE event_type = 'click'
    INTERSECT
    SELECT user_id FROM events WHERE event_type = 'error'
"""

ORACLES["latest_event_per_user"] = """
    SELECT user_id, event_id, ts, event_type, ROUND(value, 2) AS value
    FROM (
        SELECT user_id, event_id, ts, event_type, value,
               row_number() OVER (
                   PARTITION BY user_id ORDER BY ts DESC, event_id DESC
               ) AS rn
        FROM events
    )
    WHERE rn = 1
"""

ORACLES["funnel_conversion"] = """
    WITH per_user AS (
        SELECT user_id,
               MIN(CASE WHEN event_type = 'signup' THEN ts END) AS signup_ts,
               MIN(CASE WHEN event_type = 'click' THEN ts END) AS click_ts,
               MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS purchase_ts
        FROM events GROUP BY user_id
    )
    SELECT funnel_stage, COUNT(*) AS n_users FROM (
        SELECT CASE
            WHEN signup_ts IS NULL THEN '0_none'
            WHEN click_ts IS NULL OR click_ts < signup_ts THEN '1_signup'
            WHEN purchase_ts IS NULL OR purchase_ts < click_ts
                THEN '2_clicked'
            ELSE '3_converted'
        END AS funnel_stage
        FROM per_user
    )
    GROUP BY funnel_stage
"""

ORACLES["small_qty_part_revenue"] = """
    SELECT p.p_brand,
           (2 * SUM(CAST(ROUND((l.l_extendedprice) * 1000000) AS BIGINT)) + 10000) // 20000 / 100.0 AS low_qty_revenue,
           COUNT(*) AS n_lines
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_quantity < (
        SELECT 0.5 * AVG(l2.l_quantity)
        FROM lineitem l2 WHERE l2.l_partkey = p.p_partkey
    )
    GROUP BY p.p_brand
"""

ORACLES["big_order_customers"] = """
    SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_orderdate,
           ROUND(o.o_totalprice, 2) AS o_totalprice,
           ROUND(SUM(l.l_quantity), 2) AS total_qty
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderkey IN (
        SELECT l_orderkey FROM lineitem
        GROUP BY l_orderkey HAVING SUM(l_quantity) > 150
    )
    GROUP BY c.c_custkey, c.c_name, o.o_orderkey, o.o_orderdate, o.o_totalprice
"""

ORACLES["inactive_rich_customers"] = """
    SELECT c.c_nationkey,
           COUNT(*) AS n_customers,
           (CASE WHEN SUM(CAST(ROUND((c.c_acctbal) * 1000000) AS BIGINT)) >= 0 THEN (2 * SUM(CAST(ROUND((c.c_acctbal) * 1000000) AS BIGINT)) + 10000) // 20000 ELSE -((-2 * SUM(CAST(ROUND((c.c_acctbal) * 1000000) AS BIGINT)) + 10000) // 20000) END) / 100.0 AS total_balance
    FROM customer c
    WHERE c.c_acctbal > (
        SELECT AVG(c_acctbal) FROM customer WHERE c_acctbal > 0.0
    )
    AND NOT EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey
          AND o.o_orderdate >= TIMESTAMP '2001-01-01 00:00:00'
    )
    GROUP BY c.c_nationkey
"""

ORACLES["top_supplier_by_revenue"] = """
    WITH rev AS (
        SELECT l_suppkey,
               SUM(l_extendedprice * (1 - l_discount)) AS total_rev
        FROM lineitem GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, ROUND(rev.total_rev, 2) AS total_revenue
    FROM supplier s JOIN rev ON s.s_suppkey = rev.l_suppkey
    WHERE rev.total_rev = (SELECT MAX(total_rev) FROM rev)
"""

# DECIMAL accumulation on both sides: window SUM order differs between
# engines (sequential vs segment tree), so double sums drift in the
# last ulp — decimal is exact, then one cast + round at the boundary
# exact micro-unit window sums + half-up integer division to 4dp:
# ROUND(double, 4) diverges cross-engine on .xxxx5 quotients (Spark
# rounds the shortest decimal repr, DuckDB the raw binary)
ORACLES["running_user_value"] = """
    SELECT event_id, user_id, ts,
           (2 * cum_m + 100) // 200 / 10000.0 AS cum_value,
           (2 * mov_m + 100 * mov_n) // (200 * mov_n)
               / 10000.0 AS moving_avg3
    FROM (
        SELECT event_id, user_id, ts,
               SUM(m) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING) AS cum_m,
               SUM(m) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS mov_m,
               COUNT(*) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS mov_n
        FROM (SELECT event_id, user_id, ts,
                     CAST(ROUND(value * 1000000) AS BIGINT) AS m
              FROM events WHERE value IS NOT NULL)
    )
"""

ORACLES["event_rank_stats"] = """
    SELECT event_id, event_type,
           CAST(ntile(4) OVER w AS INTEGER) AS quartile,
           ROUND(percent_rank() OVER w, 6) AS pct_rank
    FROM events
    WHERE value IS NOT NULL
    WINDOW w AS (PARTITION BY event_type ORDER BY value, event_id)
"""

# 10-minute window sliding by 5: every event belongs to exactly two
# windows (offsets j=0,1 from the 5-minute grid), reproducing Spark's
# epoch-aligned F.window(ts, '10 minutes', '5 minutes') expansion.
ORACLES["sliding_window_stats"] = """
    SELECT make_timestamp(CAST(start_s * 1000000 AS BIGINT)) AS window_start,
           COUNT(*) AS n_events,
           (2 * SUM(CAST(ROUND(value * 1000000) AS BIGINT)) + 10000)
               // 20000 / 100.0 AS sum_value
    FROM (
        SELECT floor(epoch(ts) / 300) * 300 - j * 300 AS start_s, value
        FROM events
        CROSS JOIN (VALUES (0), (1)) offsets(j)
    )
    GROUP BY start_s
"""

# Classic EXISTS / NOT EXISTS form of the Q21 pattern; the Spark side
# runs the single-scan rewrite, so a hash match here proves the
# rewrite's equivalence. COUNT(DISTINCT) stays BIGINT (no HUGEINT).
ORACLES["sole_late_supplier"] = """
    SELECT s_name,
           COUNT(DISTINCT l1.l_orderkey) AS numwait
    FROM lineitem l1
    JOIN orders o ON o.o_orderkey = l1.l_orderkey
    JOIN supplier s ON s.s_suppkey = l1.l_suppkey
    WHERE l1.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
      AND EXISTS (
          SELECT 1 FROM lineitem l2
          WHERE l2.l_orderkey = l1.l_orderkey
            AND l2.l_suppkey <> l1.l_suppkey
      )
      AND NOT EXISTS (
          SELECT 1 FROM lineitem l3
          WHERE l3.l_orderkey = l1.l_orderkey
            AND l3.l_suppkey <> l1.l_suppkey
            AND l3.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
      )
    GROUP BY s_name
"""

ORACLES["brand_supplier_variety"] = """
    SELECT p_brand, p_size,
           COUNT(DISTINCT l_suppkey) AS supplier_cnt
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_suppkey NOT IN (
        SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
    )
    GROUP BY p_brand, p_size
"""

# Exact DECIMAL accumulation of sum / sum-of-squares over 6-decimal
# values, then the identical float expression shape as the Spark side:
# every intermediate is the same IEEE-rounded double in both engines.
ORACLES["value_zscore_anomalies"] = """
    WITH v AS (
        SELECT event_id, event_type, value,
               CAST(ROUND(value, 6) AS DECIMAL(18,6)) AS v6
        FROM events
    ),
    stats AS (
        SELECT event_type,
               COUNT(*) AS n,
               SUM(v6) AS s1,
               SUM(v6 * v6) AS s2
        FROM v GROUP BY event_type
        HAVING COUNT(*) >= 2
    ),
    scored AS (
        SELECT v.event_id, v.event_type,
               ROUND(v.value, 2) AS value,
               ROUND(
                   (CAST(v.v6 AS DOUBLE)
                    - CAST(s.s1 AS DOUBLE) / CAST(s.n AS DOUBLE))
                   / sqrt((CAST(s.s2 AS DOUBLE)
                           - CAST(s.s1 AS DOUBLE) * CAST(s.s1 AS DOUBLE)
                             / CAST(s.n AS DOUBLE))
                          / (CAST(s.n AS DOUBLE) - 1.0)),
                   4) AS zscore
        FROM v JOIN stats s USING (event_type)
    )
    SELECT event_id, event_type, value, zscore
    FROM scored WHERE abs(zscore) > 3
"""

ORACLES["user_retention_cohorts"] = """
    WITH first AS (
        SELECT user_id, date_trunc('week', MIN(ts)) AS cohort_week
        FROM events GROUP BY user_id
    ),
    activity AS (
        SELECT DISTINCT user_id, date_trunc('week', ts) AS week
        FROM events
    )
    SELECT cohort_week,
           CAST(date_diff('day', cohort_week, week) / 7 AS INTEGER)
               AS week_offset,
           COUNT(DISTINCT user_id) AS n_users
    FROM activity JOIN first USING (user_id)
    GROUP BY 1, 2
"""

# generate_series is inclusive on both ends, matching Spark F.sequence
ORACLES["event_hourly_resample"] = """
    WITH bounds AS (
        SELECT date_trunc('hour', MIN(ts)) AS h0,
               date_trunc('hour', MAX(ts)) AS h1
        FROM events
    ),
    hours AS (
        SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour
        FROM bounds
    ),
    types AS (SELECT DISTINCT event_type FROM events),
    hourly AS (
        SELECT date_trunc('hour', ts) AS hour, event_type,
               COUNT(*) AS n,
               CAST(SUM(CAST(ROUND(value * 1000000) AS BIGINT))
                    AS BIGINT) AS sv
        FROM events GROUP BY 1, 2
    )
    SELECT hour, event_type,
           CAST(COALESCE(n, 0) AS BIGINT) AS n_events,
           (2 * COALESCE(sv, 0) + 10000) // 20000 / 100.0 AS sum_value
    FROM hours CROSS JOIN types
    LEFT JOIN hourly USING (hour, event_type)
"""

ORACLES["user_type_scd2"] = """
    WITH flagged AS (
        SELECT user_id, ts, event_id, event_type,
               CASE WHEN lag(event_type) OVER w IS NULL
                         OR lag(event_type) OVER w <> event_type
                    THEN 1 ELSE 0 END AS chg
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    runs AS (
        SELECT user_id, ts, event_type, chg,
               SUM(chg) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING
               ) AS run_id
        FROM flagged
    ),
    intervals AS (
        SELECT user_id, run_id,
               MAX(event_type) AS event_type,
               MIN(ts) AS valid_from,
               COUNT(*) AS n_events
        FROM runs GROUP BY user_id, run_id
    )
    SELECT user_id, event_type, valid_from,
           lead(valid_from) OVER (
               PARTITION BY user_id ORDER BY valid_from
           ) AS valid_to,
           n_events
    FROM intervals
"""

ORACLES["value_equidepth_deciles"] = """
    WITH binned AS (
        SELECT event_type, value,
               ntile(10) OVER (
                   PARTITION BY event_type ORDER BY value, event_id
               ) AS decile
        FROM events
        WHERE value IS NOT NULL
    )
    SELECT event_type,
           CAST(decile AS INTEGER) AS decile,
           COUNT(*) AS n_events,
           ROUND(MIN(value), 2) AS lo,
           ROUND(MAX(value), 2) AS hi
    FROM binned
    GROUP BY event_type, decile
"""

ORACLES["forecast_revenue_change"] = """
    SELECT (2 * SUM(CAST(ROUND((l_extendedprice * l_discount) * 1000000) AS BIGINT)) + 10000) // 20000 / 100.0 AS revenue_increase,
           COUNT(*) AS n_lineitems
    FROM lineitem
    WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
"""

# GROUPING(a, b) bitmask is MSB-first in both engines (Postgres
# convention), matching Spark's grouping_id(n_name, o_orderpriority)
ORACLES["grouping_sets_revenue"] = """
    SELECT n_name AS nation_name,
           o_orderpriority,
           CAST(GROUPING(n_name, o_orderpriority) AS INTEGER) AS gid,
           COUNT(*) AS n_orders,
           (2 * SUM(CAST(ROUND((o_totalprice) * 1000000) AS BIGINT)) + 10000) // 20000 / 100.0 AS revenue
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    GROUP BY GROUPING SETS ((n_name), (o_orderpriority), ())
"""

ORACLES["peak_concurrent_sessions"] = f"""
    WITH s AS ({ORACLES["session_window_stats"]}),
    b AS (
        SELECT session_start AS ts, 1 AS delta FROM s
        UNION ALL
        SELECT session_end AS ts, -1 AS delta FROM s
    ),
    live AS (
        SELECT ts,
               SUM(delta) OVER (
                   ORDER BY ts, delta ROWS UNBOUNDED PRECEDING
               ) AS concurrent
        FROM b
    ),
    peak AS (SELECT MAX(concurrent) AS peak_concurrent FROM live)
    SELECT CAST(p.peak_concurrent AS BIGINT) AS peak_concurrent,
           MIN(l.ts) AS first_peak_ts
    FROM live l JOIN peak p ON l.concurrent = p.peak_concurrent
    GROUP BY p.peak_concurrent
"""

ORACLES["recent_orders_lateral"] = """
    SELECT c.c_custkey, o.o_orderkey, o.o_orderdate
    FROM customer c,
    LATERAL (
        SELECT o_orderkey, o_orderdate
        FROM orders
        WHERE o_custkey = c.c_custkey
        ORDER BY o_orderdate DESC, o_orderkey
        LIMIT 2
    ) o
"""

ORACLES["lineitem_measures_unpivot"] = """
    WITH long AS (
        SELECT measure, val
        FROM lineitem
        UNPIVOT (val FOR measure IN
                 (l_quantity, l_extendedprice, l_discount, l_tax))
    )
    SELECT measure,
           COUNT(*) AS n,
           ROUND(MIN(val), 6) AS min_val,
           ROUND(MAX(val), 6) AS max_val,
           CAST(SUM(CAST(round(val * 1e6) AS BIGINT)) AS BIGINT) / 1e6
               AS sum_val
    FROM long
    GROUP BY measure
"""

ORACLES["regional_min_cost_supplier"] = """
    -- TPC-H Q2 pattern: classic correlated-MIN form; the Spark builder
    -- uses the decorrelated window equivalent. Unit price is the exact
    -- half-up micro-unit rational (2a+b)//(2b) both sides.
    WITH offers AS (
        SELECT p_partkey, p_name, s_suppkey, s_name,
               n_name AS nation_name,
               (2 * CAST(SUM(CAST(round(l_extendedprice * 1e6) AS BIGINT))
                         AS BIGINT)
                  + CAST(SUM(CAST(round(l_quantity) AS BIGINT)) AS BIGINT))
               // (2 * CAST(SUM(CAST(round(l_quantity) AS BIGINT))
                            AS BIGINT)) AS price_micro
        FROM lineitem
        JOIN part     ON l_partkey = p_partkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation   ON s_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey
        WHERE p_type = 'ECONOMY' AND p_size <= 15 AND r_name = 'EUROPE'
        GROUP BY p_partkey, p_name, s_suppkey, s_name, n_name
    )
    SELECT p_partkey, p_name, s_suppkey, s_name, nation_name,
           price_micro / 1000000.0 AS unit_price
    FROM offers o
    WHERE price_micro = (
        SELECT MIN(price_micro) FROM offers i
        WHERE i.p_partkey = o.p_partkey
    )
"""

ORACLES["valuable_part_stock"] = """
    -- TPC-H Q11 pattern: share-of-total HAVING via scalar subquery.
    -- Threshold is integer-only and scale-invariant (v > 2x the mean
    -- per-part value): no fractional division, no ROUND boundary.
    WITH val AS (
        SELECT l_partkey AS partkey,
               CAST(SUM(CAST(round(l_extendedprice * 1e6) AS BIGINT))
                    AS BIGINT) AS v
        FROM lineitem
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation   ON s_nationkey = n_nationkey
        WHERE n_name = 'NATION_7'
        GROUP BY l_partkey
    )
    SELECT partkey, ((v + 5000) // 10000) / 100.0 AS stock_value
    FROM val
    WHERE v > (SELECT 2 * (CAST(SUM(v) AS BIGINT) // COUNT(*)) FROM val)
"""

ORACLES["excess_quantity_suppliers"] = """
    -- TPC-H Q20 pattern: nested-IN qualification chain in its classic
    -- form; the Spark builder runs the decorrelated window + distinct
    -- equivalent. Eighth-share factor as the integer compare
    -- 8*sq > tq (see the builder's note on corpus supplier spread).
    SELECT s_suppkey, s_name, n_name AS nation_name
    FROM supplier
    JOIN nation ON s_nationkey = n_nationkey
    WHERE s_suppkey IN (
        SELECT l_suppkey
        FROM (
            SELECT l_suppkey, l_partkey,
                   CAST(SUM(CAST(round(l_quantity) AS BIGINT)) AS BIGINT)
                       AS sq,
                   CAST(SUM(CAST(SUM(CAST(round(l_quantity) AS BIGINT))
                                 AS BIGINT))
                        OVER (PARTITION BY l_partkey) AS BIGINT) AS tq
            FROM lineitem
            JOIN part ON l_partkey = p_partkey
            WHERE p_name LIKE 'small%'
            GROUP BY l_suppkey, l_partkey
        )
        WHERE 8 * sq > tq
    )
"""

ORACLES["value_mad_anomalies"] = """
    WITH base AS (
        SELECT event_type, event_id,
               CAST(ROUND(value * 1000000) AS BIGINT) AS m
        FROM events
        WHERE value IS NOT NULL
    ),
    ranked AS (
        SELECT event_type, m,
               ROW_NUMBER() OVER (
                   PARTITION BY event_type ORDER BY m, event_id
               ) AS rnk,
               COUNT(*) OVER (PARTITION BY event_type) AS n
        FROM base
    ),
    med AS (
        SELECT event_type, m AS med FROM ranked WHERE rnk = (n + 1) // 2
    ),
    dev AS (
        SELECT b.event_type, b.event_id, med.med,
               abs(b.m - med.med) AS d
        FROM base b JOIN med USING (event_type)
    ),
    dranked AS (
        SELECT event_type, d,
               ROW_NUMBER() OVER (
                   PARTITION BY event_type ORDER BY d, event_id
               ) AS rnk,
               COUNT(*) OVER (PARTITION BY event_type) AS n
        FROM dev
    ),
    mad AS (
        SELECT event_type, d AS mad FROM dranked WHERE rnk = (n + 1) // 2
    )
    SELECT dev.event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(MIN(med) AS BIGINT) AS median_micro,
           CAST(MIN(mad) AS BIGINT) AS mad_micro,
           CAST(SUM(CASE WHEN d > 3 * mad THEN 1 ELSE 0 END) AS BIGINT)
               AS n_anomalies,
           CAST(MAX(d) AS BIGINT) AS max_dev_micro
    FROM dev JOIN mad USING (event_type)
    GROUP BY dev.event_type
"""

ORACLES["orders_aging_buckets"] = """
    WITH latest AS (SELECT MAX(o_orderdate) AS max_date FROM orders),
    aged AS (
        SELECT o_orderstatus,
               date_diff('day', CAST(o_orderdate AS DATE),
                         CAST(max_date AS DATE)) AS age_days,
               CAST(ROUND(o_totalprice * 1000000) AS BIGINT) AS micro
        FROM orders CROSS JOIN latest
        WHERE o_orderstatus <> 'F'
    )
    SELECT o_orderstatus,
           CASE WHEN age_days <= 30 THEN '0-30'
                WHEN age_days <= 60 THEN '31-60'
                WHEN age_days <= 90 THEN '61-90'
                ELSE '90+' END AS age_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           (2 * CAST(SUM(micro) AS BIGINT) + 10000) // 20000
               AS open_value_cents
    FROM aged
    GROUP BY 1, 2
"""

ORACLES["event_dow_profile"] = """
    WITH counted AS (
        SELECT event_type,
               CAST((epoch_us(ts) // 86400000000 + 4) % 7
                    AS INTEGER) AS dow,
               CAST(COUNT(*) AS BIGINT) AS n_events
        FROM events
        GROUP BY 1, 2
    ),
    totals AS (
        SELECT event_type, CAST(SUM(n_events) AS BIGINT) AS total
        FROM counted GROUP BY event_type
    )
    SELECT c.event_type, c.dow, c.n_events,
           (2 * 1000000 * c.n_events + t.total) // (2 * t.total)
               AS share_micro
    FROM counted c JOIN totals t USING (event_type)
"""

ORACLES["event_cusum_changepoint"] = """
    WITH daily AS (
        SELECT event_type,
               epoch_us(ts) // 86400000000 AS day,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2
    ),
    bounds AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM daily),
    grid AS (
        SELECT t.event_type, CAST(g.day AS BIGINT) AS day
        FROM (SELECT DISTINCT event_type FROM daily) t
        CROSS JOIN bounds
        CROSS JOIN LATERAL (
            SELECT unnest(range(d0, d1 + 1)) AS day
        ) g
    ),
    dense AS (
        SELECT g.event_type, g.day, COALESCE(d.c, 0) AS c
        FROM grid g
        LEFT JOIN daily d
          ON d.event_type = g.event_type AND d.day = g.day
    ),
    cum AS (
        SELECT event_type, day,
               SUM(c) OVER (PARTITION BY event_type ORDER BY day
                            ROWS UNBOUNDED PRECEDING) AS cum,
               CAST(ROW_NUMBER() OVER (PARTITION BY event_type
                                       ORDER BY day) AS BIGINT) AS k,
               SUM(c) OVER (PARTITION BY event_type) AS total,
               CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT)
                   AS n_days
        FROM dense
    ),
    scored AS (
        SELECT event_type, day, total, n_days,
               abs(n_days * cum - k * total) AS s_abs
        FROM cum
    ),
    top AS (
        SELECT event_type, n_days, total, day, s_abs,
               ROW_NUMBER() OVER (
                   PARTITION BY event_type ORDER BY s_abs DESC, day
               ) AS rk
        FROM scored
    )
    SELECT event_type,
           n_days,
           CAST(total AS BIGINT) AS total_events,
           day AS changepoint_day,
           CAST(s_abs AS BIGINT) AS cusum_peak,
           CAST((2 * CAST(s_abs AS BIGINT) * 1000000 + n_days * total)
                // (2 * n_days * total) AS BIGINT) AS peak_micro
    FROM top WHERE rk = 1
"""

# integer log2 via binary-string length — exact in both engines, no
# double log at bucket boundaries
ORACLES["event_value_log2_histogram"] = """
    SELECT event_type,
           CAST(CASE WHEN m <= 0 THEN -1
                     ELSE length(bin(m)) - 1 END AS INTEGER) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(MIN(m) AS BIGINT) AS min_micro,
           CAST(MAX(m) AS BIGINT) AS max_micro
    FROM (SELECT event_type, CAST(ROUND(value * 1000000) AS BIGINT) AS m
          FROM events WHERE value IS NOT NULL)
    GROUP BY 1, 2
    ORDER BY 1, 2
"""

# the dense (event_type, day) grid over a ``daily`` (event_type, day, c)
# CTE: every type on every day from the first to the last, absent days
# counted 0
_DENSE_CTE = """bounds AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM daily),
    grid AS (
        SELECT t.event_type, gs.day
        FROM (SELECT DISTINCT event_type FROM daily) t
        CROSS JOIN (
            SELECT unnest(generate_series(d0, d1)) AS day FROM bounds
        ) gs
    ),
    dense AS (
        SELECT g.event_type, g.day, COALESCE(d.c, 0) AS c
        FROM grid g
        LEFT JOIN daily d
            ON d.event_type = g.event_type AND d.day = g.day
    )"""
# per-type daily event counts and their dense grid
_DAILY_DENSE_CTE = f"""daily AS (
        SELECT event_type,
               epoch_us(ts) // 86400000000 AS day,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2
    ),
    {_DENSE_CTE}"""

# Theil–Sen twin: same dense day grid as the dispersion oracle, same
# signed half-away micro split, ties ranked by (slope, da, db)
ORACLES["event_trend_theilsen"] = f"""
    WITH daily AS (
        SELECT event_type, epoch_us(ts) // 86400000000 AS day,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
    ),
    {_DENSE_CTE},
    pairs AS (
        SELECT a.event_type, a.day AS da, b.day AS db,
               CASE WHEN b.c >= a.c
                    THEN CAST((2 * CAST(b.c - a.c AS HUGEINT) * 1000000
                               + (b.day - a.day))
                              // (2 * (b.day - a.day)) AS BIGINT)
                    ELSE -CAST((2 * CAST(a.c - b.c AS HUGEINT) * 1000000
                                + (b.day - a.day))
                               // (2 * (b.day - a.day)) AS BIGINT)
               END AS slope_micro
        FROM dense a JOIN dense b
            ON a.event_type = b.event_type AND a.day < b.day
    ),
    ranked AS (
        SELECT event_type, slope_micro,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY slope_micro, da, db) AS rn,
               CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT)
                   AS n_pairs,
               MIN(slope_micro) OVER (PARTITION BY event_type)
                   AS min_slope_micro,
               MAX(slope_micro) OVER (PARTITION BY event_type)
                   AS max_slope_micro
        FROM pairs
    )
    SELECT event_type, n_pairs, slope_micro AS median_slope_micro,
           min_slope_micro, max_slope_micro
    FROM ranked WHERE rn = (n_pairs + 1) // 2
    ORDER BY event_type
"""

ORACLES["order_ship_latency_quantiles"] = """
    WITH cells AS (
        SELECT l_returnflag,
               CAST(date_diff('day', CAST(o_orderdate AS DATE),
                              CAST(l_shipdate AS DATE)) AS BIGINT) AS lag,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        GROUP BY 1, 2
    ),
    cum AS (
        SELECT l_returnflag, lag,
               SUM(c) OVER (PARTITION BY l_returnflag ORDER BY lag
                            ROWS UNBOUNDED PRECEDING) AS cum
        FROM cells
    ),
    ns AS (
        SELECT l_returnflag, CAST(SUM(c) AS BIGINT) AS n_items FROM cells
        GROUP BY l_returnflag
    ),
    targets AS (
        SELECT l_returnflag, n_items, q,
               (q * n_items + 99) // 100 AS r
        FROM ns CROSS JOIN (SELECT unnest([50, 90, 99]) AS q)
    )
    SELECT t.l_returnflag,
           CAST(t.q AS INTEGER) AS q,
           t.n_items,
           CAST(MIN(c.lag) AS BIGINT) AS lag_days
    FROM targets t JOIN cum c
      ON c.l_returnflag = t.l_returnflag AND c.cum >= t.r
    GROUP BY t.l_returnflag, t.q, t.n_items
    ORDER BY t.l_returnflag, t.q
"""

ORACLES["order_fulfillment_latency"] = """
    WITH lat AS (
        SELECT o_orderpriority,
               o_orderkey * 8 + l_linenumber AS rid,
               CAST(date_diff('day', CAST(o_orderdate AS DATE),
                              CAST(l_shipdate AS DATE)) AS BIGINT)
                   AS lat_days
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    ),
    ranked AS (
        SELECT o_orderpriority, lat_days,
               ROW_NUMBER() OVER (
                   PARTITION BY o_orderpriority ORDER BY lat_days, rid
               ) AS rnk,
               CAST(COUNT(*) OVER (PARTITION BY o_orderpriority) AS BIGINT)
                   AS n
        FROM lat
    ),
    meds AS (
        SELECT o_orderpriority, n,
               MIN(CASE WHEN rnk = (n + 1) // 2 THEN lat_days END)
                   AS median_days,
               MIN(CASE WHEN rnk = (9 * n + 9) // 10 THEN lat_days END)
                   AS p90_days
        FROM ranked GROUP BY o_orderpriority, n
    ),
    extremes AS (
        SELECT o_orderpriority,
               MIN(lat_days) AS min_days, MAX(lat_days) AS max_days
        FROM lat GROUP BY o_orderpriority
    )
    SELECT m.o_orderpriority, m.n AS n_lineitems,
           m.median_days, m.p90_days, e.min_days, e.max_days
    FROM meds m JOIN extremes e USING (o_orderpriority)
"""

ORACLES["event_user_bitmap"] = """
    WITH slots AS (
        SELECT event_type,
               CAST('0x' || substr(md5('bmw:' || CAST(user_id AS VARCHAR)), 1, 15) AS BIGINT) % 61440
                   AS slot
        FROM events
    ),
    words AS (
        SELECT event_type, slot // 60 AS word,
               bit_or(CAST(1 AS BIGINT) << CAST(slot % 60 AS INTEGER))
                   AS mask
        FROM slots GROUP BY 1, 2
    ),
    counts AS (
        SELECT event_type,
               CAST(SUM(bit_count(mask)) AS BIGINT) AS bitmap_count,
               CAST(COUNT(*) AS BIGINT) AS words_used
        FROM words GROUP BY event_type
    ),
    exact AS (
        SELECT event_type,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_distinct
        FROM events GROUP BY event_type
    )
    SELECT c.event_type, c.words_used, c.bitmap_count, e.exact_distinct,
           e.exact_distinct - c.bitmap_count AS collision_loss
    FROM counts c JOIN exact e USING (event_type)
"""

ORACLES["cohort_ltv_curve"] = """
    WITH orders_m AS (
        SELECT o_custkey,
               CAST(year(o_orderdate) * 12 + month(o_orderdate) - 1
                    AS BIGINT) AS m,
               CAST(ROUND(o_totalprice * 1000000) AS BIGINT) AS micro
        FROM orders
    ),
    first AS (
        SELECT o_custkey, MIN(m) AS cohort_m FROM orders_m GROUP BY o_custkey
    ),
    cells AS (
        SELECT f.cohort_m, o.m - f.cohort_m AS age_months,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(o.micro) AS BIGINT) AS rev_micro
        FROM orders_m o JOIN first f USING (o_custkey)
        GROUP BY 1, 2
    )
    SELECT cohort_m, age_months, n_orders,
           CAST((2 * rev_micro + 10000) // 20000 AS BIGINT) AS rev_cents,
           CAST((2 * SUM(rev_micro) OVER (
                     PARTITION BY cohort_m ORDER BY age_months
                     ROWS UNBOUNDED PRECEDING) + 10000) // 20000 AS BIGINT)
               AS cum_rev_cents
    FROM cells
"""

ORACLES["supplier_return_rates"] = """
    WITH per_supp AS (
        SELECT l_suppkey,
               CAST(COUNT(*) AS BIGINT) AS n_items,
               CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_returned,
               CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount)
                                   * 1000000) AS BIGINT)) AS BIGINT)
                   AS rev_micro
        FROM lineitem GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, n_name AS nation_name,
           n_items, n_returned,
           (2 * n_returned * 1000000 + n_items) // (2 * n_items)
               AS return_micro,
           CAST((2 * rev_micro + 10000) // 20000 AS BIGINT)
               AS revenue_cents
    FROM per_supp
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation ON n_nationkey = s_nationkey
"""

ORACLES["basket_lift_pairs"] = """
    WITH op AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    n AS (
        SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders
        FROM op
    ),
    part_orders AS (
        SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS c_part
        FROM op GROUP BY 1
    ),
    pairs AS (
        SELECT a.l_partkey AS pk1, b.l_partkey AS pk2,
               CAST(COUNT(*) AS BIGINT) AS c_pair
        FROM op a JOIN op b ON a.l_orderkey = b.l_orderkey
        WHERE a.l_partkey < b.l_partkey
        GROUP BY 1, 2
        HAVING COUNT(*) >= 2
    )
    SELECT pk1, pk2, c_pair, p1.c_part AS c1, p2.c_part AS c2,
           ((2 * c_pair * 1000000 + n_orders) // (2 * n_orders))
               / 1000000.0 AS support,
           ((2 * c_pair * 1000000 + p1.c_part) // (2 * p1.c_part))
               / 1000000.0 AS confidence,
           CAST((2 * CAST(c_pair AS HUGEINT) * n_orders * 1000000
                 + CAST(p1.c_part AS HUGEINT) * p2.c_part)
                // (2 * CAST(p1.c_part AS HUGEINT) * p2.c_part)
                AS BIGINT) / 1000000.0 AS lift
    FROM pairs
    JOIN part_orders p1 ON p1.l_partkey = pk1
    JOIN part_orders p2 ON p2.l_partkey = pk2
    CROSS JOIN n
    ORDER BY c_pair DESC, pk1, pk2
    LIMIT 50
"""

# same centered exact-integer moment path as the engine: the shift
# invariance keeps every product inside HUGEINT; signed r² is a pure
# rational so no sqrt ever runs
ORACLES["revenue_autocorr"] = """
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               (2 * CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT))
                         AS BIGINT) + 100000) // 200000 AS kusd
        FROM orders GROUP BY 1
    ),
    centered AS (
        SELECT day, kusd - (SELECT MIN(kusd) FROM daily) AS x FROM daily
    ),
    m AS (
        SELECT CAST(COUNT(*) AS HUGEINT) AS n,
               CAST(SUM(a.x) AS HUGEINT) AS sx,
               CAST(SUM(b.x) AS HUGEINT) AS sy,
               CAST(SUM(a.x * b.x) AS HUGEINT) AS sxy,
               CAST(SUM(a.x * a.x) AS HUGEINT) AS sxx,
               CAST(SUM(b.x * b.x) AS HUGEINT) AS syy
        FROM centered a JOIN centered b ON b.day = a.day + INTERVAL 7 DAY
    )
    SELECT CAST(7 AS BIGINT) AS lag_days,
           CAST(n AS BIGINT) AS n_pairs,
           CASE WHEN (n * sxx - sx * sx) * (n * syy - sy * sy) = 0
                THEN NULL ELSE
                (CASE WHEN n * sxy - sx * sy < 0 THEN -1 ELSE 1 END)
                * CAST((2 * (n * sxy - sx * sy) * (n * sxy - sx * sy)
                        * 1000000
                        + (n * sxx - sx * sx) * (n * syy - sy * sy))
                       // (2 * (n * sxx - sx * sx) * (n * syy - sy * sy))
                       AS BIGINT)
                / 1000000.0 END AS signed_r2
    FROM m
"""

# the deliberately-naive O(n²) skyline: dominance as a NOT-EXISTS
# self-join — parity with the engine's banded running-maxima rewrite
# proves the one-scan plan computes the textbook front
ORACLES["customer_value_frontier"] = """
    WITH base AS (
        SELECT c.c_custkey, c.c_name,
               CAST(round(c.c_acctbal * 100) AS BIGINT) AS acctbal_cents,
               CAST(COALESCE(SUM(CAST(round(o.o_totalprice * 100) AS BIGINT)),
                             0) AS BIGINT) AS spend_cents
        FROM customer c
        LEFT JOIN orders o ON o.o_custkey = c.c_custkey
        GROUP BY 1, 2, 3
    )
    SELECT c_custkey, c_name,
           spend_cents / 100.0 AS total_spend,
           acctbal_cents / 100.0 AS acctbal
    FROM base r
    WHERE NOT EXISTS (
        SELECT 1 FROM base s
        WHERE s.spend_cents >= r.spend_cents
          AND s.acctbal_cents >= r.acctbal_cents
          AND (s.spend_cents > r.spend_cents
               OR s.acctbal_cents > r.acctbal_cents)
    )
"""

ORACLES["customer_order_streaks"] = """
    WITH days AS (
        SELECT DISTINCT o_custkey,
               CAST(epoch(CAST(o_orderdate AS DATE)) AS BIGINT) // 86400
                   AS day
        FROM orders
    ),
    islands AS (
        SELECT o_custkey, day,
               day - ROW_NUMBER() OVER (
                   PARTITION BY o_custkey ORDER BY day
               ) AS island
        FROM days
    ),
    streaks AS (
        SELECT o_custkey,
               CAST(COUNT(*) AS BIGINT) AS streak_days,
               CAST(MIN(day) AS BIGINT) AS start_day
        FROM islands GROUP BY o_custkey, island
    )
    SELECT o_custkey, streak_days, start_day
    FROM streaks
    ORDER BY streak_days DESC, o_custkey, start_day
    LIMIT 20
"""

# EWMA spike twin: un-telescoped dyadic weights via a bounded self-join
# (p.seq within 16 of e.seq); num/den share the 2^(16-L) factor with the
# Spark fold's telescoped form, so the floor divisions are identical
ORACLES["event_ewma_spikes"] = """
    WITH seqd AS (
        SELECT user_id, event_id, value,
               CAST(ROUND(value * 1000000) AS BIGINT) AS vq,
               row_number() OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS seq
        FROM events
        WHERE value IS NOT NULL
    ),
    hist AS (
        SELECT e.user_id, e.event_id, e.value, e.vq,
               CAST(COUNT(*) AS BIGINT) AS n_hist,
               SUM(p.vq * (CAST(1 AS BIGINT) << (16 - (e.seq - p.seq))))
                   AS num,
               SUM(CAST(1 AS BIGINT) << (16 - (e.seq - p.seq))) AS den
        FROM seqd e
        JOIN seqd p ON p.user_id = e.user_id
                   AND p.seq BETWEEN e.seq - 16 AND e.seq - 1
        GROUP BY 1, 2, 3, 4
    )
    SELECT user_id, event_id, value, n_hist,
           ((2 * num + den) // (2 * den)) / 1000000.0 AS ewma
    FROM hist
    WHERE n_hist >= 4 AND vq * den > 3 * num
"""

# Fellegi-Sunter twin: same blocking CTE as fuzzy_name_matches, u-stats
# as exact BIGINT rationals, field ratios as half-up micro integers,
# and the combined odds as the same pinned left-to-right double product
ORACLES["linkage_fs_weights"] = """
    WITH cust AS (
        SELECT c_custkey, c_name, c_nationkey, c_mktsegment,
               CAST(ROUND(c_acctbal * 100) AS BIGINT) // 100000 AS bal_band
        FROM customer
    ),
    stats AS (
        SELECT
            (SELECT CAST(COUNT(*) * (COUNT(*) - 1) AS BIGINT) FROM cust)
                AS u_den,
            (SELECT CAST(SUM(c * (c - 1)) AS BIGINT) FROM (
                SELECT COUNT(*) AS c FROM cust GROUP BY c_nationkey))
                AS u_nat,
            (SELECT CAST(SUM(c * (c - 1)) AS BIGINT) FROM (
                SELECT COUNT(*) AS c FROM cust GROUP BY c_mktsegment))
                AS u_seg,
            (SELECT CAST(SUM(c * (c - 1)) AS BIGINT) FROM (
                SELECT COUNT(*) AS c FROM cust GROUP BY bal_band))
                AS u_bal
    ),
    base AS (
        SELECT c_custkey, c_name, length(c_name) AS n FROM cust
    ),
    variants AS (
        SELECT DISTINCT c_custkey, c_name, variant FROM (
            SELECT c_custkey, c_name,
                   substr(c_name, 1, pos - 1)
                       || substr(c_name, pos + 1) AS variant
            FROM base, unnest(range(1, n + 1)) AS t(pos)
            UNION ALL
            SELECT c_custkey, c_name, c_name AS variant FROM base
        )
    ),
    cand AS (
        SELECT custkey_a, custkey_b FROM (
            SELECT DISTINCT
                   a.c_custkey AS custkey_a, a.c_name AS name_a,
                   b.c_custkey AS custkey_b, b.c_name AS name_b
            FROM variants a JOIN variants b USING (variant)
            WHERE a.c_custkey < b.c_custkey
        )
        WHERE levenshtein(name_a, name_b) = 1
    ),
    pairs AS (
        SELECT cand.custkey_a, cand.custkey_b,
               fa.c_nationkey AS nat_a, fb.c_nationkey AS nat_b,
               fa.c_mktsegment AS seg_a, fb.c_mktsegment AS seg_b,
               fa.bal_band AS bal_a, fb.bal_band AS bal_b,
               s.u_den, s.u_nat, s.u_seg, s.u_bal
        FROM cand
        JOIN cust fa ON fa.c_custkey = cand.custkey_a
        JOIN cust fb ON fb.c_custkey = cand.custkey_b
        CROSS JOIN stats s
    ),
    weighted AS (
        SELECT custkey_a, custkey_b,
               CAST(nat_a = nat_b AS INTEGER) AS agree_nation,
               CAST(seg_a = seg_b AS INTEGER) AS agree_segment,
               CAST(bal_a = bal_b AS INTEGER) AS agree_balance,
               -- u-statistic products on HUGEINT (Spark DECIMAL(38,0)):
               -- 2*m*u_den*1e6 passes int64 once |customers| > ~7e5
               CASE WHEN nat_a = nat_b THEN
                   (2 * 9 * CAST(u_den AS HUGEINT) * 1000000
                    + 10 * CAST(u_nat AS HUGEINT))
                       // (2 * 10 * CAST(u_nat AS HUGEINT))
               ELSE
                   (2 * 1 * CAST(u_den AS HUGEINT) * 1000000
                    + 10 * (CAST(u_den AS HUGEINT) - u_nat))
                       // (2 * 10 * (CAST(u_den AS HUGEINT) - u_nat))
               END AS w_nat,
               CASE WHEN seg_a = seg_b THEN
                   (2 * 4 * CAST(u_den AS HUGEINT) * 1000000
                    + 5 * CAST(u_seg AS HUGEINT))
                       // (2 * 5 * CAST(u_seg AS HUGEINT))
               ELSE
                   (2 * 1 * CAST(u_den AS HUGEINT) * 1000000
                    + 5 * (CAST(u_den AS HUGEINT) - u_seg))
                       // (2 * 5 * (CAST(u_den AS HUGEINT) - u_seg))
               END AS w_seg,
               CASE WHEN bal_a = bal_b THEN
                   (2 * 19 * CAST(u_den AS HUGEINT) * 1000000
                    + 20 * CAST(u_bal AS HUGEINT))
                       // (2 * 20 * CAST(u_bal AS HUGEINT))
               ELSE
                   (2 * 1 * CAST(u_den AS HUGEINT) * 1000000
                    + 20 * (CAST(u_den AS HUGEINT) - u_bal))
                       // (2 * 20 * (CAST(u_den AS HUGEINT) - u_bal))
               END AS w_bal
        FROM pairs
    )
    SELECT custkey_a, custkey_b, agree_nation, agree_segment, agree_balance,
           w_nat / 1000000.0 AS w_nation,
           w_seg / 1000000.0 AS w_segment,
           w_bal / 1000000.0 AS w_balance,
           CAST(w_nat AS DOUBLE) * CAST(w_seg AS DOUBLE)
               * CAST(w_bal AS DOUBLE) / 1e18 AS match_odds
    FROM weighted
"""

# Discrete churn hazard: per-user (first,last) day aggregate, censor
# flag near corpus end, suffix-summed risk set over the bounded age
# grid, half-up micro hazard
ORACLES["user_hazard_curve"] = """
    WITH per_user AS (
        SELECT user_id,
               MIN(epoch_us(ts) // 86400000000) AS first_day,
               MAX(epoch_us(ts) // 86400000000) AS last_day
        FROM events GROUP BY user_id
    ),
    bounds AS (SELECT MAX(last_day) AS gmax FROM per_user),
    aged AS (
        SELECT last_day - first_day AS age,
               last_day > gmax - 7 AS censored
        FROM per_user, bounds
    ),
    per_age AS (
        SELECT age,
               CAST(COUNT(*) AS BIGINT) AS n_ended,
               CAST(SUM(CASE WHEN NOT censored THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_churned
        FROM aged GROUP BY age
    )
    SELECT age,
           CAST(SUM(n_ended) OVER (
               ORDER BY age DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS n_at_risk,
           n_churned,
           ((2 * n_churned * 1000000
             + SUM(n_ended) OVER (
                   ORDER BY age DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
            // (2 * SUM(n_ended) OVER (
                   ORDER BY age DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)))
               / 1e6 AS hazard
    FROM per_age
"""

# Markov next-event baseline: transition counts via lag over the same
# unique (ts, event_id) order, argmax with lexicographic tiebreak
ORACLES["event_markov_accuracy"] = """
    WITH trans AS (
        SELECT prev_type, event_type AS next_type,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM (
            SELECT user_id, event_type,
                   lag(event_type) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                   ) AS prev_type
            FROM events
        )
        WHERE prev_type IS NOT NULL
        GROUP BY 1, 2
    ),
    best AS (
        SELECT prev_type, next_type, c FROM (
            SELECT prev_type, next_type, c,
                   row_number() OVER (
                       PARTITION BY prev_type ORDER BY c DESC, next_type
                   ) AS rn
            FROM trans
        ) WHERE rn = 1
    ),
    totals AS (
        SELECT prev_type, CAST(SUM(c) AS BIGINT) AS n_transitions
        FROM trans GROUP BY prev_type
    )
    SELECT b.prev_type, b.next_type AS pred_next, t.n_transitions,
           b.c AS n_correct,
           ((2 * b.c * 1000000 + t.n_transitions)
               // (2 * t.n_transitions)) / 1e6 AS accuracy
    FROM best b JOIN totals t USING (prev_type)
"""

# Fisher dispersion twin: dense daily grid, exact integer moments,
# HUGEINT micro leaf mirroring the Spark DECIMAL(38,0) arithmetic
ORACLES["event_dispersion_index"] = f"""
    WITH {_DAILY_DENSE_CTE},
    moments AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_days,
               CAST(SUM(c) AS BIGINT) AS s,
               CAST(SUM(c * c) AS BIGINT) AS q
        FROM dense GROUP BY event_type
    )
    SELECT event_type, n_days, s AS n_events,
           ((2 * s * 1000000 + n_days) // (2 * n_days)) / 1e6
               AS daily_mean,
           (CASE WHEN n_days <= 1 THEN 0 ELSE
            (2 * (CAST(n_days AS HUGEINT) * q
                  - CAST(s AS HUGEINT) * s) * 1000000
             + (n_days - 1) * s)
            // (2 * (n_days - 1) * CAST(s AS HUGEINT)) END) / 1e6
               AS dispersion
    FROM moments
"""

# SRM twin: same salted-hash assignment via the shared h60 family,
# chi-square collapsed to the exact rational (n_a-n_b)^2/(n_a+n_b)
ORACLES["experiment_srm_check"] = """
    WITH per_arm AS (
        SELECT CAST(CAST('0x' || substr(md5('exp1:' || CAST(user_id AS VARCHAR)), 1, 15)
                    AS BIGINT) % 2 AS INTEGER) AS arm,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(CAST(ROUND(value * 1000000) AS BIGINT)) AS BIGINT)
                   AS svq
        FROM events GROUP BY 1
    ),
    srm AS (
        SELECT (2 * (MAX(n_users) - MIN(n_users))
                  * (MAX(n_users) - MIN(n_users)) * 1000000
                + SUM(n_users)) // (2 * SUM(n_users)) AS chi2_micro
        FROM per_arm
    )
    SELECT arm, n_users, n_events,
           (CASE WHEN svq >= 0
                THEN (2 * svq + n_events) // (2 * n_events)
                ELSE -((-2 * svq + n_events) // (2 * n_events))
            END) / 1e6 AS mean_value,
           chi2_micro / 1e6 AS srm_chi2
    FROM per_arm CROSS JOIN srm
"""

# CUPED twin: same pre/post split, pooled moments on HUGEINT, SIGNED
# half-away micro theta, means, and adjustment (integer `//` and `div`
# both truncate toward zero, so the sign split is what makes the
# rounding half-AWAY-from-zero rather than half-toward-+inf on
# negative sums)
ORACLES["experiment_cuped_lift"] = """
    WITH days AS (
        SELECT user_id,
               CAST(ROUND(value * 1000000) AS BIGINT) AS vq,
               epoch_us(ts) // 86400000000 AS day
        FROM events
    ),
    bounds AS (SELECT MIN(day) AS d0 FROM days),
    per_user AS (
        SELECT CAST(CAST('0x' || substr(md5('exp1:' || CAST(user_id AS VARCHAR)), 1, 15)
                    AS BIGINT) % 2 AS INTEGER) AS arm,
               CAST(SUM(CASE WHEN day < d0 + 15 THEN vq ELSE 0 END)
                    AS BIGINT) AS x,
               CAST(SUM(CASE WHEN day >= d0 + 15 THEN vq ELSE 0 END)
                    AS BIGINT) AS y
        FROM days, bounds
        GROUP BY user_id
    ),
    pooled AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS sx,
               CAST(SUM(y) AS BIGINT) AS sy_num,
               SUM(CAST(x AS HUGEINT) * x) AS sxx,
               SUM(CAST(x AS HUGEINT) * y) AS sxy
        FROM per_user
    ),
    theta AS (
        SELECT CAST(CASE
            WHEN n * sxx - CAST(sx AS HUGEINT) * sx = 0 THEN 0
            WHEN n * sxy - CAST(sx AS HUGEINT) * sy_num >= 0 THEN
                (2 * (n * sxy - CAST(sx AS HUGEINT) * sy_num) * 1000000
                 + (n * sxx - CAST(sx AS HUGEINT) * sx))
                // (2 * (n * sxx - CAST(sx AS HUGEINT) * sx))
            ELSE
                -((2 * -(n * sxy - CAST(sx AS HUGEINT) * sy_num) * 1000000
                   + (n * sxx - CAST(sx AS HUGEINT) * sx))
                  // (2 * (n * sxx - CAST(sx AS HUGEINT) * sx)))
        END AS BIGINT) AS theta_micro,
               -- signed half-away mean (x sums carry no sign contract)
               CASE WHEN sx >= 0 THEN (2 * sx + n) // (2 * n)
                    ELSE -((-2 * sx + n) // (2 * n)) END AS xbar_micro
        FROM pooled
    ),
    per_arm AS (
        SELECT arm,
               CAST(COUNT(*) AS BIGINT) AS n_users,
               CAST(SUM(x) AS BIGINT) AS sx_a,
               CAST(SUM(y) AS BIGINT) AS sy_a
        FROM per_user GROUP BY arm
    ),
    arm_means AS (
        SELECT arm, n_users,
               CASE WHEN sy_a >= 0
                    THEN (2 * sy_a + n_users) // (2 * n_users)
                    ELSE -((-2 * sy_a + n_users) // (2 * n_users))
               END AS ybar,
               CASE WHEN sx_a >= 0
                    THEN (2 * sx_a + n_users) // (2 * n_users)
                    ELSE -((-2 * sx_a + n_users) // (2 * n_users))
               END AS xbar_a
        FROM per_arm
    )
    SELECT arm, n_users,
           ybar / 1e6 AS raw_mean,
           (ybar
            - CASE
                WHEN theta_micro * (xbar_a - xbar_micro) >= 0 THEN
                    (2 * theta_micro * (xbar_a - xbar_micro)
                     + 1000000) // 2000000
                ELSE
                    -((2 * -(theta_micro * (xbar_a - xbar_micro))
                       + 1000000) // 2000000)
              END) / 1e6 AS adjusted_mean,
           theta_micro / 1e6 AS theta
    FROM arm_means CROSS JOIN theta
"""

# Seasonal-naive MAPE twin: dense grid + lag-7, exact half-up micro
# leaves (zero-actual days excluded from MAPE, counted), signed bias
ORACLES["event_seasonal_naive_mape"] = f"""
    WITH {_DAILY_DENSE_CTE},
    scored AS (
        SELECT event_type, c,
               lag(c, 7) OVER (
                   PARTITION BY event_type ORDER BY day) AS pred
        FROM dense
    ),
    leaves AS (
        SELECT event_type, c, pred,
               CASE WHEN c > 0 THEN
                   (2 * abs(c - pred) * 1000000 + c) // (2 * c)
               END AS ape_micro,
               pred - c AS err
        FROM scored WHERE pred IS NOT NULL
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_days_scored,
           CAST(SUM(CASE WHEN c = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_zero_actual,
           ((2 * SUM(ape_micro) + COUNT(ape_micro))
               // (2 * COUNT(ape_micro))) / 1e6 AS mape,
           (CASE WHEN SUM(err) >= 0
                THEN (2 * SUM(err) * 1000000 + COUNT(*)) // (2 * COUNT(*))
                ELSE -((2 * -SUM(err) * 1000000 + COUNT(*))
                       // (2 * COUNT(*)))
            END) / 1e6 AS mean_bias
    FROM leaves GROUP BY event_type
"""

# DAU/WAU twin: same contribution-explode (each active (user, day)
# covers days d..d+6), one distinct per target day, half-up micro;
# the reporting grid is dense over the full-window day range, so
# zero-activity days appear with dau=0 / stickiness=0
ORACLES["user_dau_wau_stickiness"] = """
    WITH user_days AS (
        SELECT DISTINCT user_id,
               epoch_us(ts) // 86400000000 AS day
        FROM events
    ),
    dau AS (
        SELECT day, CAST(COUNT(*) AS BIGINT) AS dau
        FROM user_days GROUP BY day
    ),
    contrib AS (
        SELECT DISTINCT user_id, day + d AS day
        FROM user_days, unnest(range(0, 7)) AS t(d)
    ),
    wau AS (
        SELECT day, CAST(COUNT(*) AS BIGINT) AS wau
        FROM contrib GROUP BY day
    ),
    bounds AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM user_days),
    grid AS (
        SELECT unnest(generate_series(d0 + 6, d1)) AS day FROM bounds
    )
    SELECT g.day,
           COALESCE(dau.dau, 0) AS dau,
           COALESCE(wau.wau, 0) AS wau,
           CASE WHEN COALESCE(wau.wau, 0) > 0
                THEN ((2 * COALESCE(dau.dau, 0) * 1000000 + wau.wau)
                      // (2 * wau.wau)) / 1e6
                ELSE CAST(0 AS DOUBLE)
           END AS stickiness
    FROM grid g
    LEFT JOIN dau ON dau.day = g.day
    LEFT JOIN wau ON wau.day = g.day
"""

# detector-overlap twin: composes the two gated anomaly oracles as
# CTEs (the similarity_ann_recall pattern), so parity here inherits
# both detectors' proofs
ORACLES["anomaly_detector_overlap"] = f"""
    WITH z AS ({ORACLES["value_zscore_anomalies"]}),
    e AS ({ORACLES["event_ewma_spikes"]}),
    j AS (
        SELECT z.event_id AS zid, e.event_id AS eid
        FROM z FULL JOIN e ON z.event_id = e.event_id
    )
    SELECT CAST(SUM(CASE WHEN zid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_zscore,
           CAST(SUM(CASE WHEN eid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_ewma,
           CAST(SUM(CASE WHEN zid IS NOT NULL AND eid IS NOT NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_both,
           ((2 * SUM(CASE WHEN zid IS NOT NULL AND eid IS NOT NULL
                          THEN 1 ELSE 0 END) * 1000000
             + (SUM(CASE WHEN zid IS NOT NULL THEN 1 ELSE 0 END)
                + SUM(CASE WHEN eid IS NOT NULL THEN 1 ELSE 0 END)
                - SUM(CASE WHEN zid IS NOT NULL AND eid IS NOT NULL
                           THEN 1 ELSE 0 END)))
            // (2 * (SUM(CASE WHEN zid IS NOT NULL THEN 1 ELSE 0 END)
                     + SUM(CASE WHEN eid IS NOT NULL THEN 1 ELSE 0 END)
                     - SUM(CASE WHEN zid IS NOT NULL AND eid IS NOT NULL
                                THEN 1 ELSE 0 END)))) / 1e6 AS jaccard
    FROM j
"""

# discount×tax independence twin: same percent-quantized contingency
# grid, HUGEINT micro leaves, window total over the <=11-level frame
ORACLES["discount_tax_independence"] = """
    WITH li AS (
        SELECT CAST(ROUND(l_discount * 100) AS BIGINT) AS disc_pct,
               CAST(ROUND(l_tax * 100) AS BIGINT) AS tax_pct
        FROM lineitem
    ),
    cells AS (
        SELECT disc_pct, tax_pct, CAST(COUNT(*) AS BIGINT) AS o
        FROM li GROUP BY 1, 2
    ),
    rows_m AS (
        SELECT disc_pct, CAST(SUM(o) AS BIGINT) AS r
        FROM cells GROUP BY disc_pct
    ),
    cols_m AS (
        SELECT tax_pct, CAST(SUM(o) AS BIGINT) AS c
        FROM cells GROUP BY tax_pct
    ),
    n AS (
        SELECT CAST(SUM(o) AS BIGINT) AS n,
               CAST(COUNT(DISTINCT disc_pct) AS BIGINT) AS n_disc,
               CAST(COUNT(DISTINCT tax_pct) AS BIGINT) AS n_tax
        FROM cells
    ),
    contrib AS (
        -- o/n/r/c cast to HUGEINT BEFORE the inner multiplications
        SELECT cells.disc_pct,
               (2 * ((CAST(o AS HUGEINT) * n.n - CAST(r AS HUGEINT) * c)
                     * (CAST(o AS HUGEINT) * n.n
                        - CAST(r AS HUGEINT) * c)) * 1000000
                + (CAST(n.n AS HUGEINT) * r * c))
                   // (2 * (CAST(n.n AS HUGEINT) * r * c)) AS cell_micro,
               n.n_disc, n.n_tax
        FROM cells
        JOIN rows_m USING (disc_pct)
        JOIN cols_m USING (tax_pct)
        CROSS JOIN n
    ),
    per_level AS (
        SELECT disc_pct, n_disc, n_tax,
               CAST(SUM(cell_micro) AS BIGINT) AS level_micro
        FROM contrib GROUP BY 1, 2, 3
    )
    SELECT disc_pct,
           level_micro / 1e6 AS chi2_contrib,
           CAST(SUM(level_micro) OVER () AS BIGINT) / 1e6 AS chi2_total,
           (n_disc - 1) * (n_tax - 1) AS dof
    FROM per_level
"""


# ---------------------------------------------------------------------------
# Displayed-double inventory (VERDICT r05 item 7).
#
# The engine's standing exactness claim is: every DISPLAYED aggregate is
# either exact or provably bit-identical across engines. This inventory
# makes that claim checkable instead of argued: it enumerates EVERY
# float/double column in EVERY registry query's output schema, tagged
# with the reason hash-parity holds. The lint
# tests/test_plans.py::test_double_display_inventory_matches_schemas
# rebuilds all output schemas and fails on any double column missing
# from (or stale in) this table — so a new floating display column
# cannot ship without a conscious exactness argument.
#
# Classes:
#
# - "source" — a stored value passed through (possibly ROUND(x, k) or a
#   per-group MIN/MAX selection). No cross-row arithmetic at all, so
#   there is nothing to diverge.
# - "exact" — computed end-to-end in integer/decimal arithmetic
#   (micro-units, cents, half-up `div`, DECIMAL(38,0) for >int64
#   products); a double appears only in the final deterministic
#   conversion (x_micro / 1e6, cents / 100.0, one int/int division).
#   int->double conversion and a single IEEE division are exact
#   functions of exact inputs, so the displayed value is bit-identical
#   by construction. (big_order_customers.total_qty sits here via a
#   different exactness argument: l_quantity is integral-valued
#   (TPC-H 1..50), and binary64 addition of small integers is exact in
#   ANY order — no micro-unit detour needed.)
# - "ieee" — genuine floating-point arithmetic (sqrt / log / multiply /
#   divide chains, percentile interpolation) where BOTH engines are
#   deliberately given the IDENTICAL expression with IDENTICAL
#   associativity over bit-identical inputs (the left-associated
#   zip_with/aggregate folds and their unrolled SQL twins). IEEE-754
#   ops are deterministic functions, so equal expressions on equal
#   bits give equal bits — and the driver's value-hash gate pins it
#   every round. These 20 are the "raw-double cosine gates" and
#   friends; every one is here on purpose, none is an accumulation
#   over a nondeterministic order.
# - "sketch" — an engine-internal estimator (approx_percentile) with
#   no DuckDB oracle; the driver records a rows-only check and the
#   exact-twin queries (value_percentiles / distinct_users_per_type)
#   carry the hash gate instead.
# ---------------------------------------------------------------------------
DOUBLE_DISPLAY_INVENTORY: dict[str, dict[str, str]] = {
    "anomaly_detector_overlap": {"jaccard": "exact"},
    "basket_lift_pairs": {"confidence": "exact", "lift": "exact", "support": "exact"},
    "big_order_customers": {"o_totalprice": "source", "total_qty": "exact"},
    "corpus_mixture_report": {"avg_quality": "exact", "share": "exact"},
    "corpus_token_budget_plan": {"kept_share": "exact"},
    "cube_event_stats": {"sum_value": "exact"},
    "curation_keep_list": {"quality": "exact"},
    "curation_multisignal_gate": {"dist_sq": "ieee", "quality": "exact"},
    "customer_value_frontier": {"acctbal": "exact", "total_spend": "exact"},
    "daily_click_purchase_recon": {"click_total": "exact", "purchase_total": "exact"},
    "data_quality_report": {"violation_rate": "exact"},
    "dedup_containment": {"contain_a_in_b": "exact", "contain_b_in_a": "exact"},
    "dedup_crosslingual_pairs": {"pair_share": "exact"},
    "dedup_embedding_nn": {"cos_sim": "ieee"},
    "dedup_incremental": {"est_jaccard": "exact"},
    "dedup_jaccard_verify": {"jaccard": "exact"},
    "dedup_lsh_calibration": {"est_jaccard": "exact", "mean_abs_err": "exact", "mean_true_jaccard": "exact"},
    "dedup_lsh_recall_exact": {"lsh_overlap": "exact", "missed_mean_jaccard": "exact", "recall": "exact", "recall_in_scope": "exact"},
    "dedup_minhash_lsh": {"est_jaccard": "exact"},
    "dedup_ngram_jaccard": {"ngram_jaccard": "exact"},
    "dedup_prefix_filter": {"jaccard": "exact"},
    "dedup_rate_report": {"exact_dup_rate": "exact", "near_dup_rate": "exact"},
    "discount_quantity_ols": {"r2": "exact", "slope": "exact"},
    "discount_tax_independence": {"chi2_contrib": "exact", "chi2_total": "exact"},
    "disjunctive_part_revenue": {"revenue": "exact"},
    "doc_length_bucketing": {"padding_waste": "exact"},
    "embedding_centroid_drift": {"centroid_shift": "ieee"},
    "embedding_dim_mean_shift": {
        "mean_label": "exact", "mean_global": "exact", "mean_shift": "exact",
    },
    "embedding_dim_variance": {"dim_var": "ieee"},
    "embedding_jl_distortion": {"avg_ratio": "exact", "max_ratio": "exact", "min_ratio": "exact"},
    "embedding_label_consensus": {"agreement": "exact"},
    "embedding_norm_stats": {"avg_norm": "exact", "max_norm": "ieee", "min_norm": "ieee"},
    "embedding_outliers": {"dist_sq": "ieee"},
    "event_dispersion_index": {"daily_mean": "exact", "dispersion": "exact"},
    "event_ewma_spikes": {"ewma": "exact", "value": "source"},
    "event_hourly_resample": {"sum_value": "exact"},
    "event_markov_accuracy": {"accuracy": "exact"},
    "event_rank_stats": {"pct_rank": "exact"},
    "event_seasonal_naive_mape": {"mape": "exact", "mean_bias": "exact"},
    "experiment_cuped_lift": {"adjusted_mean": "exact", "raw_mean": "exact", "theta": "exact"},
    "experiment_srm_check": {"mean_value": "exact", "srm_chi2": "exact"},
    "forecast_revenue_change": {"revenue_increase": "exact"},
    "grouping_sets_revenue": {"revenue": "exact"},
    "inactive_rich_customers": {"total_balance": "exact"},
    "kmeans_clusters": {"dist_sq": "ieee"},
    "latest_event_per_user": {"value": "source"},
    "lineitem_measures_unpivot": {"max_val": "source", "min_val": "source", "sum_val": "exact"},
    "linkage_fs_weights": {"match_odds": "ieee", "w_balance": "exact", "w_nation": "exact", "w_segment": "exact"},
    "local_supplier_volume": {"revenue": "exact"},
    "market_share_by_year": {"mkt_share": "exact"},
    "multimodal_audio_frame_plan": {"coverage": "exact"},
    "multimodal_type_stats": {"avg_width": "exact"},
    "nation_pair_volume": {"revenue": "exact"},
    "part_profit_by_nation_year": {"profit": "exact"},
    "pivot_user_event_values": {"click": "exact", "error": "exact", "purchase": "exact", "signup": "exact", "view": "exact"},
    "pricing_summary": {"avg_disc": "exact", "avg_qty": "exact", "sum_base_price": "exact", "sum_disc_price": "exact", "sum_qty": "exact"},
    "promo_revenue_ratio": {"promo_pct": "exact", "total_revenue": "exact"},
    "q1_filter": {"value": "source"},
    "q2_join_enrich": {"c_acctbal": "source"},
    "quality_auc_eval": {"auc": "exact"},
    "range_join_click_purchase": {"secs_between": "exact"},
    "regional_min_cost_supplier": {"unit_price": "exact"},
    "retrieval_mrr_eval": {"reciprocal_rank": "exact"},
    "retrieval_ndcg_eval": {"ndcg": "exact"},
    "returned_item_report": {"c_acctbal": "source", "revenue": "exact"},
    "revenue_autocorr": {"signed_r2": "exact"},
    "revenue_by_nation": {"revenue": "exact"},
    "rollup_order_status": {"total_price": "exact"},
    "running_user_value": {"cum_value": "exact", "moving_avg3": "exact"},
    "salted_type_totals": {"total_value": "exact"},
    "session_window_stats": {"sum_value": "exact"},
    "shipping_priority_topk": {"revenue": "exact"},
    "similarity_ann_recall": {"recall": "exact"},
    "similarity_bq_topk": {"cos_sim": "ieee"},
    "similarity_diverse_topk": {"cos_sim": "ieee"},
    "similarity_ivf_occupancy": {"corpus_share": "exact"},
    "similarity_ivf_pq_topk": {"approx_dist": "exact"},
    "similarity_ivf_topk": {"cos_sim": "ieee"},
    "similarity_ivfpq_residual_topk": {"approx_dist": "exact"},
    "similarity_lsh_topk": {"cos_sim": "ieee"},
    "similarity_matryoshka_recall": {"recall": "exact"},
    "similarity_pq_reconstruction": {"avg_sq_err": "exact", "max_sq_err": "exact"},
    "similarity_pq_topk": {"approx_dist": "exact"},
    "similarity_range_search": {"cos_sim": "ieee"},
    "similarity_topk": {"cos_sim": "ieee"},
    "sketch_event_stats": {"approx_p50": "sketch"},
    "sliding_window_stats": {"sum_value": "exact"},
    "small_qty_part_revenue": {"low_qty_revenue": "exact"},
    "snapshot_asof_diff": {"new_value": "source", "old_value": "source"},
    "supplier_balance_by_nation": {"total_balance": "exact"},
    "text_bpe_fertility": {"fertility": "exact"},
    "text_feature_hashing": {"collided_occ_share": "exact", "signed_l1_share": "exact"},
    "text_lang_confusion": {"share_of_gold": "exact"},
    "text_lang_kappa": {"kappa": "exact", "pe": "exact", "po": "exact"},
    "text_length_histogram": {"avg_chars": "exact"},
    "text_quality_score": {"mean_token_len": "exact", "quality": "exact", "stopword_ratio": "exact"},
    "text_repetition_signals": {"dup_bigram_frac": "exact", "top_word_frac": "exact", "type_token_ratio": "exact"},
    "text_source_chi2_drift": {"chi2": "exact"},
    "text_tfidf_topterms": {"tfidf": "ieee"},
    "text_token_rarity": {"avg_count": "exact", "rare_ratio": "exact"},
    "text_token_stats": {"avg_token_len": "exact"},
    "top3_per_segment": {"c_acctbal": "source"},
    "top_customers": {"total_spent": "exact"},
    "top_supplier_by_revenue": {"total_revenue": "exact"},
    "user_dau_wau_stickiness": {"stickiness": "exact"},
    "user_event_gaps": {"avg_gap_sec": "exact"},
    "user_hazard_curve": {"hazard": "exact"},
    "user_trailing_hour_stats": {"sum_trailing_1h": "exact"},
    "user_value_gini": {"gini": "exact"},
    "valuable_part_stock": {"stock_value": "exact"},
    "value_equidepth_deciles": {"hi": "source", "lo": "source"},
    "value_percentiles": {"p50": "ieee", "p90": "ieee", "p99": "ieee"},
    "value_zscore_anomalies": {"value": "source", "zscore": "ieee"},
}
