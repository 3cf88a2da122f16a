-- The bi_queries mix. Each query runs unchanged in Spark (through
-- TableRegistry.sql) and in DuckDB (the correctness oracle) over the same
-- gold Parquet tables: fact_orders, fact_lineitem (both partitioned by
-- order_year), dim_customer (SCD2) and dim_date. Results use only integer,
-- decimal, string and date values, so both engines render them alike. A
-- query whose name ends in _summarize runs in Spark as Medallion.summarize
-- over fact_orders; its SQL here is the DuckDB statement of the same result.

-- name: q1_star_join_year_segment
-- star join: line revenue by ship year and the customer's segment as of the order
SELECT d.year, c.c_mktsegment, COUNT(*) AS lines, SUM(f.net_revenue) AS revenue
FROM fact_lineitem f
JOIN dim_date d ON f.ship_date_key = d.date_key
JOIN dim_customer c ON f.customer_key = c.customer_key
GROUP BY d.year, c.c_mktsegment;

-- name: q2_current_segment
-- current-row join: orders by the customer's current segment
SELECT c.c_mktsegment, f.order_status, COUNT(*) AS orders, SUM(f.total_price) AS total
FROM fact_orders f
JOIN dim_customer c ON f.c_custkey = c.c_custkey AND c.is_current
GROUP BY c.c_mktsegment, f.order_status;

-- name: q3_asof_vs_current
-- as-of join against the point-in-time key next to the current-row join
SELECT a.c_mktsegment AS asof_segment, cur.c_mktsegment AS current_segment,
       COUNT(*) AS orders, SUM(f.total_price) AS total
FROM fact_orders f
JOIN dim_customer a ON f.customer_key = a.customer_key
JOIN dim_customer cur ON cur.c_custkey = f.c_custkey AND cur.is_current
GROUP BY a.c_mktsegment, cur.c_mktsegment;

-- name: q4_rollup_year_quarter
SELECT d.year, d.quarter, COUNT(*) AS orders, SUM(f.total_price) AS total
FROM fact_orders f
JOIN dim_date d ON f.date_key = d.date_key
GROUP BY ROLLUP (d.year, d.quarter);

-- name: q5_cube_status_priority
SELECT order_status, order_priority,
       CAST(GROUPING(order_status) AS INT) AS g_status,
       CAST(GROUPING(order_priority) AS INT) AS g_priority,
       COUNT(*) AS orders, SUM(total_price) AS total
FROM fact_orders
GROUP BY CUBE (order_status, order_priority);

-- name: q6_top5_customers_per_nation
SELECT c_nationkey, c_custkey, revenue, rn FROM (
  SELECT c.c_nationkey, f.c_custkey, SUM(f.total_price) AS revenue,
         ROW_NUMBER() OVER (PARTITION BY c.c_nationkey
                            ORDER BY SUM(f.total_price) DESC, f.c_custkey) AS rn
  FROM fact_orders f
  JOIN dim_customer c ON f.c_custkey = c.c_custkey AND c.is_current
  GROUP BY c.c_nationkey, f.c_custkey) t
WHERE rn <= 5;

-- name: q7_year_lines_pruned
-- one order_year partition out of seven
SELECT order_year, return_flag, COUNT(*) AS lines, SUM(quantity) AS qty,
       SUM(net_revenue) AS revenue, MIN(ship_date) AS first_ship
FROM fact_lineitem
WHERE order_year = 1996
GROUP BY order_year, return_flag;

-- name: q8_semi_additive_summarize
-- total_price sums over every order; c_acctbal is semi-additive over time,
-- so only each customer's latest order contributes its balance
WITH latest AS (
  SELECT * FROM fact_orders
  QUALIFY ROW_NUMBER() OVER (PARTITION BY c_custkey
                             ORDER BY order_date DESC, o_orderkey DESC) = 1),
s AS (SELECT order_priority, SUM(c_acctbal) AS c_acctbal FROM latest GROUP BY order_priority),
a AS (SELECT order_priority, SUM(total_price) AS total_price FROM fact_orders GROUP BY order_priority)
SELECT COALESCE(a.order_priority, s.order_priority) AS order_priority, a.total_price, s.c_acctbal
FROM a FULL OUTER JOIN s ON a.order_priority = s.order_priority;
