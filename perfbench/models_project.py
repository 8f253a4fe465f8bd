"""Seed-generated model project for the `models` workload.

The project has 25 models in 5 DAG levels (9, 7, 4, 3 and 2 wide) over five sources in its own
`src` directory (orders, lineitem, part, events, customer_changes) plus the
catalog's nation and region tables. It uses every materialization: view,
table (with partition_by, sort_by and bucket_by), temp_table, incremental
(time, unique_key and append strategies), cdc and cdc_scd2, and declares
not_null, unique, accepted_values, range and relationships tests.

`base/` holds batch 0 of every source; `deltas/<b>/` holds batch b: new
orders, lineitems and events, and a customer change feed of inserts,
updates and deletes. Money is carried in integer cents so aggregates do
not depend on the order rows are summed in, and every model except
`cust_history` (an SCD2 history stamped with batch times) ends in the same
state whether it is built incrementally or by one full refresh.
"""
import os

import numpy as np
import pyarrow as pa

from gen import (EVENT_TYPES, PART_ADJ, PART_NOUN, PART_TYPES, SEGMENTS,
                 events_table, rng)
from gen import write as write_table

N_CUST, N_ORD, N_PART, N_EV = 1500, 8000, 1000, 12000
D_ORD, D_EV, D_INS, D_UPD, D_DEL = 400, 600, 80, 150, 50

# name -> (config header lines, SQL body)
MODELS = {
    # level 0: staging over the sources
    "stg_orders": ("materialized=view", """
SELECT o_orderkey, o_custkey, o_orderstatus,
  CAST(ROUND(o_totalprice * 100) AS BIGINT) AS o_total_cents,
  o_orderdate, YEAR(o_orderdate) AS o_year, o_orderpriority
FROM {{ source('shop', 'orders') }}"""),
    "stg_lineitem": ("materialized=view", """
SELECT l_orderkey, l_partkey, l_quantity, l_returnflag,
  CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT) AS net_cents
FROM {{ source('shop', 'lineitem') }}"""),
    "stg_part": ("materialized=view", """
SELECT p_partkey, p_name, p_brand, p_type FROM {{ source('shop', 'part') }}"""),
    "geo": ("materialized=table, sort_by=r_name", """
SELECT n.n_nationkey, n.n_name, r.r_name
FROM {{ source('raw', 'nation') }} n
JOIN {{ source('raw', 'region') }} r ON n.n_regionkey = r.r_regionkey"""),
    "events_time": ("materialized=incremental, incremental_strategy=time, "
                    "time_column=ts", """
SELECT event_id, ts, user_id, event_type,
  CAST(ROUND(value * 100) AS BIGINT) AS value_cents, CAST(ts AS DATE) AS ev_day
FROM {{ source('shop', 'events') }}"""),
    "events_append": ("materialized=incremental, incremental_strategy=append", """
SELECT event_id, user_id, event_type, ts FROM {{ source('shop', 'events') }}
{% if is_incremental() %}
WHERE event_id > (SELECT MAX(event_id) FROM {{ this }})
{% endif %}"""),
    "cust_latest": ("materialized=incremental, incremental_strategy=unique_key, "
                    "unique_key=c_custkey", """
SELECT c_custkey, c_name, c_nationkey, c_acctbal_cents, c_mktsegment,
  __cdc_operation = 'D' AS is_deleted, change_seq
FROM (SELECT *, CAST(ROUND(c_acctbal * 100) AS BIGINT) AS c_acctbal_cents,
    ROW_NUMBER() OVER (PARTITION BY c_custkey ORDER BY change_seq DESC) AS rn
  FROM {{ source('shop', 'customer_changes') }}
  WHERE batch_id BETWEEN $lo AND $hi)
WHERE rn = 1"""),
    "cust_snapshot": ("materialized=cdc, unique_key=c_custkey", """
SELECT c_custkey, c_name, c_nationkey, c_acctbal_cents, c_mktsegment,
  __cdc_operation
FROM (SELECT *, CAST(ROUND(c_acctbal * 100) AS BIGINT) AS c_acctbal_cents,
    ROW_NUMBER() OVER (PARTITION BY c_custkey ORDER BY change_seq DESC) AS rn
  FROM {{ source('shop', 'customer_changes') }}
  WHERE batch_id BETWEEN $lo AND $hi)
WHERE rn = 1"""),
    "cust_history": ("materialized=cdc_scd2, unique_key=c_custkey, "
                     "bench_order_dependent=true", """
SELECT c_custkey, c_mktsegment, c_nationkey, __cdc_operation
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY c_custkey ORDER BY change_seq DESC) AS rn
  FROM {{ source('shop', 'customer_changes') }}
  WHERE batch_id BETWEEN $lo AND $hi)
WHERE rn = 1"""),
    # level 1
    "order_facts": ("materialized=table, partition_by=o_year", """
SELECT o.o_orderkey, o.o_custkey, o.o_year, o.o_orderstatus,
  COALESCE(l.n_lines, 0) AS n_lines, COALESCE(l.net_cents, 0) AS net_cents
FROM {{ ref('stg_orders') }} o
LEFT JOIN (SELECT l_orderkey, COUNT(*) AS n_lines, SUM(net_cents) AS net_cents
  FROM {{ ref('stg_lineitem') }} GROUP BY l_orderkey) l
ON o.o_orderkey = l.l_orderkey"""),
    "part_sales": ("materialized=table, bucket_by=l_partkey, buckets=4", """
SELECT l.l_partkey, p.p_brand, p.p_type, SUM(l.l_quantity) AS qty,
  SUM(l.net_cents) AS net_cents, COUNT(*) AS n_lines
FROM {{ ref('stg_lineitem') }} l JOIN {{ ref('stg_part') }} p
  ON l.l_partkey = p.p_partkey
GROUP BY l.l_partkey, p.p_brand, p.p_type"""),
    "cust_orders_agg": ("materialized=table, bucket_by=o_custkey, buckets=4", """
SELECT o_custkey, COUNT(*) AS n_orders, SUM(o_total_cents) AS total_cents
FROM {{ ref('stg_orders') }} GROUP BY o_custkey"""),
    "cust_geo": ("materialized=view", """
SELECT c.c_custkey, c.c_mktsegment, g.n_name, g.r_name
FROM {{ ref('cust_snapshot') }} c JOIN {{ ref('geo') }} g
  ON c.c_nationkey = g.n_nationkey"""),
    "events_daily": ("materialized=table, sort_by=ev_day", """
SELECT ev_day, event_type, COUNT(*) AS n, SUM(value_cents) AS value_cents
FROM {{ ref('events_time') }} GROUP BY ev_day, event_type"""),
    "user_activity": ("materialized=temp_table", """
SELECT user_id, COUNT(*) AS n_events, MIN(ts) AS first_ts, MAX(ts) AS last_ts
FROM {{ ref('events_append') }} GROUP BY user_id"""),
    "orders_recent": ("materialized=incremental, incremental_strategy=unique_key, "
                      "unique_key=o_orderkey, partition_by=o_year", """
SELECT o_orderkey, o_custkey, o_orderstatus, o_total_cents, o_year
FROM {{ ref('stg_orders') }}
{% if is_incremental() %}
WHERE o_orderkey > (SELECT MAX(o_orderkey) FROM {{ this }})
{% endif %}"""),
    # level 2
    "cust_value": ("materialized=table, partition_by=c_mktsegment", """
SELECT g.c_custkey, g.c_mktsegment, g.r_name,
  COALESCE(a.n_orders, 0) AS n_orders, COALESCE(a.total_cents, 0) AS total_cents
FROM {{ ref('cust_geo') }} g LEFT JOIN {{ ref('cust_orders_agg') }} a
  ON g.c_custkey = a.o_custkey"""),
    "brand_sales": ("materialized=table, sort_by=net_cents", """
SELECT p_brand, p_type, SUM(qty) AS qty, SUM(net_cents) AS net_cents
FROM {{ ref('part_sales') }} GROUP BY p_brand, p_type"""),
    "event_mix": ("materialized=view", """
SELECT event_type, SUM(n) AS n, SUM(value_cents) AS value_cents
FROM {{ ref('events_daily') }} GROUP BY event_type"""),
    "recent_by_status": ("materialized=temp_table", """
SELECT r.o_orderstatus, c.c_mktsegment, COUNT(*) AS n_orders,
  SUM(r.o_total_cents) AS total_cents
FROM {{ ref('orders_recent') }} r JOIN {{ ref('cust_latest') }} c
  ON r.o_custkey = c.c_custkey AND NOT c.is_deleted
GROUP BY r.o_orderstatus, c.c_mktsegment"""),
    # level 3
    "segment_value": ("materialized=table", """
SELECT c_mktsegment, r_name, COUNT(*) AS n_customers,
  SUM(n_orders) AS n_orders, SUM(total_cents) AS total_cents
FROM {{ ref('cust_value') }} GROUP BY c_mktsegment, r_name"""),
    "status_mix": ("materialized=view", """
SELECT o_orderstatus, SUM(n_orders) AS n_orders, SUM(total_cents) AS total_cents
FROM {{ ref('recent_by_status') }} GROUP BY o_orderstatus"""),
    "activity_kpis": ("materialized=table", """
SELECT m.event_type, m.n, m.value_cents, u.n_users, u.n_heavy
FROM {{ ref('event_mix') }} m
CROSS JOIN (SELECT COUNT(*) AS n_users,
    SUM(CASE WHEN n_events >= 25 THEN 1 ELSE 0 END) AS n_heavy
  FROM {{ ref('user_activity') }}) u"""),
    # level 4
    "exec_summary": ("materialized=table", """
SELECT s.r_name, s.c_mktsegment, s.total_cents,
  s.total_cents / SUM(s.total_cents) OVER (PARTITION BY s.r_name) AS region_share,
  b.n_brands
FROM {{ ref('segment_value') }} s
CROSS JOIN (SELECT COUNT(DISTINCT p_brand) AS n_brands FROM {{ ref('brand_sales') }}) b"""),
    "kpi_board": ("materialized=table", """
SELECT a.event_type, a.n, a.n_users, s.n_orders
FROM {{ ref('activity_kpis') }} a
CROSS JOIN (SELECT SUM(n_orders) AS n_orders FROM {{ ref('status_mix') }}) s"""),
}

# inline tests, next to the SQL
INLINE_TESTS = {
    "cust_latest": ["unique(c_custkey)"],
    "orders_recent": ["unique(o_orderkey)", "not_null(o_year)"],
    "part_sales": ["not_null(p_brand)"],
    "status_mix": ["accepted_values(o_orderstatus, F|O|P)"],
}

SCHEMA_YML = """version: 2
sources:
  - name: shop
    path: {src}
    tables:
      - name: orders
      - name: lineitem
      - name: part
      - name: events
      - name: customer_changes
models:
  - name: order_facts
    columns:
      - name: o_orderkey
        tests:
          - not_null
          - unique
          - relationships: {{ to: stg_orders, field: o_orderkey }}
      - name: n_lines
        tests:
          - range: {{ min: 0, max: 1000 }}
  - name: cust_snapshot
    columns:
      - name: c_custkey
        tests: [not_null, unique]
      - name: c_mktsegment
        tests:
          - accepted_values: {{ values: [{seg}] }}
  - name: cust_value
    columns:
      - name: c_custkey
        tests: [not_null, unique]
      - name: c_mktsegment
        tests:
          - accepted_values: {{ values: [{seg}] }}
  - name: events_daily
    columns:
      - name: event_type
        tests:
          - accepted_values: {{ values: [{evt}] }}
      - name: n
        tests:
          - range: {{ min: 1, max: 1000000000 }}
  - name: exec_summary
    columns:
      - name: region_share
        tests:
          - range: {{ min: 0, max: 1 }}
  - name: segment_value
    columns:
      - name: c_mktsegment
        tests:
          - relationships: {{ to: cust_value, field: c_mktsegment }}
  - name: kpi_board
    columns:
      - name: event_type
        tests: [not_null, unique]
"""


def orders(r, first, n, n_cust):
    return pa.table({
        "o_orderkey": pa.array(np.arange(first, first + n), pa.int64()),
        "o_custkey": pa.array(r.integers(0, n_cust, n), pa.int64()),
        "o_orderstatus": r.choice(["F", "O", "P"], n),
        "o_totalprice": np.round(r.uniform(1000.0, 500000.0, n), 2),
        "o_orderdate": pa.array(
            (np.datetime64("1995-01-01", "us").astype(np.int64)
             + r.integers(0, 2404, n) * 86_400_000_000).astype("datetime64[us]"),
            pa.timestamp("us")),
        "o_orderpriority": r.choice(["1-URGENT", "2-HIGH", "3-MEDIUM"], n),
    })


def lineitems(r, order_lo, order_hi, n):
    return pa.table({
        "l_orderkey": pa.array(r.integers(order_lo, order_hi, n), pa.int64()),
        "l_partkey": pa.array(r.integers(0, N_PART, n), pa.int64()),
        "l_quantity": r.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": np.round(r.uniform(900.0, 105000.0, n), 2),
        "l_discount": r.integers(0, 11, n) / 100.0,
        "l_returnflag": r.choice(["A", "N", "R"], n),
    })


def changes(r, batch, keys, ops, seq0):
    n = len(keys)
    return pa.table({
        "c_custkey": pa.array(keys, pa.int64()),
        "c_name": [f"Customer#{k:09d}" for k in keys],
        "c_nationkey": pa.array(r.integers(0, 25, n), pa.int32()),
        "c_acctbal": np.round(r.uniform(-999.99, 9999.99, n), 2),
        "c_mktsegment": r.choice(SEGMENTS, n),
        "__cdc_operation": pa.array(ops, pa.string()),
        "batch_id": pa.array(np.full(n, batch), pa.int32()),
        "change_seq": pa.array(np.arange(seq0, seq0 + n), pa.int64()),
    })


def generate(out, seed, k):
    """Writes the project under `out`; returns facts about its inputs."""
    src = os.path.abspath(f"{out}/src")
    for name, (cfg, sql) in MODELS.items():
        tests = "".join(f"-- test: {t}\n" for t in INLINE_TESTS.get(name, []))
        with open(_mk(f"{out}/models/{name}.sql"), "w") as f:
            f.write(f"-- config: {cfg}\n{tests}{sql.strip()}\n")
    with open(f"{out}/models/schema.yml", "w") as f:
        f.write(SCHEMA_YML.format(src=src, seg=", ".join(SEGMENTS),
                                  evt=", ".join(EVENT_TYPES)))

    r = rng(seed, 20)
    base = f"{out}/base"
    write_part(orders(r, 0, N_ORD, N_CUST), f"{base}/orders", 0)
    write_part(lineitems(r, 0, N_ORD, 4 * N_ORD), f"{base}/lineitem", 0)
    write_part(pa.table({
        "p_partkey": pa.array(np.arange(N_PART), pa.int64()),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                   zip(r.integers(0, 8, N_PART), r.integers(0, 8, N_PART))],
        "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, N_PART)],
        "p_type": r.choice(PART_TYPES, N_PART),
    }), f"{base}/part", 0)
    write_part(events_table(seed, 0, N_EV, 500), f"{base}/events", 0)
    write_part(changes(r, 0, np.arange(N_CUST), ["I"] * N_CUST, 0),
               f"{base}/customer_changes", 0)

    live, next_key, seq = list(range(N_CUST)), N_CUST, N_CUST
    delta_rows = 0
    for b in range(1, k + 1):
        d = f"{out}/deltas/{b}"
        o_lo = N_ORD + (b - 1) * D_ORD
        write_part(orders(r, o_lo, D_ORD, N_CUST), f"{d}/orders", b)
        write_part(lineitems(r, o_lo, o_lo + D_ORD, 4 * D_ORD), f"{d}/lineitem", b)
        write_part(events_table(seed, N_EV + (b - 1) * D_EV, D_EV, 500,
                                start=f"2024-02-{b:02d}", n_days=1),
                   f"{d}/events", b)
        picked = r.choice(len(live), D_UPD + D_DEL, replace=False)
        upd = [live[i] for i in picked[:D_UPD]]
        dele = [live[i] for i in picked[D_UPD:]]
        ins = list(range(next_key, next_key + D_INS))
        keys = ins + upd + dele
        ops = ["I"] * D_INS + ["U"] * D_UPD + ["D"] * D_DEL
        write_part(changes(r, b, np.array(keys), ops, seq),
                   f"{d}/customer_changes", b)
        gone = set(dele)
        live = [c for c in live if c not in gone] + ins
        next_key += D_INS
        seq += len(keys)
        delta_rows += D_ORD + 4 * D_ORD + D_EV + len(keys)
    return {"models": len(MODELS), "increments": k,
            "base_rows": N_ORD * 5 + N_PART + N_EV + N_CUST,
            "delta_rows": delta_rows}


def write_part(table, directory, batch):
    write_table(table, f"{directory}/part-{batch:05d}.parquet")


def _mk(path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    return path
