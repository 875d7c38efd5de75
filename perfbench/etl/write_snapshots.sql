-- backend: spark
-- Versioned snapshot table: a partitioned seed commit, a keyed merge of a
-- change batch, and a metadata-only row-count gate.  ${snap} is a fresh
-- snapshot-table root per pass.

-- target=temp.seed_orders
select o_orderkey as k, o_custkey as cust, o_totalprice as price,
       cast(o_orderkey % 4 as int) as pt
from orders where o_orderkey % {{snap_mod}} = 0

-- target=func.snapshot_commit(${snap}, seed_orders, append, pt)

-- price bump for a residue class of keys, plus fresh keys
-- target=temp.change_batch
select k, cust, price * 1.1 as price, pt from seed_orders
where k % {{changed_mod}} = 0
union all
select k + 100000000, cust, price, pt from seed_orders
where k % {{fresh_mod}} = 0

-- target=func.snapshot_merge(${snap}, change_batch, k)

-- target=variables
select ${snapshot_row_count(${snap})} as snap_rows

-- target=check.merge_inserted_only_fresh_keys
select ${snap_rows} as actual,
       (select count(*) from seed_orders)
       + (select count(*) from seed_orders where k % {{fresh_mod}} = 0)
           as expected

-- target=func.snapshot_view(${snap}, snap_latest)

-- target=check.merged_prices_visible
select count(*) as actual, (select count(*) from seed_orders
                            where k % {{changed_mod}} = 0) as expected
from snap_latest s join seed_orders o on s.k = o.k
where s.k % {{changed_mod}} = 0 and abs(s.price - o.price * 1.1) < 1e-6
