-- backend: spark
-- Warehouse maintenance: SCD2 dimension load, keyed upsert with schema
-- evolution on a z-ordered fact table, a small append followed by
-- compaction, and a dynamic-partition overwrite.  {{db}} is a fresh
-- database per pass.

-- target=action.create_database
create database if not exists {{db}}

-- target=variables
select true as __create_output_table__, 'scd2' as __save_mode__,
       'c_custkey' as __merge_keys__, 'load_ts' as __scd2_ts__

-- target=output.{{db}}.customer_dim
select c_custkey, c_name, c_mktsegment, cast(1 as int) as load_ts
from customer

-- target=output.{{db}}.customer_dim
select c_custkey, c_name,
       case when c_custkey % {{scd2_mod}} = {{scd2_residue}} then 'MOVED'
            else c_mktsegment end as c_mktsegment,
       cast(2 as int) as load_ts
from customer

-- target=check.history_rows_match_changed_keys
select (select count(*) from {{db}}.customer_dim where __is_current = false)
           as actual,
       (select count(*) from customer
        where c_custkey % {{scd2_mod}} = {{scd2_residue}}) as expected

-- the fact table is created z-ordered on two columns
-- target=variables
select true as __create_output_table__, 'overwrite' as __save_mode__,
       '' as __merge_keys__, 'o_custkey|o_totalprice' as __zorder_by__

-- target=output.{{db}}.orders_fact
select o_orderkey, o_custkey, o_totalprice from orders

-- target=variables
select 'upsert' as __save_mode__, 'o_orderkey' as __merge_keys__,
       true as __merge_schema__, 'o_orderkey:200000' as __bloom_filter_cols__,
       '' as __zorder_by__

-- the month's orders arrive again with a new column: schema evolves
-- target=output.{{db}}.orders_fact
select o_orderkey, o_custkey, o_totalprice * 1.01 as o_totalprice,
       cast('late' as string) as arrival_class
from orders where date_format(o_orderdate, 'yyyy-MM') = '{{upsert_month}}'

-- target=check.no_duplicate_orderkeys
select count(*) as actual, count(distinct o_orderkey) as expected
from {{db}}.orders_fact

-- target=variables
select 'append' as __save_mode__, '' as __merge_keys__,
       '' as __merge_schema__, '' as __bloom_filter_cols__

-- a small append fragments the fact table; compaction rewrites it
-- target=output.{{db}}.orders_fact
select o_orderkey + 100000000 as o_orderkey, o_custkey, o_totalprice,
       cast('tiny' as string) as arrival_class
from orders where o_orderkey < 10

-- target=func.compact_table({{db}}.orders_fact, 128, 2)

-- the partition variable stays set, so the partitioned table goes last
-- target=variables
select 'overwrite' as __save_mode__, '' as __partition__l_shipyear

-- target=output.{{db}}.lineitem_by_year
select l_orderkey, l_partkey, l_suppkey, l_quantity, l_extendedprice,
       year(l_shipdate) as l_shipyear
from lineitem

-- restate one year: only that partition is rewritten
-- target=output.{{db}}.lineitem_by_year
select l_orderkey, l_partkey, l_suppkey, l_quantity, l_extendedprice,
       year(l_shipdate) as l_shipyear
from lineitem
where year(l_shipdate) = {{restated_year}} and l_linenumber <= {{kept_lines}}
