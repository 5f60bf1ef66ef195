"""Driver contract for the spark-graft builder (PySpark target).

Every relational query below routes through the FSQL engine
(``flink_dsl_spark.FsqlEngine``) — parse -> resolve -> plan -> Catalyst —
so the correctness gate exercises the engine, not hand-written DataFrame
code.  Each key maps to an operator row of SURVEY.md §2; the oracle is
the equivalent DuckDB SQL on the same parquet tables.

Float policy: aggregates over doubles are wrapped in round() on BOTH
sides (Spark and oracle) so summation-order ulp differences can't flip
the value hash.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_ENGINES: dict = {}


def _engine(spark: SparkSession, sf_dir: str):
    key = (id(spark), sf_dir)
    eng = _ENGINES.get(key)
    if eng is None:
        from flink_dsl_spark import FsqlEngine
        eng = FsqlEngine(spark)
        eng.load_dir(sf_dir)
        _ENGINES[key] = eng
    return eng


def _q(sql: str, params: list | None = None):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        return _engine(spark, sf_dir).sql(sql, params=params)
    return run


def _script(sql: str):
    # $SF_DIR expands to the driver's testdata directory so a script can
    # name a file source (F-dialect INSERT in q44) without hard-coding
    # one scale factor
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        return _engine(spark, sf_dir).sql_script(
            sql.replace("$SF_DIR", sf_dir))
    return run


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: TPC-H Q1-style pricing summary through the full
    parse->resolve->plan pipeline on sf0.001."""
    return _q(_FSQL["q01_pricing_summary"])(spark, "/root/testdata/sf0.001")


# ---------------------------------------------------------------------------
# engine-routed FSQL text (Spark side)
# ---------------------------------------------------------------------------

_FSQL: dict[str, str] = {
    # --- projection / filter / expressions (SURVEY §2.2, §2.8) ---
    "q01_pricing_summary": """
        select l_returnflag, l_linestatus,
               round(sum(l_quantity), 2) as sum_qty,
               round(sum(l_extendedprice), 2) as sum_base_price,
               round(sum(l_extendedprice * (1 - l_discount)), 2) as sum_disc_price,
               round(avg(l_quantity), 4) as avg_qty,
               round(avg(l_extendedprice), 4) as avg_price,
               count(*) as count_order
        from lineitem
        group by l_returnflag, l_linestatus
        order by l_returnflag, l_linestatus""",
    "q02_filter_projection": """
        select event_id, event_type, value from events where value > 100.0""",
    "q18_case_arith": """
        select event_id,
               case when value > 100 then 'high'
                    when value > 50 then 'mid'
                    else 'low' end as bucket,
               (event_id % 7) * 3 + 1 as h,
               event_id & 15 as m
        from events""",
    "q21_between_like_null": """
        select count(*) as cnt from part
        where p_retailprice between 905 and 915
          and p_name like '%red%' and p_brand is not null""",
    "q25_dual": "select 1 + 2 * 3 as x, upper('ab') as s",
    # --- joins (SURVEY §2.3) ---
    "q03_join_group": """
        select n_name, count(*) as num_orders,
               round(sum(o_totalprice), 2) as revenue
        from orders
        join customer on o_custkey = c_custkey
        join nation on c_nationkey = n_nationkey
        group by n_name""",
    "q04_left_join": """
        select c_custkey, count(o_orderkey) as cnt
        from customer left join orders on c_custkey = o_custkey
        group by c_custkey""",
    "q05_right_join": """
        select c_custkey, o_orderkey
        from orders right join customer on o_custkey = c_custkey
        where o_orderkey is null""",
    # the join key is deliberately asymmetric (custkeys are dense,
    # s_suppkey*20 hits only every 20th and overshoots the custkey
    # range) so BOTH null sides of the full join survive the IS NULL
    # filter at every gate SF — the previous c_nationkey=s_nationkey
    # form matched everything at sf0.01 and proved nothing (r10 judge)
    "q06_full_join": """
        select c_custkey, s_suppkey
        from customer full join supplier on c_custkey = s_suppkey * 20
        where c_custkey is null or s_suppkey is null""",
    "q07_cross_join": """
        select r_name, n_name from region cross join nation
        where r_regionkey = 0 and n_nationkey < 5""",
    # the /*+ salt(key, n) */ hint (r6 dialect extension): the join
    # runs on (key, salt) — hot keys scatter over n tasks — with a
    # result set provably identical to the unsalted join, which is
    # exactly what the plain-SQL oracle asserts
    "q42_salt_hint": """
        select /*+ salt(c_nationkey, 4) */
               n_name, count(*) as num_customers,
               round(sum(c_acctbal), 2) as balance
        from customer join nation on c_nationkey = n_nationkey
        group by n_name""",
    # the /*+ cap(group, id, k) */ hint (r8 dialect extension): the
    # anti-domination cut — aggregate over at most k docs per source,
    # picked by seeded md5-id-hash order (dialect fixes seed 42), so
    # the oracle replays the exact same rank-and-filter in SQL
    "q45_cap_hint": """
        select /*+ cap(source, doc_id, 10) */
               source, count(*) as num_docs,
               sum(n_chars) as total_chars
        from documents
        where n_chars > 100
        group by source""",
    # the /*+ token_budget(id, tokens, budget) */ hint (r9 dialect
    # extension): the reproducible "first B tokens" corpus cut —
    # per-language stats over the hash-ordered prefix whose running
    # n_chars total stays <= 75000 (the documents corpus is ~150k
    # chars at the gate SFs, so the budget bites at roughly half);
    # dialect fixes md5 id hash + seed 42, so the oracle replays the
    # identical running-sum-and-filter in SQL
    "q80_token_budget_hint": """
        select /*+ token_budget(doc_id, n_chars, 75000) */
               lang, count(*) as num_docs,
               sum(n_chars) as total_chars
        from documents
        group by lang""",
    # mixture hint (r10): assemble.domain_mixture_filter reachable
    # from SQL — downsample-only rebalance toward target token shares
    # (binding domain keeps rate 1.0), fixed md5 hash + seed 42 makes
    # membership cross-engine deterministic; aggregating the kept rows
    # shows the hint applies before GROUP BY like cap/token_budget
    "q81_mixture_hint": """
        select /*+ mixture(source, doc_id, n_chars,
                           'src0=0.4,src1=0.3,src2=0.2,src3=0.1') */
               source, count(*) as num_docs,
               sum(n_chars) as total_chars
        from documents
        group by source""",
    # analytic OVER windows (r8 dialect extension — SURVEY §2.5 records
    # the reference has none): the top-k-per-group idiom, rank in a
    # derived table + filter outside; the executed plan collapses to
    # WindowGroupLimit (per-task k-row heap — the 100 TB-safe shape,
    # plan-gated in tests/test_over_windows.py)
    "q46_over_rank": """
        select o_custkey, o_orderkey, rn
        from (select o_custkey, o_orderkey,
                     row_number() over (partition by o_custkey
                         order by o_totalprice desc, o_orderkey) as rn
              from orders) as t
        where rn <= 3""",
    # running/offset/frame analytics over the event stream's batch twin:
    # cumulative count, previous event type (lag with default), and a
    # bounded ROWS frame minimum — all cell-exact in both engines
    # (counts, strings, and min over doubles are order-independent)
    "q47_over_running": """
        select event_id, user_id,
               count(*) over (partition by user_id
                   order by ts, event_id) as nth_event,
               lag(event_type, 1, 'none') over (partition by user_id
                   order by ts, event_id) as prev_type,
               min(value) over (partition by user_id
                   order by ts, event_id
                   rows between 2 preceding and current row) as min3
        from events
        where event_type in ('click', 'view')""",
    # IGNORE NULLS null treatment (r11 dialect extension, Spark's
    # post-paren spelling): lag/lead compile to the iterated
    # last/first rewrite (one exchange + sort, k O(1) window passes —
    # PySpark lacks the native overload), value functions use the
    # public ignoreNulls flags.  The CASE manufactures NULLs (events
    # has none); DuckDB spells the treatment inside the parens
    "q83_ignore_nulls": """
        select event_id,
               lag(case when value < 2.0 then null else value end, 2)
                   ignore nulls over (partition by user_id
                       order by ts, event_id) as prev2_amt,
               lead(case when value < 2.0 then null else value end,
                    1, -1.0) ignore nulls over (partition by user_id
                       order by ts, event_id) as next_amt,
               first_value(case when value < 2.0 then null else value
                   end) ignore nulls over (partition by user_id
                       order by ts, event_id rows between unbounded
                       preceding and current row) as first_amt
        from events""",
    # window functions BESIDE GROUP BY (ANSI evaluation order: the
    # window sees the aggregated rows): within-status priority rank +
    # share-of-status percentage — the one-SELECT form of the
    # aggregate-then-window idiom
    "q48_over_groupagg": """
        select o_orderstatus, o_orderpriority, count(*) as n,
               rank() over (partition by o_orderstatus
                   order by count(*) desc, o_orderpriority) as rk,
               round(count(*) * 100.0 / sum(count(*))
                   over (partition by o_orderstatus), 3) as pct
        from orders
        group by o_orderstatus, o_orderpriority""",
    # QUALIFY (late-r8 dialect extension, DuckDB/Snowflake-style):
    # filter on window results without a derived table.  Aggregating
    # form — the predicate mixes a window alias (rk, evaluated after
    # grouping per ANSI order) with a plain aggregate alias (n); the
    # partitioned rank keeps the window exchange keyed (no
    # SinglePartition), and ties break on the second order key so both
    # engines rank identically
    "q49_qualify": """
        select o_orderstatus, o_orderpriority, count(*) as n,
               round(sum(o_totalprice), 2) as total,
               rank() over (partition by o_orderstatus
                   order by sum(o_totalprice) desc, o_orderpriority) as rk
        from orders
        group by o_orderstatus, o_orderpriority
        qualify rk <= 3 and n > 10""",
    # WITH CTEs (late-r8 dialect extension): chained CTEs (the second
    # reads the first), then a join back to a base table — desugared
    # at parse time to derived tables, so the plan is the same
    # pushed-filter + partial-agg + broadcast-join shape the inline
    # form gets
    "q50_cte": """
        with big as (
            select o_custkey, o_totalprice from orders
            where o_totalprice > 150000),
        agg as (
            select o_custkey, count(*) as n,
                   round(sum(o_totalprice), 2) as spend
            from big group by o_custkey)
        select c_nationkey, count(*) as customers, sum(n) as orders_cnt,
               round(sum(spend), 2) as total_spend
        from agg join customer on o_custkey = c_custkey
        group by c_nationkey""",
    # Verbatim TPC-H (late r8): with CAST/date/interval/EXTRACT landed
    # the engine runs the classic queries unmodified — registered as
    # integration breadth (a reference user's real workload).  DuckDB
    # executes the IDENTICAL text as the oracle.
    "q53_tpch_q1": """
        select l_returnflag, l_linestatus,
               round(sum(l_quantity), 2) as sum_qty,
               round(sum(l_extendedprice), 2) as sum_base_price,
               round(sum(l_extendedprice * (1 - l_discount)), 2)
                   as sum_disc_price,
               round(sum(l_extendedprice * (1 - l_discount)
                         * (1 + l_tax)), 2) as sum_charge,
               round(avg(l_quantity), 4) as avg_qty,
               round(avg(l_extendedprice), 4) as avg_price,
               round(avg(l_discount), 4) as avg_disc,
               count(*) as count_order
        from lineitem
        where l_shipdate <= date '1998-12-01' - interval 90 day
        group by l_returnflag, l_linestatus
        order by l_returnflag, l_linestatus""",
    "q54_tpch_q6": """
        select round(sum(l_extendedprice * l_discount), 2) as revenue
        from lineitem
        where l_shipdate >= date '1996-01-01'
          and l_shipdate < date '1996-01-01' + interval 1 year
          and l_discount between 0.05 and 0.07
          and l_quantity < 24""",
    # Q4 adapted to the testdata schema (no l_commitdate/l_receiptdate
    # columns): the EXISTS probes late-shipping lineitems instead
    "q55_tpch_q4": """
        select o_orderpriority, count(*) as order_count
        from orders
        where o_orderdate >= date '1996-07-01'
          and o_orderdate < date '1996-07-01' + interval 3 months
          and exists (select * from lineitem
                      where l_orderkey = o_orderkey
                        and l_shipdate > o_orderdate)
        group by o_orderpriority
        order by o_orderpriority""",
    # TPC-H wave 2 (late r8): the remaining classic queries the
    # testdata schema can express.  q59/q63/q65 run VERBATIM TPC-H
    # text; the rest adapt only around missing columns (no
    # o_shippriority / partsupp / l_shipmode / p_container / c_phone
    # / o_comment in the synthetic schema).  LIMIT queries order on
    # the ROUNDED measure with a unique key tiebreak so the cut line
    # is cross-engine deterministic.  Float-sum policy: the ADAPTED
    # queries sum the price*(1-disc) product in EXACT decimal (the
    # q72 premise — a float sum diverged by one ulp-boundary row);
    # the VERBATIM pair q59/q63 keeps the classic text under the
    # q53-class empirical premise (verified at both gate SFs on the
    # deterministic seed-42 data; the per-session pytest sweep and
    # pre-gate rehearsal re-check on every run).
    "q58_tpch_q3": """
        select l_orderkey,
               cast(round(sum(cast(l_extendedprice as decimal(14,2))
                              * (1 - cast(l_discount as decimal(6,2)))),
                          2) as double) as revenue,
               o_orderdate
        from customer, orders, lineitem
        where c_mktsegment = 'BUILDING'
          and c_custkey = o_custkey and l_orderkey = o_orderkey
          and o_orderdate < date '1997-03-15'
          and l_shipdate > date '1997-03-15'
        group by l_orderkey, o_orderdate
        order by revenue desc, l_orderkey
        limit 10""",
    "q59_tpch_q5": """
        select n_name,
               round(sum(l_extendedprice * (1 - l_discount)), 2)
                   as revenue
        from customer, orders, lineitem, supplier, nation, region
        where c_custkey = o_custkey and l_orderkey = o_orderkey
          and l_suppkey = s_suppkey and c_nationkey = s_nationkey
          and s_nationkey = n_nationkey and n_regionkey = r_regionkey
          and r_name = 'AMERICA'
          and o_orderdate >= date '1996-01-01'
          and o_orderdate < date '1996-01-01' + interval 1 year
        group by n_name
        order by revenue desc""",
    "q60_tpch_q7": """
        select supp_nation, cust_nation, l_year,
               cast(round(sum(volume), 2) as double) as revenue
        from (select n1.n_name as supp_nation, n2.n_name as cust_nation,
                     extract(year from l_shipdate) as l_year,
                     cast(l_extendedprice as decimal(14,2))
                         * (1 - cast(l_discount as decimal(6,2)))
                         as volume
              from supplier, lineitem, orders, customer,
                   nation n1, nation n2
              where s_suppkey = l_suppkey and o_orderkey = l_orderkey
                and c_custkey = o_custkey
                and s_nationkey = n1.n_nationkey
                and c_nationkey = n2.n_nationkey
                and ((n1.n_name = 'NATION_18' and n2.n_name = 'NATION_19')
                  or (n1.n_name = 'NATION_19' and n2.n_name = 'NATION_18'))
                and l_shipdate between date '1996-01-01'
                                   and date '1997-12-31'
             ) as shipping
        group by supp_nation, cust_nation, l_year
        order by supp_nation, cust_nation, l_year""",
    "q61_tpch_q8": """
        select o_year,
               round(cast(sum(case when nation = 'NATION_3'
                                   then volume else 0 end) as double)
                     / cast(sum(volume) as double), 6) as mkt_share
        from (select extract(year from o_orderdate) as o_year,
                     cast(l_extendedprice as decimal(14,2))
                         * (1 - cast(l_discount as decimal(6,2)))
                         as volume,
                     n2.n_name as nation
              from part, supplier, lineitem, orders, customer,
                   nation n1, nation n2, region
              where p_partkey = l_partkey and s_suppkey = l_suppkey
                and l_orderkey = o_orderkey and o_custkey = c_custkey
                and c_nationkey = n1.n_nationkey
                and n1.n_regionkey = r_regionkey and r_name = 'ASIA'
                and s_nationkey = n2.n_nationkey
                and o_orderdate between date '1996-01-01'
                                    and date '1997-12-31'
                and p_type = 'ECONOMY'
             ) as all_nations
        group by o_year
        order by o_year""",
    "q62_tpch_q10": """
        select c_custkey, c_name,
               cast(round(sum(cast(l_extendedprice as decimal(14,2))
                              * (1 - cast(l_discount as decimal(6,2)))),
                          2) as double) as revenue,
               c_acctbal, n_name
        from customer, orders, lineitem, nation
        where c_custkey = o_custkey and l_orderkey = o_orderkey
          and o_orderdate >= date '1996-10-01'
          and o_orderdate < date '1996-10-01' + interval 3 months
          and l_returnflag = 'R' and c_nationkey = n_nationkey
        group by c_custkey, c_name, c_acctbal, n_name
        order by revenue desc, c_custkey
        limit 20""",
    "q63_tpch_q14": """
        select round(100.00 * sum(case when p_type like 'PROMO%'
                                       then l_extendedprice
                                            * (1 - l_discount)
                                       else 0 end)
                     / sum(l_extendedprice * (1 - l_discount)), 4)
                   as promo_revenue
        from lineitem, part
        where l_partkey = p_partkey
          and l_shipdate >= date '1996-09-01'
          and l_shipdate < date '1996-09-01' + interval 1 month""",
    "q64_tpch_q17": """
        select round(sum(l_extendedprice) / 7.0, 2) as avg_yearly
        from lineitem, part
        where p_partkey = l_partkey and p_brand = 'Brand#12'
          and l_quantity < (select 0.2 * avg(l_quantity) from lineitem
                            where l_partkey = p_partkey)""",
    "q65_tpch_q18": """
        select c_name, c_custkey, o_orderkey, o_orderdate,
               o_totalprice, sum(l_quantity) as total_qty
        from customer, orders, lineitem
        where o_orderkey in (select l_orderkey from lineitem
                             group by l_orderkey
                             having sum(l_quantity) > 180)
          and c_custkey = o_custkey and o_orderkey = l_orderkey
        group by c_name, c_custkey, o_orderkey, o_orderdate,
                 o_totalprice
        order by o_totalprice desc, o_orderkey
        limit 20""",
    "q66_tpch_q13": """
        select c_count, count(*) as custdist
        from (select c_custkey, count(o_orderkey) as c_count
              from customer left join orders on c_custkey = o_custkey
              group by c_custkey) as c_orders
        group by c_count
        order by custdist desc, c_count desc""",
    "q67_tpch_q15": """
        with revenue as (
            select l_suppkey as supplier_no,
                   cast(round(sum(cast(l_extendedprice
                                       as decimal(14,2))
                                  * (1 - cast(l_discount
                                              as decimal(6,2)))),
                              2) as double) as total_revenue
            from lineitem
            where l_shipdate >= date '1996-01-01'
              and l_shipdate < date '1996-01-01' + interval 3 months
            group by l_suppkey)
        select s_suppkey, s_name, total_revenue
        from supplier, revenue
        where s_suppkey = supplier_no
          and total_revenue = (select max(total_revenue) from revenue)
        order by s_suppkey""",
    # quantified comparison (late r8): ALL rewrites to NOT EXISTS
    # with an explicit null arm, ANY to EXISTS (sqlgen._quantified);
    # DuckDB runs the IDENTICAL text natively, so the driver row
    # pins the whole 3VL rewrite including the NOT duality
    "q68_quantified": """
        select o_orderpriority, count(*) as n_all,
               count(*) filter (where not (o_totalprice > all (
                   select l_extendedprice * 10 from lineitem
                   where l_orderkey = o_orderkey))) as n_not_all
        from orders
        where o_totalprice > all (select l_extendedprice * 8
                                  from lineitem
                                  where l_orderkey = o_orderkey)
           or o_totalprice < any (select l_extendedprice
                                  from lineitem
                                  where l_orderkey = o_orderkey)
        group by o_orderpriority""",
    # aggregate FILTER (late r8): desugared to CASE at parse time so
    # both planner paths reuse existing machinery; DuckDB runs the
    # identical text (empty filtered groups agree as NULL)
    "q69_agg_filter": """
        select o_orderstatus, count(*) as n,
               count(*) filter (where o_totalprice > 200000) as big,
               count(distinct o_custkey)
                   filter (where o_orderpriority = '1-URGENT') as cu,
               round(sum(o_totalprice)
                     filter (where o_orderpriority = '1-URGENT'), 2)
                   as urgent_total
        from orders
        group by o_orderstatus""",
    # ILIKE (late r8): case-insensitive LIKE — native both engines
    "q79_ilike": """
        select o_orderpriority, count(*) as n,
               count(*) filter (where o_orderpriority
                                      not ilike '%urgent%') as calm
        from orders
        where o_orderpriority ilike '%g%'
        group by o_orderpriority""",
    # DISTINCT ON (late r8): best-row-per-group via the QUALIFY
    # desugar; DuckDB runs its native DISTINCT ON on identical text
    "q78_distinct_on": """
        select distinct on (c_nationkey) c_nationkey, c_custkey,
               c_acctbal
        from customer
        order by c_nationkey, c_acctbal desc, c_custkey""",
    # WITH RECURSIVE (late r8): rendered as native recursive SQL —
    # Spark >=4.0 and DuckDB evaluate the fixpoint themselves on
    # identical text
    "q77_recursive_cte": """
        with recursive seq(n) as (
            select 1
            union all
            select n + 1 from seq where n < 25)
        select s.n, count(*) as cnt,
               cast(sum(n_regionkey) as bigint) as rsum
        from seq s join nation on n_nationkey = s.n - 1
        group by s.n
        order by s.n""",
    # UNPIVOT (late r8): parse-time desugar to a UNION ALL chain;
    # DuckDB runs its NATIVE UNPIVOT on the identical text
    "q76_unpivot": """
        select measure, count(*) as n, round(sum(val), 2) as total
        from (select p_partkey, cast(p_size as double) as p_size,
                     p_retailprice from part) src
        unpivot (val for measure in (p_size as 'size',
                                     p_retailprice as 'price'))
        group by measure
        order by measure""",
    # PIVOT (late r8): parse-time desugar to CASE aggregation —
    # the oracle below IS the desugared form, so the row also proves
    # the equivalence the desugar claims
    "q75_pivot": """
        select * from (select o_orderstatus, o_orderpriority,
                              o_totalprice from orders) src
        pivot (round(sum(o_totalprice), 2) as s, count(*) as n
               for o_orderstatus in ('F' as f, 'O' as o, 'P' as p))
        order by o_orderpriority""",
    # LEFT SEMI/ANTI joins (late r8): existence filtering without
    # materializing the probe side; the DuckDB oracle uses its bare
    # SEMI/ANTI spelling (only syntactic difference)
    "q74_semi_anti": """
        select 'semi' as leg, o_orderpriority, count(*) as n
        from orders left semi join lineitem
          on l_orderkey = o_orderkey and l_quantity > 45
        group by o_orderpriority
        union all
        select 'anti' as leg, o_orderpriority, count(*) as n
        from orders left anti join lineitem
          on l_orderkey = o_orderkey and l_quantity > 45
        group by o_orderpriority""",
    # TPC-H Q9 adapted (no partsupp/ps_supplycost: profit = revenue;
    # p_name filter retuned to the synthetic name domain).  amount is
    # a float PRODUCT (not a clean-2dp column like q53's), so it is
    # rounded per row before summing: the true sum of exact-2dp
    # addends is a multiple of 0.01, never at a .005 boundary, and
    # the profit column sums in EXACT decimal (clean-2dp money and
    # discount recover their decimals via cast, the product is exact
    # at scale 4, round(,2) happens in the decimal domain with both
    # engines agreeing on HALF_UP, and only the final exact 2dp value
    # casts to double) — a float sum diverged by one ulp-boundary row
    # at sf0.01, and per-row double rounding diverged WORSE (Java
    # shortest-repr HALF_UP vs C rint on the same binary); found the
    # hard way
    "q72_tpch_q9": """
        select nation, o_year,
               cast(round(sum(cast(l_extendedprice as decimal(14,2))
                              * (1 - cast(l_discount as decimal(6,2)))),
                          2) as double) as sum_profit
        from (select n_name as nation,
                     extract(year from o_orderdate) as o_year,
                     l_extendedprice, l_discount
              from part, supplier, lineitem, orders, nation
              where s_suppkey = l_suppkey and p_partkey = l_partkey
                and o_orderkey = l_orderkey
                and s_nationkey = n_nationkey
                and p_name like '%widget%'
             ) as profit
        group by nation, o_year
        order by nation, o_year desc""",
    # TPC-H Q22 adapted (no c_phone: country code from the customer
    # key; every synthetic customer has orders, so the anti-join
    # probes "no URGENT order" instead — same NOT EXISTS + scalar
    # average shape)
    "q73_tpch_q22": """
        select cntrycode, count(*) as numcust,
               round(sum(c_acctbal), 2) as totacctbal
        from (select c_custkey % 10 as cntrycode, c_acctbal
              from customer
              where c_custkey % 10 in (1, 2, 3, 4, 5)
                and c_acctbal > (select avg(c_acctbal) from customer
                                 where c_acctbal > 0.00
                                   and c_custkey % 10 in (1, 2, 3, 4, 5))
                and not exists (select * from orders
                                where o_custkey = c_custkey
                                  and o_orderpriority = '1-URGENT')
             ) as custsale
        group by cntrycode
        order by cntrycode""",
    # GROUP BY ALL / ORDER BY ALL (late r8): desugared to ordinals at
    # parse time; DuckDB evaluates its native ALL on identical text
    "q70_group_by_all": """
        select o_orderstatus, o_orderpriority, count(*) as n,
               round(sum(o_totalprice), 2) as s
        from orders
        group by all
        order by all""",
    # LATERAL (late r8): per-order scalar aggregate + per-nation
    # top-k — both correlate into the FROM clause; identical text on
    # DuckDB
    "q71_lateral": """
        select n_nationkey, t.c_custkey, t.c_acctbal
        from nation,
        lateral (select c_custkey, c_acctbal from customer
                 where c_nationkey = n_nationkey
                 order by c_acctbal desc, c_custkey
                 limit 3) as t
        order by n_nationkey, t.c_custkey""",
    # null-safe comparison (late r8): IS DISTINCT FROM as both a
    # grouping key and the filter semantics it exists for — NULL rows
    # from the outer join land in the not_f=true group instead of
    # vanishing (plain <> would drop them); identical text runs on
    # DuckDB
    "q57_nullsafe": """
        select o_orderstatus is distinct from 'F' as not_f,
               count(*) as n
        from customer left join orders on c_custkey = o_custkey
        group by o_orderstatus is distinct from 'F'""",
    # array subscript (late r8): the embeddings table becomes
    # dialect-reachable — per-label stats of first-dimension values
    # (min/max are accumulation-free and float32 widens to double
    # exactly, so the oracle premise is exact)
    "q56_array": """
        select label, count(*) as n,
               round(cast(min(embedding[1]) as double), 6) as mn,
               round(cast(max(embedding[1]) as double), 6) as mx
        from embeddings
        where embedding[1] > 0.25
        group by label""",
    # CAST (late-r8 dialect extension): long-bucketed price histogram
    # — the cast feeds the GROUP BY key AND wraps min/max aggregates
    # (exact, no accumulation, so truncation is deterministic across
    # engines)
    "q52_cast": """
        select cast(o_totalprice / 100000 as long) as bucket,
               count(*) as n,
               cast(min(o_totalprice) as long) as min_p,
               cast(max(o_totalprice) as long) as max_p
        from orders
        group by cast(o_totalprice / 100000 as long)""",
    # CUBE + grouping() indicator (late-r8 dialect extension beyond
    # the reference's WITH ROLLUP): all four grouping combinations in
    # one Expand pass — rows multiply map-side, the exchange count
    # stays one
    "q51_cube": """
        select o_orderstatus, o_orderpriority,
               grouping(o_orderstatus) as g_st,
               grouping(o_orderpriority) as g_pr,
               count(*) as n, round(sum(o_totalprice), 2) as total
        from orders
        group by cube(o_orderstatus, o_orderpriority)""",
    "q08_using_join": """
        select a.n_name, b.r_name
        from (select n_name, n_regionkey as rk from nation) as a
        join (select r_name, r_regionkey as rk from region) as b using (rk)""",
    "q20_comma_from": """
        select count(*) as cnt from region, nation
        where r_regionkey = n_regionkey""",
    # --- aggregation (SURVEY §2.4) ---
    "q09_rollup": """
        select o_orderstatus, o_orderpriority, count(*) as cnt,
               round(sum(o_totalprice), 2) as total
        from orders group by o_orderstatus, o_orderpriority with rollup""",
    "q10_having": """
        select o_custkey, count(*) as cnt from orders
        group by o_custkey
        having count(*) >= 3 and sum(o_totalprice) > 1000""",
    "q22_agg_distinct": """
        select count(distinct c_nationkey) as dc,
               round(sum(distinct c_acctbal), 2) as sd
        from customer""",
    # --- distinct / sort / limit (SURVEY §2.2, §2.6) ---
    "q11_distinct": "select distinct c_mktsegment, c_nationkey from customer",
    "q12_order_limit_offset": """
        select o_orderkey, o_totalprice from orders
        order by o_totalprice desc, o_orderkey asc limit 20 offset 5""",
    # --- predicates w/ subqueries (SURVEY §2.2) ---
    "q13_in_list": """
        select count(*) as cnt from orders
        where o_orderpriority in ('1-URGENT', '2-HIGH')""",
    "q14_in_subquery": """
        select c_name from customer
        where c_nationkey in
              (select n_nationkey from nation where n_regionkey = 2)""",
    "q15_exists": """
        select o_orderkey from orders o
        where exists (select 1 from lineitem l
                      where l.l_orderkey = o.o_orderkey
                        and l.l_quantity > 45)""",
    "q16_scalar_subquery": """
        select o_orderkey, o_totalprice from orders
        where o_totalprice >
              (select avg(o_totalprice) from orders) * 1.5""",
    # --- set operations (SURVEY §2.7) ---
    "q17a_union": """
        select c_nationkey as k from customer
        union select s_nationkey as k from supplier""",
    "q17b_union_all": """
        select c_nationkey as k from customer where c_nationkey < 3
        union all select s_nationkey as k from supplier""",
    "q17c_except": """
        select c_nationkey as k from customer
        except select s_nationkey as k from supplier""",
    "q17d_intersect": """
        select c_nationkey as k from customer
        intersect select s_nationkey as k from supplier""",
    # --- derived tables / star (SURVEY §2.2/§2.3) ---
    "q19_derived_table": """
        select q.et, q.cnt
        from (select event_type as et, count(*) as cnt
              from events group by event_type) as q
        where q.cnt > 100""",
    "q24_star_scoped": "select r.* from region as r",
    # statistical aggregates incl. multi-argument (corr/covar); the
    # approximate family (approx_count_distinct, percentile_approx)
    # works too but estimates aren't cross-engine comparable
    "q41_stats_aggs": """
        select event_type,
               round(stddev_samp(value), 4) as sd,
               round(var_samp(value), 4) as vr,
               round(corr(value, user_id), 6) as cr,
               round(covar_samp(value, user_id), 4) as cv
        from events group by event_type""",
    # --- FSQL stream windows, batch emulation (SURVEY §2.9) ---
    "q26_window_tumbling": """
        select event_type, count(*) as cnt, round(sum(value), 2) as sv
        from events [size 1 h on ts] group by event_type""",
    "q27_window_sliding": """
        select event_type, count(*) as cnt
        from events [size 2 h on ts every 1 h] group by event_type""",
    "q28_count_tumbling": """
        select count(*) as cnt, round(sum(value), 2) as sv
        from events [size 100]""",
    "q29_count_sliding": """
        select count(*) as cnt from events [size 200 every 100]""",
    "q30_snapshot_window": """
        select event_id, value from events [size 30 min on ts]""",
    "q39_session_window_fsql": """
        select user_id, count(*) as n_events
        from events [session 30 min on ts] group by user_id""",
    "q31_delta_tumbling": """
        select count(*) as cnt from events [size 20 on value]""",
    "q32_partitioned_window": """
        select user_id, count(*) as cnt
        from events [size 6 h on ts partitioned on user_id]""",
    "q34_windowed_join": """
        select s1.event_id, s2.event_id as id2
        from events [size 10 min on ts] as s1
        left join events [size 10 min on ts] as s2
          on s1.user_id = s2.user_id""",
    "q35_delta_sliding": """
        select user_id, count(*) as cnt, round(sum(value), 2) as sv
        from events [size 50 on value every 20 on value
                     partitioned on user_id]
        group by user_id""",
}

_PARAMS: dict[str, list] = {
    "q23_params": ["click", 50.0],
}

_FSQL["q23_params"] = """
        select count(*) as cnt from events
        where event_type = ? and value > ?"""

_SCRIPTS: dict[str, str] = {
    # mixture hint, TABLE form (r10): the target shares come from a
    # registered (domain, weight) relation — here a derived view built
    # in-dialect — instead of a literal string; same rate algebra,
    # weights collected + validated at plan time (bounded: one row
    # per domain).  Same oracle as q81 (identical weights and output).
    "q82_mixture_table_hint": """
        create stream wts82 as
            (select 'src0' as domain, 0.4 as w
             union all select 'src1', 0.3
             union all select 'src2', 0.2
             union all select 'src3', 0.1);
        select /*+ mixture(source, doc_id, n_chars, wts82) */
               source, count(*) as num_docs,
               sum(n_chars) as total_chars
        from documents
        group by source""",
    # priority_sample hint (r11): DLT weighted sampling reachable from
    # the dialect — composes with WHERE (sample the FILTERED corpus);
    # the u/w key is pure correctly-rounded IEEE arithmetic so the
    # selected row set value-oracles bit-exactly
    "q85_priority_sample_hint": """
        select /*+ priority_sample(doc_id, n_chars, 40) */
               doc_id, source, n_chars
        from documents where lang = 'en'""",
    # sample hint (r12): deterministic Bernoulli subsample — the
    # TABLESAMPLE shape done reproducibly (hash membership, not
    # rand()); a pure per-row filter, zero shuffle, streaming-safe
    "q91_sample_hint": """
        select /*+ sample(doc_id, 150) */ doc_id, source, n_chars
        from documents where lang = 'en'""",
    # stratified form (r12): the optional 4th hint column makes the
    # cut per-stratum — k weighted-sampled docs from EACH source of
    # the filtered corpus (WindowGroupLimit before the one exchange)
    "q89_priority_stratified_hint": """
        select /*+ priority_sample(doc_id, n_chars, 10, source) */
               doc_id, source, n_chars
        from documents where lang = 'en'""",
    # bm25 hint (r13): Okapi BM25 retrieval reachable from the dialect
    # — keep the top-k docs for the query bag with ALL their columns
    # plus the appended bm25_score; applies AFTER the WHERE filter, so
    # corpus statistics (N, avgdl, df) are computed over the FILTERED
    # corpus (this row proves that composition); the integer
    # micro-score quantization (textstats.bm25_scores) makes the
    # score bit-exact across engines
    "q92_bm25_hint": """
        select /*+ bm25(text, doc_id, 'data stream window', 40) */
               doc_id, source, n_chars, bm25_score
        from documents where lang = 'en'""",
    # TABLESAMPLE relation suffix (r13): the sample hint's
    # deterministic hash-residue membership applied at the RELATION —
    # before the join — so one join side subsamples reproducibly
    # ("join embeddings against a 30% document sample"); the
    # aggregate then summarizes only joined sampled rows
    "q93_tablesample": """
        select c.source, count(*) as n
        from documents c tablesample(doc_id, 300)
        join embeddings e on c.doc_id = e.vec_id
        group by c.source""",
    # hybrid_rrf hint (r14): the llm78 hybrid retrieval as a dialect
    # surface — BM25 over the term bag + cosine to the query_id row's
    # vector, each leg cut to its top-pool (default 50), rank-fused
    # by RRF, the fused top-k's input rows kept with the score
    # appended as rrf_score (the second score-adding row hint after
    # q92's bm25; same three resolution touch points, now driven by
    # the shared SCORE_HINTS map)
    "q94_hybrid_rrf_hint": """
        select /*+ hybrid_rrf(text, embedding, doc_id,
                              'data stream window', 7, 10) */
               doc_id, source, rrf_score
        from (select d.doc_id, d.source, d.text, e.embedding
              from documents d
              join embeddings e on d.doc_id = e.vec_id) j
        order by rrf_score desc, doc_id""",
    # mixture_temperature hint (r11): explicit priors from a weights
    # relation, temperature-flattened w' = w^(1/T) at plan time before
    # the same rate algebra.  T=2 = sqrt, correctly rounded by
    # IEEE-754 on CPython/JVM/DuckDB alike, so the oracle replays
    # sqrt(w) on the same literals bit-for-bit.  The weights are
    # chosen so every sqrt is NON-representable (sqrt(0.5) =
    # 0.7071…, unlike a 0.16 → 0.4 pick where the root is a clean
    # literal): both engines genuinely compute, which is what the
    # row proves (review finding, r11)
    "q84_mixture_temperature_hint": """
        create stream wts84 as
            (select 'src0' as domain, 0.5 as w
             union all select 'src1', 0.32
             union all select 'src2', 0.18
             union all select 'src3', 0.02);
        select /*+ mixture_temperature(source, doc_id, n_chars,
                                       wts84, 2) */
               source, count(*) as num_docs,
               sum(n_chars) as total_chars
        from documents
        group by source""",
    # derived continuous view (create stream ... as select), then query it
    "q33_derived_stream": """
        create stream sview33 as
            (select event_id as id, value as speed, ts as time from events);
        select id, speed from sview33 where speed > 100""",
    # UPDATE + DELETE execute against the session catalog (the reference
    # only parses them); run both on a derived copy so shared tables
    # stay pristine for the other driver queries
    "q40_update_delete": """
        create stream mut40 as
            (select event_id, event_type, value from events);
        update mut40 set value = value * 2, event_type = upper(event_type)
            where value > 100;
        delete from mut40 where value <= 50;
        select event_id, event_type, round(value, 2) as value
        from mut40""",
    # MERGE INTO (r11 engine extension completing the executable-DML
    # family): upsert a derived copy from a shifted self-source so
    # BOTH paths run at every gate SF (ids +500: the tail 50 source
    # rows overshoot max(event_id) and INSERT, the rest UPDATE)
    "q86_merge_upsert": """
        create stream mut86 as
            (select event_id, event_type, value from events);
        merge into mut86 using
            (select event_id + 500 as sid, value as sv from events
             where event_id % 10 = 0) as s
            on mut86.event_id = s.sid
        when matched then update set value = s.sv * 2,
                                     event_type = 'MERGED'
        when not matched then insert (event_id, event_type, value)
            values (s.sid, 'inserted', s.sv);
        select event_id, event_type, round(value, 2) as value
        from mut86""",
    # MERGE full-table sync (r11): all three clause kinds in one
    # statement — update matched, insert new, delete rows absent from
    # the source (WHEN NOT MATCHED BY SOURCE).  Source ids +500 step
    # 4 so every path has rows at every gate SF
    "q87_merge_sync": """
        create stream mut87 as
            (select event_id, event_type, value from events);
        merge into mut87 using
            (select event_id + 500 as sid, value as sv from events
             where event_id % 4 = 0) as s
            on mut87.event_id = s.sid
        when matched then update set value = s.sv,
                                     event_type = 'SYNCED'
        when not matched then insert (event_id, event_type, value)
            values (s.sid, 'added', s.sv)
        when not matched by source then delete;
        select event_id, event_type, round(value, 2) as value
        from mut87""",
    # multi-clause MERGE (r12): ORDERED WHEN MATCHED clauses
    # (delete-if-tombstone / update-if-hot / else-mark) + ROUTED
    # insert clauses, first-true-wins per row.  Source ids +500 step
    # 5 and events.value carries NULLs and >100 rows at every gate
    # SF, so every one of the five clauses fires rows
    "q88_merge_multi": """
        create stream mut88 as
            (select event_id, event_type, value from events);
        merge into mut88 using
            (select event_id + 500 as sid, value as sv from events
             where event_id % 5 = 0) as s
            on mut88.event_id = s.sid
        when matched and s.sv is null then delete
        when matched and s.sv > 100 then update set value = s.sv,
                                                    event_type = 'HOT'
        when matched then update set event_type = 'WARM'
        when not matched and s.sv > 100 then
            insert (event_id, event_type, value)
            values (s.sid, 'newhot', s.sv)
        when not matched then insert (event_id, event_type, value)
            values (s.sid, 'newcold', s.sv);
        select event_id, event_type, round(value, 2) as value
        from mut88""",
    # MERGE SET * / INSERT * shorthands (r12): every same-named
    # source column copies/inserts by name — the full-overlap source
    # makes both expansions total, and the +500 step-8 shift gives
    # both paths rows at every gate SF
    "q90_merge_star": """
        create stream mut90 as
            (select event_id, event_type, value from events);
        merge into mut90 using
            (select event_id + 500 as event_id, 'SYNCED' as event_type,
                    value from events where event_id % 8 = 0) as s
            on mut90.event_id = s.event_id
        when matched then update set *
        when not matched then insert *;
        select event_id, event_type, round(value, 2) as value
        from mut90""",
    # bucketed-table DDL (r6 dialect extension): write the join key's
    # shuffle ONCE at table-creation time, then aggregate on the
    # bucket key — the scan arrives pre-partitioned (the write-once
    # shuffle; plan-gated exchange-free in t:hints_ddl / t:bucketing).
    # The engine self-heals a stale warehouse dir from a previous
    # session, so the script is rerun-safe under the driver's fresh
    # in-memory catalog.
    "q43_bucketed_agg": """
        create table bkt43 bucketed by (o_custkey) into 8 buckets as
            (select o_custkey, o_totalprice from orders
             where o_totalprice > 1000);
        select o_custkey, count(*) as cnt,
               round(sum(o_totalprice), 2) as total
        from bkt43 group by o_custkey""",
    # INSERT executes in all three dialect forms (the reference only
    # parses them, flinkdsl/parser.scala:44-51, fsql/parser.scala:
    # 268-277): B-dialect INSERT..SELECT, B-dialect INSERT..VALUES
    # (explicit column list), and F-dialect INSERT from a file source
    # ($SF_DIR expands to the driver's testdata dir).  Derived copy so
    # shared tables stay pristine for the other driver queries.
    "q44_insert_forms": """
        create stream ins44 as
            (select n_nationkey, n_name, n_regionkey from nation
             where n_nationkey < 3);
        insert into ins44
            select n_nationkey + 100, upper(n_name), n_regionkey
            from nation where n_regionkey = 1;
        insert into ins44 (n_nationkey, n_name, n_regionkey) values
            (200, 'atlantis', 0), (201, 'lemuria', 1);
        insert into ins44 source file ('$SF_DIR/nation.parquet',
                                       'parquet');
        select n_regionkey, count(*) as cnt, min(n_name) as first_name,
               sum(n_nationkey) as key_sum
        from ins44 group by n_regionkey""",
}


# ---------------------------------------------------------------------------
# LLM-data-pipeline operators (SURVEY.md north-star extensions)
# ---------------------------------------------------------------------------

def _docs(spark, sf_dir):
    return _engine(spark, sf_dir).catalog.get("documents")


def _emb(spark, sf_dir):
    return _engine(spark, sf_dir).catalog.get("embeddings")


def _events(spark, sf_dir):
    return _engine(spark, sf_dir).catalog.get("events")


def _temporal_queries() -> dict[str, Callable[[SparkSession, str],
                                              DataFrame]]:
    from flink_dsl_spark.temporal import asof_join, range_join

    def q35(s, d):
        ev = _events(s, d)
        purchases = ev.filter("event_type = 'purchase'") \
                      .selectExpr("user_id", "event_id as purchase_id",
                                  "ts")
        views = ev.filter("event_type = 'view'") \
                  .selectExpr("user_id", "event_id as view_id", "ts",
                              "value")
        out = asof_join(purchases, views, by="user_id",
                        left_on="ts", right_on="ts")
        return out.selectExpr("user_id", "purchase_id", "view_id",
                              "round(value, 2) as view_value")

    def q36(s, d):
        ev = _events(s, d)
        clicks = ev.filter("event_type = 'click'") \
                   .selectExpr("user_id", "event_id as click_id", "ts")
        purchases = ev.filter("event_type = 'purchase'") \
                      .selectExpr("user_id", "event_id as purchase_id",
                                  "ts")
        out = range_join(clicks, purchases, by="user_id",
                         left_on="ts", right_on="ts",
                         lower_sec=0, upper_sec=1800)
        return out.selectExpr("user_id", "click_id", "purchase_id")

    def q37(s, d):
        from pyspark.sql import functions as F
        from flink_dsl_spark.temporal import sessionize
        out = sessionize(_events(s, d), "ts", "user_id", 1800,
                         {"n_events": F.count(F.lit(1)),
                          "total_value": F.round(F.sum("value"), 2)})
        return out.select("user_id", "session_start", "n_events",
                          "total_value")

    def q38(s, d):
        from pyspark.sql import functions as F
        from flink_dsl_spark.temporal import rollup_timeseries
        out = rollup_timeseries(
            _events(s, d), "ts", "event_type",
            [("count", "*", "n"), ("sum", "value", "v"),
             ("max", "value", "mx")],
            granularities_sec=[3600, 86400])
        return out.withColumn("v", F.round("v", 2))

    return {"q35_asof_join": q35, "q36_range_join": q36,
            "q37_session_window": q37, "q38_rollup_timeseries": q38}


def _pipeline_e2e(s: SparkSession, d: str,
                  verified: bool = False) -> DataFrame:
    """Training-data curation, one lazy plan: exact dedup -> quality
    gate -> deterministic split -> token stats -> sequence packing.
    Every stage is one of the registered operators; the composition is
    itself a single Catalyst plan (no intermediate materialization).

    ``verified=True`` (llm39) swaps the two engine-specific stages for
    their cross-engine-exact twins — md5 id-hash split (llm29 pattern)
    and single-partition next-fit packing (llm36 pattern) — so the
    WHOLE composition value-oracles against one DuckDB query; the
    default config (llm25) keeps the production xxhash64 split and
    partition-parallel first-fit packing, rows-only."""
    from pyspark.sql import functions as F
    from flink_dsl_spark import llm_ops as L
    docs = _docs(s, d)
    survivors = L.exact_dedup(docs, "text", "doc_id") \
        .select(F.col("doc_id"))
    quality = L.quality_score(docs, "text", "doc_id") \
        .filter(F.col("quality") >= 0.3).select("id")
    keep = docs.join(survivors, "doc_id") \
               .join(quality, docs["doc_id"] == quality["id"]) \
               .select("doc_id", "text")
    split = L.split_dataset(keep, "doc_id",
                            {"train": 0.9, "val": 0.1}, seed=11,
                            id_hash=L.md5_id_hash if verified else None)
    toks = L.token_stats(split.filter("split = 'train'"),
                         "text", "doc_id") \
        .selectExpr("id as doc_id", "ws_tokens")
    pack_opts = ({"partitions": 1, "strategy": "nextfit"}
                 if verified else {})
    packed = L.pack_sequences(toks, "doc_id", "ws_tokens", budget=1024,
                              **pack_opts)
    return packed.select("id", "n_tokens", "pack_id")


def _features_verified(s: SparkSession, d: str) -> DataFrame:
    """llm38: the byte-histogram featurizer with its normalization
    inverted back to exact integer bin COUNTS (feature * byte_len
    rounds to the count, since counts < 2^53), serialized to a CSV
    string the driver canonicalizer can hash — DuckDB independently
    rebuilds the histogram from hex(encode(text))."""
    from pyspark.sql import functions as F
    from flink_dsl_spark import llm_ops as L
    docs = _docs(s, d)
    feats = L.extract_features(
        L.with_binary_column(docs, "text", "doc_id"), dim=16)
    blen = docs.select(
        F.col("doc_id").alias("id"),
        F.octet_length(F.encode(F.col("text"), "utf-8")).alias("total"))
    counts = F.transform(
        "features",
        lambda x: F.round(x * F.col("total")).cast("long").cast("string"))
    return (feats.join(blen, "id")
                 .select("id",
                         F.col("total").cast("long").alias("byte_len"),
                         F.array_join(counts, ",").alias("hist")))


def _llm_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from pyspark.sql import functions as F
    from flink_dsl_spark import llm_ops as L

    return {
        "llm01_dedup_exact": lambda s, d: L.exact_dedup(
            _docs(s, d), "text", "doc_id"),
        # max_posting_size engages the straggler guard; the candidate
        # set still finds every oracle pair (near-dups share rare
        # shingles far below the cap)
        "llm02_dedup_ngram_jaccard": lambda s, d: L.ngram_jaccard_pairs(
            _docs(s, d), "text", "doc_id", n=8, threshold=0.8,
            max_posting_size=1000),
        # production banding (16 bands x r=4): every candidate is
        # exact-Jaccard-verified, so the OUTPUT VALUES are hash-free —
        # the only approximation is banding recall.  On the gate
        # corpora the config recovers the full >=0.8 pair set (pinned
        # by tests/test_llm_ops.py::test_llm03_banding_recall_is_full
        # at sf0.001 and the per-session sf0.01 rehearsal), so the
        # exact-shingle-Jaccard SQL (llm26's oracle) applies verbatim
        "llm03_dedup_minhash_lsh": lambda s, d: L.minhash_lsh_pairs(
            _docs(s, d), "text", "doc_id", num_hashes=64, bands=16,
            n=8, threshold=0.8),
        # rows-only BY DESIGN: the hamming values are computed over
        # seeded xxhash64 token hashes (engine-native, no DuckDB
        # equivalent); llm28 is the same full pipeline value-oracled
        # through the md5 token hash
        "llm04_dedup_simhash": lambda s, d: L.simhash_pairs(
            _docs(s, d), "text", "doc_id", max_hamming=3),
        #  - simhash_pairs is exact GIVEN the token hash (pigeonhole
        #    candidates are complete, hamming verify is exact); the
        #    md5-derived hash is bit-identical in DuckDB, so the FULL
        #    production pipeline — normalize, tokenize, 64-lane sign
        #    fold, chunk-bucket join, hamming filter — value-oracles:
        "llm28_simhash_verified_pairs": lambda s, d: L.simhash_pairs(
            _docs(s, d), "text", "doc_id", max_hamming=3,
            token_hash=L.md5_token_hash),
        # llm05 is the exact O(n^2) baseline/verifier by design; the
        # production-scale path is llm14 (hyperplane-LSH buckets with
        # exact-cosine verification).  The verifier runs on a FIXED
        # deterministic id-slice (<=400 rows at any SF) so the driver
        # query's cost is bounded — it validates the exact-cosine math
        # without ever scaling quadratically with the corpus.
        "llm05_dedup_embedding": lambda s, d: L.embedding_dup_pairs(
            _emb(s, d).filter("vec_id % 3 = 1 AND vec_id < 1200"),
            "embedding", "vec_id", threshold=0.4),
        "llm06_ann_topk_bruteforce": lambda s, d: L.cosine_topk(
            _emb(s, d), "embedding", "vec_id", query_id=0, k=10),
        # Achlioptas ±1 random projection (r11): the JL dimension cut
        # that shrinks embedding bytes before dedup/ANN.  Every output
        # is a literal left-associative ± chain + one division — no
        # aggregate fold, no libm — so the oracle (generated from the
        # same sign matrix) matches bit-exactly
        "llm74_random_projection": lambda s, d: L.random_projection(
            _emb(s, d), "embedding", "vec_id", dim=64, out_dim=4),
        # batched brute-force ANN (r11): top-k for a query SET in one
        # corpus pass — broadcast |Q|-row query table, per-qid
        # WindowGroupLimit heap in Partial mode before the exchange.
        # Same round-6 cosine premise as llm06
        "llm75_ann_topk_batch": lambda s, d: L.cosine_topk_batch(
            _emb(s, d), "embedding", "vec_id", [0, 1, 7], k=5),
        # rows-only BY DESIGN: probe_bits=2 prunes buckets, and on the
        # gate corpora the pruned candidate set demonstrably loses
        # top-k members (checked r6: output != llm27's exhaustive
        # probe at both sf0.001 and sf0.01) — an exact oracle would
        # assert recall the config intentionally trades away.  llm27
        # (probe_bits=planes) is the value-oracled exhaustive twin.
        "llm07_ann_lsh": lambda s, d: L.lsh_ann_topk(
            _emb(s, d), "embedding", "vec_id", query_id=0, k=10,
            planes=6, probe_bits=2),
        # rows-only BY DESIGN: split assignment is the seeded xxhash64
        # value itself — engine-native, no DuckDB equivalent; llm29 is
        # the identical operator value-oracled through md5_id_hash
        "llm20_split_dataset": lambda s, d: L.split_dataset(
            _docs(s, d), "doc_id",
            {"train": 0.8, "val": 0.1, "test": 0.1}).select(
                "doc_id", "split"),
        # cross-engine id-hash (md5_id_hash, the llm28 pattern) makes
        # the split/shuffle/sample ASSIGNMENTS value-oracled — the
        # xxhash64 production configs above/below stay rows-only
        "llm29_split_verified": lambda s, d: L.split_dataset(
            _docs(s, d), "doc_id",
            {"train": 0.8, "val": 0.1, "test": 0.1},
            id_hash=L.md5_id_hash).select("doc_id", "split"),
        "llm30_shuffle_key_verified": lambda s, d: L.seeded_shuffle(
            _docs(s, d).select("doc_id"), "doc_id", seed=7,
            id_hash=L.md5_id_hash).select("doc_id", "shuffle_key"),
        "llm31_stratified_verified": lambda s, d: L.stratified_sample(
            _docs(s, d), "lang", "doc_id",
            {"en": 0.5, "de": 0.25, "fr": 0.25}, seed=7,
            id_hash=L.md5_id_hash).select("doc_id", "lang"),
        # Gopher-style corpus filters (Rae et al. 2021): repetition /
        # symbol / bullet / word-shape signals, all JVM expressions
        "llm32_gopher_quality": lambda s, d: L.gopher_quality(
            _docs(s, d), "text", "doc_id"),
        # C4 line-level cleaning (Raffel et al. 2020 §2.2)
        "llm33_c4_line_filter": lambda s, d: L.c4_line_filter(
            _docs(s, d), "text", "doc_id"),
        # typed-placeholder PII scrub (emails / IPv4 / phone shapes)
        "llm34_pii_redact": lambda s, d: L.pii_redact(
            _docs(s, d), "text", "doc_id"),
        # survivor selection: unique docs + min-id rep per dup cluster
        # (same exact pair set as llm17, so the closure oracle extends).
        # Uncapped pair generation: the DuckDB oracle computes the
        # exact uncapped pair set, and a capped Spark side would
        # diverge the moment any shared shingle's posting exceeded the
        # cap (ADVICE r4) — max_posting_size belongs to the
        # production-scale path, not the oracled query.
        "llm35_dedup_survivors": lambda s, d: L.dedup_survivors(
            _docs(s, d),
            L.ngram_jaccard_pairs(_docs(s, d), "text", "doc_id",
                                  n=8, threshold=0.8),
            "doc_id").select("doc_id"),
        # rows-only BY DESIGN: pack ids embed the partition id, so the
        # assignment is partition-layout-dependent (the point of the
        # partition-parallel production shape); llm36 (partitions=1,
        # next-fit) is the sequential-recurrence twin a DuckDB
        # recursive CTE value-oracles
        "llm21_pack_sequences": lambda s, d: L.pack_sequences(
            L.token_stats(_docs(s, d), "text", "doc_id")
             .selectExpr("id as doc_id", "ws_tokens"),
            "doc_id", "ws_tokens", budget=512),
        # next-fit + partitions=1 turns packing into a sequential
        # recurrence a DuckDB recursive CTE replays exactly — the
        # value-oracled companion to llm21's production config
        # (partition-parallel first-fit, rows-only)
        "llm36_pack_verified": lambda s, d: L.pack_sequences(
            L.token_stats(_docs(s, d), "text", "doc_id")
             .selectExpr("id as doc_id", "ws_tokens"),
            "doc_id", "ws_tokens", budget=512, partitions=1,
            strategy="nextfit"),
        # planes=0 hashes every vector into the single table's one
        # bucket: candidates = all pairs, and the exact-cosine verify
        # makes the output identical to brute force — llm05's oracle
        # applies verbatim on the same bounded verifier slice (the
        # llm27 probe-all pattern applied to embedding dedup)
        "llm37_embdup_lsh_exhaustive": lambda s, d:
            L.embedding_dup_pairs_lsh(
                _emb(s, d).filter("vec_id % 3 = 1 AND vec_id < 1200"),
                "embedding", "vec_id", threshold=0.4,
                planes=0, tables=1),
        "llm38_features_verified": lambda s, d: _features_verified(s, d),
        "llm39_pipeline_verified": lambda s, d: _pipeline_e2e(
            s, d, verified=True),
        # GPT-3-style benchmark decontamination: every 50th doc stands
        # in as the eval set, the rest as the training corpus; matches
        # on normalized word-13-gram strings (broadcast semi-join)
        "llm40_decontaminate": lambda s, d: L.decontaminate(
            _docs(s, d).filter("doc_id % 50 <> 0"), "text", "doc_id",
            _docs(s, d).filter("doc_id % 50 = 0"), n=13),
        # the repetition half of Gopher's filter table: char mass of
        # the heaviest 2-gram and of duplicated 5-grams
        "llm41_gopher_repetition": lambda s, d: L.gopher_repetition(
            _docs(s, d), "text", "doc_id"),
        # RefinedWeb/FineWeb line-level corpus dedup: first occurrence
        # of every distinct line survives, later copies are removed
        "llm42_line_dedup": lambda s, d: L.line_dedup(
            _docs(s, d), "text", "doc_id"),
        # winnowed exact-substring duplicate detection (the Lee et al.
        # 2022 signal, content-defined anchors so shared blocks align
        # at any offset); md5 anchor hash = the cross-engine-oracled
        # config, xxhash64 the production default
        "llm43_dup_spans": lambda s, d: L.duplicate_spans(
            _docs(s, d), "text", "doc_id", span=32, anchor=8,
            density=16, anchor_hash=L.md5_token_hash),
        # deterministic token-budget corpus cut on the md5 permutation
        # (distributed running sum; xxhash64 is the production default)
        "llm44_token_budget": lambda s, d: L.token_budget_sample(
            L.token_stats(_docs(s, d), "text", "doc_id"),
            "id", "ws_tokens", budget=5000, id_hash=L.md5_id_hash),
        # downsample-only mixture rebalancing toward target token
        # shares; binding domain keeps rate 1.0
        "llm45_domain_mixture": lambda s, d: L.domain_mixture(
            L.token_stats(_docs(s, d), "text", "doc_id")
             .join(_docs(s, d).selectExpr("doc_id as id", "source"),
                   "id"),
            "source", "id", "ws_tokens",
            {"src0": 0.4, "src1": 0.3, "src2": 0.2, "src3": 0.1},
            id_hash=L.md5_id_hash),
        # per-source dataset-card stats; exact percentiles here (the
        # oracled config — quantile_cont algebra), percentile_approx
        # sketches on the 100 TB path
        "llm46_corpus_stats": lambda s, d: L.corpus_stats(
            L.token_stats(_docs(s, d), "text", "doc_id")
             .join(_docs(s, d).selectExpr("doc_id as id", "source"),
                   "id"),
            "ws_tokens", group_col="source", exact=True),
        # cross-corpus near-dedup: every 10th doc stands in as the
        # existing training corpus, the rest as the new crawl
        "llm47_cross_dedup_pairs": lambda s, d: L.cross_corpus_dup_pairs(
            _docs(s, d).filter("doc_id % 10 <> 0"),
            _docs(s, d).filter("doc_id % 10 = 0"),
            "text", "doc_id", n=8, threshold=0.8),
        "llm48_dedup_against": lambda s, d: L.dedup_against(
            _docs(s, d).filter("doc_id % 10 <> 0"),
            _docs(s, d).filter("doc_id % 10 = 0"),
            "text", "doc_id", n=8, threshold=0.8).select("doc_id"),
        # model-based quality filter plumbing (hashing-trick linear
        # scorer); md5 token hash = the oracled config, and the weight
        # stub stands in for a real exported model table
        "llm49_classifier_score": lambda s, d: L.classifier_score(
            _docs(s, d), "text", "doc_id",
            num_features=1024, weights_seed=7,
            token_hash=L.md5_token_hash),
        # full-corpus distributed Lloyd k-means; one iteration +
        # quantized centroids = the cross-engine-oracled config
        # (production: more iterations, full precision, xxhash init)
        "llm50_kmeans": lambda s, d: L.kmeans(
            _emb(s, d), "embedding", "vec_id", k=4, max_iters=1,
            quantize=6, id_hash=L.md5_id_hash),
        # SemDeDup (Abbas et al. 2023): cluster then drop members with
        # a same-cluster smaller-id neighbor at cosine >= threshold
        "llm51_semdedup": lambda s, d: L.semdedup(
            _emb(s, d).filter("vec_id % 3 = 1 AND vec_id < 1200"),
            "embedding", "vec_id", k=2, threshold=0.4, max_iters=1,
            quantize=6, id_hash=L.md5_id_hash),
        # CCNet-style char-trigram LM perplexity (self-model config:
        # the corpus scores against its own bounded 37^3 statistics)
        "llm52_lm_perplexity": lambda s, d: L.ngram_lm_perplexity(
            _docs(s, d), "text", "doc_id"),
        # web-corpus boilerplate removal (script/style payloads, tags,
        # entities) — RE2-safe patterns shared with the oracle
        "llm53_html_strip": lambda s, d: L.html_strip(
            _docs(s, d), "text", "doc_id"),
        # per-source vocabulary statistics (tokenizer-vocab sizing /
        # corpus-diversity numbers)
        "llm54_vocab_stats": lambda s, d: L.vocab_stats(
            _docs(s, d), "text", group_col="source"),
        # mixture rebalancing WITH upsampling (multi-epoch DoReMi
        # recipe): per-domain repeat factors <= max_epochs, fractional
        # copies id-hash-selected; md5 = the oracled config
        "llm55_mixture_epochs": lambda s, d: L.domain_mixture_epochs(
            L.token_stats(_docs(s, d), "text", "doc_id")
             .join(_docs(s, d).selectExpr("doc_id as id", "source"),
                   "id"),
            "source", "id", "ws_tokens",
            {"src0": 0.4, "src1": 0.3, "src2": 0.2, "src3": 0.1},
            max_epochs=3, id_hash=L.md5_id_hash),
        # deterministic fixed-token output shards over the md5
        # permutation (write-side companion of llm44's budget cut)
        "llm56_shard_assign": lambda s, d: L.shard_corpus(
            L.token_stats(_docs(s, d), "text", "doc_id"),
            "id", "ws_tokens", shard_tokens=5000,
            id_hash=L.md5_id_hash),
        # int8-quantized brute-force ANN: 4x smaller scan than llm06;
        # int dot products are exact in doubles, so fully oracled
        "llm57_ann_quantized": lambda s, d: L.cosine_topk_quantized(
            _emb(s, d), "embedding", "vec_id", query_id=0, k=10),
        # one-row curation funnel (dataset-card numbers): per-filter
        # keep rates aggregated from the oracled filter frames
        "llm58_curation_report": lambda s, d: L.curation_report(
            _docs(s, d), "text", "doc_id"),
        # BPE first-merge statistics: adjacent symbol-pair counts over
        # the normalized token stream, deterministic (cnt desc, pair)
        # top-50 cut
        "llm59_bpe_pairs": lambda s, d: L.bpe_pair_stats(
            _docs(s, d), "text", k=50),
        # Unicode NFC canonicalization: Arrow pandas UDF over CPython
        # unicodedata; DuckDB's utf8proc nfc_normalize is the oracle
        # (normalization-stability policy makes the premise exact)
        "llm60_nfc_normalize": lambda s, d: L.nfc_normalize(
            _docs(s, d), "text", "doc_id"),
        # Misra-Gries heavy hitters; capacity >= corpus vocabulary is
        # the exact, oracled config — production uses a small capacity
        # to bound the shuffle at partitions*capacity rows when the
        # key universe (URLs, n-grams) dwarfs memory
        "llm61_heavy_hitters": lambda s, d: L.heavy_hitters(
            _docs(s, d), "text", capacity=1_000_000, k=25),
        # distributed BPE tokenizer: train 3 merges on the corpus
        # word-frequency table (1-row collect per merge, documented),
        # then encode every document with the learned tokenizer
        "llm62_bpe_encode": lambda s, d: L.bpe_encode(
            _docs(s, d), "text", "doc_id",
            L.bpe_train(_docs(s, d), "text", 3)),
        # temperature-scaled mixture (targets ∝ tokens^(1/T));
        # T=2 -> w = sqrt(tokens), correctly rounded by IEEE-754 on
        # both engines, so the whole rate algebra is oracled
        "llm63_mixture_temperature": lambda s, d:
            L.domain_mixture_temperature(
                L.token_stats(_docs(s, d), "text", "doc_id")
                 .join(_docs(s, d).selectExpr("doc_id as id", "source"),
                       "id"),
                "source", "id", "ws_tokens", temperature=2.0,
                id_hash=L.md5_id_hash),
        # HyperLogLog registers (p=9): the mergeable cardinality
        # sketch — no distinct pass, shuffle bounded at 2^p rows; the
        # emitted register table is all-integer and exactly oracled
        # (rho via bit-length, never floating log2)
        "llm64_hll_registers": lambda s, d: L.hll_registers(
            _docs(s, d), "text", p=9),
        # count-min sketch (4x1024): frequency estimation with the
        # shuffle bounded by the GRID, not the vocabulary; point
        # estimates = min over rows, always >= truth
        "llm65_cms_counts": lambda s, d: L.cms_counts(
            _docs(s, d), "text", depth=4, width=1024),
        # Bloom-filter decontamination: llm40's check through a
        # fixed-size broadcast bitmap (2^20 bits / k=4) — both engines
        # compute the SAME bloom, so the approximate check is exactly
        # oracled; every-50th-doc eval split mirrors llm40
        "llm66_bloom_decontaminate": lambda s, d: L.bloom_decontaminate(
            _docs(s, d).filter("doc_id % 50 <> 0"), "text", "doc_id",
            _docs(s, d).filter("doc_id % 50 = 0"), n=13),
        # per-document n-gram novelty: fraction of a doc's distinct
        # word-8-grams found in no other document (templated-mass
        # score, two keyed aggs, no doc-pair joins)
        "llm67_ngram_novelty": lambda s, d: L.ngram_novelty(
            _docs(s, d), "text", "doc_id", n=8),
        # frequency-proportional downsampling ("soft dedup"): each
        # exact-dup group survives ~once in expectation, decision
        # independent per doc (growth-stable, no winner election);
        # md5 id hash + decimal compare = the oracled config
        "llm68_soft_dedup": lambda s, d: L.soft_dedup(
            _docs(s, d), "text", "doc_id", seed=7,
            id_hash=L.md5_id_hash),
        # exact distributed quantiles (percentile_disc) of document
        # lengths: corpus-size work is one partial-agg'd count keyed
        # on the value; only the distinct-value table enters the
        # prefix sum.  approx_quantile could never be value-oracled
        "llm69_length_quantiles": lambda s, d: L.exact_quantiles(
            _docs(s, d), "n_chars",
            probs=(0.25, 0.5, 0.75, 0.9, 0.99)),
        # best-k-per-domain curation cut: one group-keyed shuffle,
        # WindowGroupLimit keeps k rows per group during the sort
        # (plan-gated) — no global sort, skew-safe
        "llm70_topk_quality": lambda s, d: L.topk_per_group(
            L.quality_score(_docs(s, d), "text", "doc_id")
             .join(_docs(s, d).selectExpr("doc_id as id", "source"),
                   "id"),
            "source", "quality", "id", k=5),
        # per-source length outliers via EXACT integer z-score algebra
        # ((n-1)(nx-S)^2 > k^2 n (nQ-S^2) in decimal(38,0)/HUGEINT) —
        # no floating mean/stddev, no summation-order sensitivity
        "llm71_length_outliers": lambda s, d: L.robust_outliers(
            _docs(s, d), "source", "n_chars", "doc_id", k=2),
        # uniform k-per-group cap (r6): the anti-domination cut — at
        # most k docs per source, selected by seeded id-hash order so
        # the pick is unbiased and deterministic; md5 id hash makes
        # the whole cut value-oracled (rank = hash-order row_number)
        "llm72_domain_cap": lambda s, d: L.cap_per_group(
            _docs(s, d), "source", "doc_id", k=10, seed=7,
            id_hash=L.md5_id_hash),
        # weighted sample without replacement (r11): Duffield-Lund-
        # Thorup priority sampling — q = u/w with u from the seeded
        # md5 id hash, the k SMALLEST priorities win.  The key uses
        # only correctly-rounded IEEE ops (long->double conversion,
        # exact power-of-two scaling, one division — no pow/log), so
        # the selection AND the priority doubles value-oracle
        # bit-exactly.  Plan: projection + TakeOrderedAndProject
        # (per-partition top-k heap), zero shuffle.
        "llm73_priority_sample": lambda s, d: L.priority_sample(
            _docs(s, d), "doc_id", "n_chars", k=50, seed=42,
            id_hash=L.md5_id_hash),
        # per-stratum DLT sampling (r12): k rows from EACH source —
        # the corpus-mixture shape.  Same bit-exact u/w key as llm73;
        # the per-stratum cut plans as WindowGroupLimit running
        # Partial BEFORE the one stratum exchange, so the shuffle
        # carries O(tasks * strata * k) rows, never the corpus.
        # with_estimate: each stratum's DLT subset-sum estimator
        # w_est = max(w, 1/q_(k+1)) rides along — one division + one
        # max, so it value-oracles bit-exactly too (the second window
        # runs over the bounded <= k+1 rows per stratum)
        "llm76_priority_stratified": lambda s, d:
            L.priority_sample_stratified(
                _docs(s, d), "doc_id", "n_chars", "source", k=15,
                seed=42, id_hash=L.md5_id_hash, with_estimate=True),
        # rank=True demonstrates the distributed two-phase global
        # numbering on top of the shuffle key; with the cross-engine
        # md5 id hash both the key and the rank are value-oracled
        # (llm30 stays the key-only production-shaped companion)
        "llm23_seeded_shuffle": lambda s, d: L.seeded_shuffle(
            _docs(s, d).select("doc_id"), "doc_id",
            seed=7, rank=True, id_hash=L.md5_id_hash),
        # capstone: the full curation pipeline composed end-to-end —
        # dedup survivors -> quality gate -> deterministic split ->
        # token stats -> budget packing.  rows-only BY DESIGN: the
        # xxhash64 id-hash split keeps this the production-hash
        # composition; its value-oracled twin is llm39 (same pipeline,
        # md5 hashes)
        "llm25_pipeline_e2e": lambda s, d: _pipeline_e2e(s, d),
        # strats on the PREDICTED language (lang_id output), unlike
        # llm31 which strats on the raw lang column — with the md5 id
        # hash the whole composition value-oracles (llm09's lang CTE
        # + llm31's bucket filter)
        "llm24_stratified_sample": lambda s, d: L.stratified_sample(
            L.lang_id(_docs(s, d), "text", "doc_id"), "lang_pred", "id",
            {"en": 0.5, "de": 0.25, "fr": 0.25}, seed=7,
            id_hash=L.md5_id_hash),
        "llm19_top_terms_tfidf": lambda s, d: L.top_terms_tfidf(
            _docs(s, d), "text", "doc_id", k=5),
        # Okapi BM25 query scoring (r12) — the retrieval-side
        # complement of llm19's TF-IDF: shuffle carries only
        # query-term postings (isin filter BEFORE the keyed agg),
        # corpus stats one broadcast 1-row aggregate, k-cut
        # TakeOrderedAndProject.  Per-(doc, term) scores quantize to
        # integer micro-scores before the per-doc sum, so the sum is
        # exact and order-independent across engines.
        "llm77_bm25_scores": lambda s, d: L.bm25_scores(
            _docs(s, d), "text", "doc_id",
            ["hash", "join", "merge"], k=100),
        # hybrid lexical+semantic retrieval (r13): BM25 top-pool and
        # embedding-cosine top-pool fused by Reciprocal Rank Fusion
        # (Cormack et al. 2009).  Ranks are integers over already
        # bit-exact scores (integer micro-score BM25; round-6
        # cosine), each reciprocal one correctly-rounded division,
        # the sum left-associated in list order — so the fused
        # ordering value-oracles bit-exactly.  Corpus-scale work
        # stays in the two upstream operators; the fusion join runs
        # on two <=pool-row candidate relations.
        # asymmetric n-gram CONTAINMENT pairs (r13): detects quotes /
        # excerpts / boilerplate-wrapped copies that Jaccard misses
        # (|A∩B|/|A| ≈ 1 for a quote inside a much larger page).
        # Same inverted-index aggregate-counts-shared-shingles shape
        # as llm02 (never per-pair array scans); both directions
        # emitted per unordered pair, kept if either clears the
        # threshold; integer/integer divisions round-6 → bit-exact.
        "llm79_containment_pairs": lambda s, d: (
            L.ngram_containment_pairs(
                _docs(s, d), "text", "doc_id", n=8, threshold=0.6)),
        # capped-scaffold twin (the llm26 exhaustive-twin pattern):
        # the SAME containment config with max_posting_size=450 —
        # above the corpus' max posting at the oracle SFs (399 at
        # sf0.001 / 394 at sf0.01), so the FULL capped code path
        # (posting-size aggregate, broadcast anti-join, n_kept /
        # n_capped meta, rounded upper-bound prune, exact
        # verification on full shingle arrays — the scaffold SHARED
        # with ngram_jaccard_pairs) executes driver-side while
        # remaining exhaustive-equivalent and value-oracle-able
        "llm80_containment_capped": lambda s, d: (
            L.ngram_containment_pairs(
                _docs(s, d), "text", "doc_id", n=8, threshold=0.6,
                max_posting_size=450)),
        "llm78_hybrid_rrf": lambda s, d: L.hybrid_topk(
            _docs(s, d).join(
                s.read.parquet(f"{d}/embeddings.parquet"),
                F.col("doc_id") == F.col("vec_id")),
            "text", "embedding", "doc_id",
            ["data", "stream", "window"], query_id=7,
            k=10, pool=50),
        "llm18_chunk_documents": lambda s, d: L.chunk_documents(
            _docs(s, d), "text", "doc_id", chunk_tokens=64, overlap=8),
        "llm17_dup_clusters": lambda s, d: L.dup_clusters(
            L.ngram_jaccard_pairs(_docs(s, d), "text", "doc_id",
                                  n=8, threshold=0.8,
                                  max_posting_size=1000)),
        # rows-only BY DESIGN: nprobe=4 of 8 cells prunes the scan, and
        # on the gate corpora the pruned top-k demonstrably diverges
        # from brute force (checked r6: != llm16 at sf0.001) — recall
        # is the documented trade.  llm16 (nprobe=nlist) is the
        # value-oracled exhaustive twin.
        "llm15_ann_ivf": lambda s, d: L.ivf_ann_topk(
            _emb(s, d), "embedding", "vec_id", query_id=0, k=10,
            nlist=8, nprobe=4),
        "llm16_ann_ivf_exhaustive": lambda s, d: L.ivf_ann_topk(
            _emb(s, d), "embedding", "vec_id", query_id=0, k=10,
            nlist=8, nprobe=8),
        "llm08_token_stats": lambda s, d: L.token_stats(
            _docs(s, d), "text", "doc_id"),
        "llm09_lang_id": lambda s, d: L.lang_id(
            _docs(s, d), "text", "doc_id"),
        "llm10_quality_score": lambda s, d: L.quality_score(
            _docs(s, d), "text", "doc_id"),
        "llm11_fingerprint": lambda s, d: L.fingerprint(
            _docs(s, d), "text", "doc_id"),
        "llm12_multimodal_decode": lambda s, d: L.decode_metadata(
            L.with_binary_column(_docs(s, d), "text", "doc_id")),
        # frame_offsets is array<long> in the operator; the driver's
        # canonicalizer sorts pandas columns and can't hash ndarrays, so
        # the driver-facing query serializes it to a CSV string (the
        # DuckDB oracle mirrors with array_to_string)
        "llm13_frame_sample": lambda s, d: L.sample_frames(
            L.with_binary_column(_docs(s, d), "text", "doc_id"))
            .withColumn("frame_offsets",
                        F.array_join("frame_offsets", ",")),
        # rows-only BY DESIGN: the product surface is
        # (id, features array<double>) — the driver canonicalizer
        # cannot hash array cells, and serializing L1-normalized
        # doubles to strings would make the oracle hostage to float
        # FORMATTING; llm38 inverts the same featurizer back to exact
        # integer bin counts and value-oracles those
        "llm22_extract_features": lambda s, d: L.extract_features(
            L.with_binary_column(_docs(s, d), "text", "doc_id"), dim=64),
        # rows-only BY DESIGN: 3-plane/12-table bucketing intentionally
        # trades recall for scan cost, and on the gate corpora it DOES
        # miss brute-force pairs (checked r6: 4 of 66 at sf0.001, 2 of
        # 59 at sf0.01) — an exact-pair oracle would assert recall the
        # config doesn't promise.  llm37 (probe-all) and llm05 (brute
        # slice) are the value-oracled companions.
        "llm14_dedup_embedding_lsh": lambda s, d: L.embedding_dup_pairs_lsh(
            _emb(s, d), "embedding", "vec_id", threshold=0.4,
            planes=3, tables=12),
        # oracled companions for the approximate paths (llm16 pattern:
        # configure the approximation to be exhaustive, then the exact
        # SQL oracle applies):
        #  - r=1 banding (bands == num_hashes) makes a >=0.8-Jaccard
        #    pair's candidate-miss probability (1-j)^64 <= 2e-45, and
        #    minhash_lsh_pairs exact-verifies every candidate, so the
        #    output IS the exact n-gram-Jaccard pair set;
        "llm26_minhash_verified_pairs": lambda s, d: L.minhash_lsh_pairs(
            _docs(s, d), "text", "doc_id", num_hashes=64, bands=64,
            n=8, threshold=0.8),
        #  - probe_bits == planes probes every sign-bit bucket, so the
        #    candidate set is the whole corpus and the exact-cosine
        #    re-rank equals brute-force top-k (llm06's oracle).
        "llm27_ann_lsh_exhaustive": lambda s, d: L.lsh_ann_topk(
            _emb(s, d), "embedding", "vec_id", query_id=0, k=10,
            planes=6, probe_bits=6),
    }


# ---------------------------------------------------------------------------
# True Structured-Streaming execution (SURVEY §2.9, M4/M5): each callable
# runs a real streaming job (file source -> availableNow -> memory sink)
# and returns the sink as a batch DataFrame, so the driver can collect it.
# ---------------------------------------------------------------------------

_SINK_SEQ = [0]


def _run_stream(eng, df, output_mode):
    _SINK_SEQ[0] += 1
    name = f"entry_sink{_SINK_SEQ[0]}"
    q = eng.start_sink(df, name=name, output_mode=output_mode)
    if not q.awaitTermination(300):
        # fail LOUDLY: a timed-out stream would otherwise return a
        # silently-partial sink table and read as an oracle mismatch
        q.stop()
        raise RuntimeError(f"streaming query {name} did not finish "
                           "within 300s")
    return eng.spark.table(name)


def _stream_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    def s01(spark, d):
        # streaming tumbling time window; complete-mode result == batch
        # result, so it oracles exactly (window start aligns to epoch,
        # same as DuckDB time_bucket)
        eng = _engine(spark, d)
        eng.register_stream_parquet(
            "events_s1", f"{d}/events.parquet", event_time_col="ts")
        out = eng.sql("""
            select event_type, count(*) as cnt
            from events_s1 [size 1 h on ts] group by event_type""")
        return _run_stream(eng, out, "complete")

    def s02(spark, d):
        # stateful count window (applyInPandasWithState); (ts, event_id)
        # ordering makes window contents fully deterministic
        from flink_dsl_spark.streaming import count_window_agg
        eng = _engine(spark, d)
        eng.register_stream_parquet("events_s2", f"{d}/events.parquet")
        out = count_window_agg(
            eng.catalog.get("events_s2"), key_cols=["user_id"],
            aggs=[("sum", "value", "sv"), ("count", "value", "n"),
                  ("max", "value", "mx")],
            size=5, order_col=["ts", "event_id"])
        df = _run_stream(eng, out, "append")
        from pyspark.sql import functions as F
        return df.select("user_id", "window_no",
                         F.round("sv", 2).alias("sv"),
                         F.col("n").cast("long").alias("n"), "mx")

    def s03(spark, d):
        # windowed stream JOIN: co-window equality inner join — emits
        # immediately (no outer-side withholding), so complete
        # determinism vs the SQL window-equality join
        eng = _engine(spark, d)
        eng.register_stream_parquet(
            "events_s3", f"{d}/events.parquet", event_time_col="ts",
            watermark="0 seconds")
        out = eng.sql("""
            select s1.event_id, s2.event_id as id2
            from events_s3 [size 10 min on ts] as s1
            join events_s3 [size 10 min on ts] as s2
              on s1.user_id = s2.user_id""")
        return _run_stream(eng, out, "append")

    def s04(spark, d):
        # streaming delta-sliding windows (stateful); within each batch
        # rows are processed in delta-column order, and the single-file
        # source is one batch, so results are deterministic
        eng = _engine(spark, d)
        eng.register_stream_parquet("events_s4", f"{d}/events.parquet")
        out = eng.sql("""
            select user_id, count(*) as cnt, round(sum(value), 2) as sv
            from events_s4 [size 50 on value every 20 on value
                            partitioned on user_id]
            group by user_id""")
        return _run_stream(eng, out, "append")

    def s05(spark, d):
        # streaming gap-based session windows (Spark-native
        # session_window state merge); complete mode emits every closed
        # AND open session after the availableNow batch, so the result
        # equals the batch session window and oracles exactly
        eng = _engine(spark, d)
        eng.register_stream_parquet(
            "events_s5", f"{d}/events.parquet", event_time_col="ts")
        out = eng.sql("""
            select user_id, count(*) as n
            from events_s5 [session 30 min on ts] group by user_id""")
        return _run_stream(eng, out, "complete")

    def s06(spark, d):
        # streaming SLIDING count window (stateful, partitioned): the
        # trigger fires every 3 rows per user, aggregating the last
        # min(6, seen) rows; unique (user_id, ts) makes window contents
        # deterministic (order_col = registered event-time column)
        eng = _engine(spark, d)
        eng.register_stream_parquet(
            "events_s6", f"{d}/events.parquet", event_time_col="ts")
        out = eng.sql("""
            select user_id, count(*) as cnt, round(sum(value), 2) as sv
            from events_s6 [size 6 every 3 partitioned on user_id]
            group by user_id""")
        return _run_stream(eng, out, "append")

    def s07(spark, d):
        # streaming SLIDING time window (native window() with slide);
        # complete-mode result == batch result, oracles exactly
        eng = _engine(spark, d)
        eng.register_stream_parquet(
            "events_s7", f"{d}/events.parquet", event_time_col="ts")
        out = eng.sql("""
            select event_type, count(*) as cnt
            from events_s7 [size 2 h on ts every 1 h]
            group by event_type""")
        return _run_stream(eng, out, "complete")

    def s08(spark, d):
        # streaming exact dedup: dropDuplicatesWithinWatermark keeps
        # keyed state only inside the watermark horizon (the
        # bounded-state formulation — plain dropDuplicates would grow
        # state forever on an unbounded stream).  Projecting the KEY
        # columns only makes the kept set = the distinct key set
        # regardless of micro-batch arrival order, so it oracles
        # exactly against SELECT DISTINCT.
        eng = _engine(spark, d)
        eng.register_stream_parquet(
            "events_s8", f"{d}/events.parquet", event_time_col="ts",
            watermark="1 hour")
        sdf = eng.catalog.get("events_s8")
        out = (sdf.select("user_id", "event_type", "ts")
                  .dropDuplicatesWithinWatermark(
                      ["user_id", "event_type"])
                  .select("user_id", "event_type"))
        return _run_stream(eng, out, "append")

    def s09(spark, d):
        # curation-on-a-stream: the llm text-quality operator applied
        # unchanged to a STREAMING relation (stateless projection,
        # append mode) — incoming crawl data scores as it lands, and
        # the result equals the batch operator so llm10's oracle
        # applies verbatim
        from flink_dsl_spark import llm_ops as L
        eng = _engine(spark, d)
        eng.register_stream_parquet(
            "docs_s9", f"{d}/documents.parquet")
        out = L.quality_score(eng.catalog.get("docs_s9"),
                              "text", "doc_id")
        return _run_stream(eng, out, "append")

    def s10(spark, d):
        # sketching-on-a-stream: the HLL register table is a pure
        # streaming aggregation (groupBy bucket, max rho — mergeable
        # by construction), so complete mode equals the batch sketch
        # and llm64's oracle applies verbatim.  This is the continuous
        # vocabulary-cardinality monitor for an ingest pipeline:
        # bounded state (2^p rows), no distinct, no watermark needed.
        from flink_dsl_spark import llm_ops as L
        eng = _engine(spark, d)
        eng.register_stream_parquet(
            "docs_s10", f"{d}/documents.parquet")
        out = L.hll_registers(eng.catalog.get("docs_s10"), "text", p=9)
        return _run_stream(eng, out, "complete")

    def s11(spark, d):
        # streaming analytic OVER (r9 dialect extension): per-row
        # RUNNING aggregates on an unbounded stream via the stateful
        # running_agg operator (O(1) scalar state per key — no buffer;
        # planner.py _plan_streaming_over).  The single-file
        # availableNow source is one ordered batch and (ts, event_id)
        # is unique, so the running values are deterministic and the
        # batch window oracle applies; integral sums are exact, double
        # sums add in the same sequence DuckDB's cumulative frame does.
        eng = _engine(spark, d)
        eng.register_stream_parquet("ev_s11", f"{d}/events.parquet")
        out = eng.sql("""
            select user_id, event_id,
                   sum(value) over (partition by user_id
                       order by ts, event_id
                       rows between unbounded preceding and current row)
                       as run_sum,
                   count(*) over (partition by user_id
                       order by ts, event_id
                       rows between unbounded preceding and current row)
                       as run_n,
                   max(value) over (partition by user_id
                       order by ts, event_id
                       rows between unbounded preceding and current row)
                       as run_max
            from ev_s11""")
        df = _run_stream(eng, out, "append")
        from pyspark.sql import functions as F
        return df.select("user_id", "event_id",
                         F.round("run_sum", 2).alias("run_sum"),
                         "run_n", F.round("run_max", 2).alias("run_max"))

    def s12(spark, d):
        # streaming QUALIFY over a running aggregate (r9): keep the
        # FIRST 3 events per user in (ts, event_id) order — the
        # streaming per-key cap, one stateful pass then a stateless
        # filter on the emitted running count.  Same determinism
        # premise as s11.
        eng = _engine(spark, d)
        eng.register_stream_parquet("ev_s12", f"{d}/events.parquet")
        out = eng.sql("""
            select user_id, event_id,
                   count(*) over (partition by user_id
                       order by ts, event_id
                       rows between unbounded preceding and current row)
                       as rn
            from ev_s12 qualify rn <= 3""")
        return _run_stream(eng, out, "append")

    def s13(spark, d):
        # streaming lag (r10 dialect extension): the per-key
        # previous-event lookup on an unbounded stream, routed through
        # the same stateful pass as s11's running aggregates
        # (planner.py _plan_streaming_over -> running_agg offsets;
        # state per (key, lag spec) is the last k values — O(k),
        # stream-length independent).  Mixing lag with a running sum
        # exercises one shared keyed exchange for both.  Same
        # determinism premise as s11: the single-file availableNow
        # source is one ordered batch and (ts, event_id) is unique,
        # so the batch lag/window oracle applies verbatim.
        eng = _engine(spark, d)
        eng.register_stream_parquet("ev_s13", f"{d}/events.parquet")
        out = eng.sql("""
            select user_id, event_id,
                   lag(event_type, 1, 'none') over (partition by user_id
                       order by ts, event_id) as prev_type,
                   lag(event_id, 2) over (partition by user_id
                       order by ts, event_id) as prev2_id,
                   sum(value) over (partition by user_id
                       order by ts, event_id
                       rows between unbounded preceding and current row)
                       as run_sum
            from ev_s13""")
        df = _run_stream(eng, out, "append")
        from pyspark.sql import functions as F
        return df.select("user_id", "event_id", "prev_type", "prev2_id",
                         F.round("run_sum", 2).alias("run_sum"))

    def s14(spark, d):
        # streaming first_value/last_value (r10): first_value keeps ONE
        # captured value per key (O(1) state; the empty-vs-[NULL]
        # array distinction preserves a NULL first value); last_value
        # over the running ROWS frame IS the current row — compiled
        # inline, zero state.  Both share the single stateful pass
        # with a running count.  Same determinism premise as s11.
        eng = _engine(spark, d)
        eng.register_stream_parquet("ev_s14", f"{d}/events.parquet")
        frame = ("over (partition by user_id order by ts, event_id "
                 "rows between unbounded preceding and current row)")
        out = eng.sql(f"""
            select user_id, event_id,
                   first_value(event_type) {frame} as first_type,
                   first_value(value) {frame} as first_amt,
                   last_value(value) {frame} as cur_amt,
                   count(*) {frame} as run_n
            from ev_s14""")
        return _run_stream(eng, out, "append")

    def s15(spark, d):
        # streaming nth_value (r10): the n-th row's value per key via
        # an O(n) capture buffer (buffer LENGTH marks captured rows,
        # so NULL values buffer exactly); NULL until n rows have
        # arrived.  Shares the single stateful pass with a running
        # count.  Same determinism premise as s11.
        eng = _engine(spark, d)
        eng.register_stream_parquet("ev_s15", f"{d}/events.parquet")
        frame = ("over (partition by user_id order by ts, event_id "
                 "rows between unbounded preceding and current row)")
        out = eng.sql(f"""
            select user_id, event_id,
                   nth_value(event_type, 3) {frame} as third_type,
                   nth_value(value, 2) {frame} as second_amt,
                   count(*) {frame} as run_n
            from ev_s15""")
        return _run_stream(eng, out, "append")

    def s16(spark, d):
        # streaming row_number/rank/dense_rank in one stateful pass
        # (r11; row_number graduated r10): row_number is the running
        # count cast int, rank/dense_rank keep the last row's order
        # key + one scalar per spec (O(1) state —
        # stateful.py running_agg ranks).  QUALIFY on the row_number
        # is the streaming cap in its idiomatic ranking form.  The
        # (ts, event_id) order is unique, so every ranking value is
        # deterministic and the batch window oracle applies verbatim.
        eng = _engine(spark, d)
        eng.register_stream_parquet("ev_s16", f"{d}/events.parquet")
        out = eng.sql("""
            select user_id, event_id,
                   row_number() over (partition by user_id
                       order by ts, event_id) as rn,
                   rank() over (partition by user_id
                       order by ts, event_id) as rnk,
                   dense_rank() over (partition by user_id
                       order by ts, event_id) as drnk
            from ev_s16 qualify rn <= 5""")
        return _run_stream(eng, out, "append")

    def s17(spark, d):
        # streaming rank/dense_rank TIE semantics (r11): ordering by
        # event_type alone gives ~2000 peers per (user, type) — peers
        # share a rank, rank jumps past the run, dense_rank increments
        # once per distinct key.  WITHIN the batch rank/dense_rank are
        # functions of the ORDER BY value only, so each output row is
        # deterministic even though peer arrival order is not (the
        # reason row_number stays out of THIS query's select list).
        # Cross-batch the incremental carry matches the batch oracle
        # only while the order key never regresses across micro-batch
        # boundaries — this row rests on s11's single-ordered-batch
        # premise (single-file availableNow source = ONE batch, sorted
        # whole before ranking), the same premise every streaming OVER
        # row shares.
        eng = _engine(spark, d)
        eng.register_stream_parquet("ev_s17", f"{d}/events.parquet")
        out = eng.sql("""
            select user_id, event_id, event_type,
                   rank() over (partition by user_id
                       order by event_type) as rnk,
                   dense_rank() over (partition by user_id
                       order by event_type) as drnk
            from ev_s17 qualify drnk <= 2""")
        return _run_stream(eng, out, "append")

    def s18(spark, d):
        # streaming IGNORE NULLS (r11): lag / first_value /
        # last_value / nth_value with null treatment on an unbounded
        # stream — state tracks NON-null values (last k non-nulls /
        # first non-null / most recent non-null / first n non-nulls),
        # same O(k)-or-better size as the respect-nulls forms, one
        # stateful pass for the whole list.  The CASE manufactures
        # NULLs (events.value has none).  Same single-ordered-batch
        # determinism premise as s11.
        eng = _engine(spark, d)
        eng.register_stream_parquet("ev_s18", f"{d}/events.parquet")
        nully = "case when value < 50.0 then null else value end"
        frame = ("over (partition by user_id order by ts, event_id "
                 "rows between unbounded preceding and current row)")
        out = eng.sql(f"""
            select user_id, event_id,
                   lag({nully}, 1, -1.0) ignore nulls over (
                       partition by user_id order by ts, event_id)
                       as prev_amt,
                   first_value({nully}) ignore nulls {frame}
                       as first_amt,
                   last_value({nully}) ignore nulls {frame}
                       as cur_amt,
                   nth_value({nully}, 2) ignore nulls {frame}
                       as second_amt
            from ev_s18""")
        return _run_stream(eng, out, "append")

    def s19(spark, d):
        # streaming QUALIFY composed with EXPRESSION partition keys
        # (both shipped r11 with test-only evidence — this is their
        # first driver row, VERDICT r11 item 4): `user_id % 4`
        # compiles to a hidden column before the ONE stateful pass
        # (shared by both window functions — structurally equal specs
        # collapse to one grouping), the ranking state is O(1) per
        # derived key, and QUALIFY filters on the aliased rank after
        # the pass.  The (ts, event_id) order is unique, so every
        # ranking value is deterministic and the batch window oracle
        # applies verbatim.
        eng = _engine(spark, d)
        eng.register_stream_parquet("ev_s19", f"{d}/events.parquet")
        out = eng.sql("""
            select user_id, event_id,
                   row_number() over (partition by user_id % 4
                       order by ts, event_id) as rn,
                   rank() over (partition by user_id % 4
                       order by ts, event_id) as rnk
            from ev_s19 qualify rn <= 7""")
        return _run_stream(eng, out, "append")

    def s20(spark, d):
        # sample hint composed on a STREAM with running OVER + QUALIFY
        # (r13, VERDICT r12 item 7): the sample hint is the one
        # sampling cut that is streaming-safe (pure per-row
        # hash-residue filter, no shuffle, no state), so it composes
        # with the stateful running_agg pass — the window functions
        # see ONLY the sampled rows (rn counts kept rows, the running
        # sum accumulates them), and QUALIFY cuts on the post-pass
        # rank.  Determinism: membership is a pure function of
        # event_id (md5, seed 42), and the same single-ordered-batch
        # + unique (ts, event_id) premise as s11 makes every running
        # value deterministic — the batch replay oracle (filter, then
        # window) applies verbatim; both sides round the clean-2dp
        # running sum like s11.
        eng = _engine(spark, d)
        eng.register_stream_parquet("ev_s20", f"{d}/events.parquet")
        out = eng.sql("""
            select /*+ sample(event_id, 300) */ user_id, event_id,
                   row_number() over (partition by user_id
                       order by ts, event_id) as rn,
                   sum(value) over (partition by user_id
                       order by ts, event_id
                       rows between unbounded preceding and current row)
                       as run_amt
            from ev_s20 qualify rn <= 6""")
        df = _run_stream(eng, out, "append")
        from pyspark.sql import functions as F
        return df.select("user_id", "event_id", "rn",
                         F.round("run_amt", 2).alias("run_amt"))

    return {"s01_stream_time_window": s01,
            "s02_stream_count_window": s02,
            "s03_stream_windowed_join": s03,
            "s04_stream_delta_window": s04,
            "s05_stream_session_window": s05,
            "s06_stream_count_sliding": s06,
            "s07_stream_time_sliding": s07,
            "s08_stream_dedup": s08,
            "s09_stream_quality": s09,
            "s10_stream_hll": s10,
            "s11_stream_running_over": s11,
            "s12_stream_qualify_cap": s12,
            "s13_stream_lag": s13,
            "s14_stream_first_last": s14,
            "s15_stream_nth_value": s15,
            "s16_stream_ranking": s16,
            "s17_stream_rank_ties": s17,
            "s18_stream_ignore_nulls": s18,
            "s19_stream_expr_key_qualify": s19,
            "s20_stream_sample_over": s20}


# ---------------------------------------------------------------------------
# X surface: expression-string Table API (SURVEY §2.8-X, §3.3)
# ---------------------------------------------------------------------------

def _x_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    def x01(s, d):
        return (_engine(s, d).table("events")
                .select("event_id, (value + 1) * 2 as v2, "
                        "event_type.substring(1, 3) as pre")
                .to_df())

    def x02(s, d):
        return (_engine(s, d).table("events")
                .filter("value > 100.0 && !(event_type === 'click')")
                .group_by("user_id")
                .select("user_id, value.min as min_v, value.max as max_v, "
                        "value.count as n")
                .to_df())

    def x03(s, d):
        # bitwise binds tighter than arithmetic in the X grammar
        return (_engine(s, d).table("events")
                .select("event_id, event_id & 7 + 1 as k, "
                        "-event_id as neg, ~event_id as flip, "
                        "value.isNotNull as nn")
                .to_df())

    return {"x01_expr_projection": x01,
            "x02_expr_filter_groupby": x02,
            "x03_expr_bitwise_unary": x03}


# The correctness harness samples queries() in dict order (round 1
# recorded exactly the first 50 keys), so the leading entries are chosen
# to maximize verified operator diversity: every query class — core
# relational, set ops, batch window emulation, temporal joins, the
# expression-string surface, true streaming, and LLM-pipeline ops —
# lands inside any prefix sample, and every one of the first 50 has a
# value-hash oracle.  Entries after the fold are either redundant with a
# leading one (mirror joins, trivial scans) or rows-only by nature
# (hash-seeded / approximate ops).
# The driver's correctness harness samples the FIRST 50 keys of
# queries().  Round 5 rotation (VERDICT r4 item 1 — verification
# closure): (a) an 11-key regression core spanning every §2 family plus
# the r4-repaired NTZ cluster stays in every window; (b) the three
# operators shipped late in r4 with zero driver rows ever (llm33/34/35)
# lead the rotate-ins; (c) the twenty-five NEW r5 entries — four
# oracled companions (llm36-39) and twenty-one new operators/queries
# (llm40 decontamination, llm41 Gopher repetition, llm42 corpus line
# dedup, llm43 winnowed duplicate spans, llm44 token-budget cut,
# llm45 domain mixture, llm46 corpus stats, llm47/48 cross-corpus
# dedup, llm49 classifier score, llm50 k-means, llm51 SemDeDup,
# llm52 LM perplexity, llm53 html strip, llm54 vocab stats, llm55
# multi-epoch mixture, llm56 output sharding, s08 streaming dedup,
# s09 streaming curation, and the final five: llm59 BPE pair stats,
# llm60 NFC normalization, llm61 Misra-Gries heavy hitters, llm62
# distributed BPE tokenizer train+encode, llm63 temperature mixture)
# — get their first rows; (d) 9 oracled queries whose last
# driver-green row is r2/r3 rotate back in (the remaining seventeen
# r2/r3-green queries sit just below the fold, see the fold note).
# Union(r02..r05) then gives all but those seventeen of the 109
# oracled queries a driver-green row, with llm33-63/s08/s09 green for
# the first time.
_PRIORITY = [
    # The driver samples the FIRST 50 keys below for CORRECTNESS rows
    # each round.  Window composition and full rotation history live
    # in COVERAGE.md ("Driver-window rotation ledger") — this list
    # stays a registry.  NOTE on rows-only keys: a key with no
    # oracle_sql() entry produces a driver row with rows_match /
    # schema_match NULL ("no_oracle") — the driver skips ALL
    # comparison, so its row proves only that the config EXECUTES
    # driver-side without error (run-only evidence, r12 verdict item
    # 5).  The rows-only re-entries below buy exactly that, nothing
    # stronger — do not report such rows as verified.
    # Round-14 window (VERDICT r13 items 1-2, 4; arithmetic
    # 8+23+2+1+2+14 = 50):
    # regression core 8; the 23-key r9 tail the r13 ledger named as
    # r14 leaders (llm42/llm43/llm45-48 first — they lent their r13
    # slots to the late r13 first rows); TWO rows-only RE-ENTRIES
    # (llm20 + llm21 — VERDICT r13 item 2 doubles the cadence so the
    # six never-cleanly-sampled run-only keys all have post-fix rows
    # by r16: llm14+llm15 next in r15, llm22+llm25 in r16); the ONE
    # new r14 surface (q94 hybrid_rrf hint — the RRF dialect form,
    # VERDICT item 4, taking an r10-green slot per the new-surfaces
    # rule); fresh rows for the two r14-touched families (q92: the
    # bm25 hint's resolution path was refactored onto the shared
    # SCORE_HINTS map that q94 introduced — second-consecutive-sample
    # allowed under the touched-code exception; llm75: the
    # cosine_topk_batch missing-id validation was rewritten to
    # list-level isin coercion — same exception); then the 14 OLDEST
    # r10 greens in ledger order.  The remaining 27 r10 greens wait
    # below the fold and lead the r15 rotation.
    # -- regression core (one per SURVEY §2 family) --
    "q01_pricing_summary", "q03_join_group", "q35_asof_join",
    "q38_rollup_timeseries", "s01_stream_time_window", "llm01_dedup_exact",
    "x01_expr_projection", "q40_update_delete",
    # -- the 23-key r9 tail (stalest value-oracled keys) --
    "llm42_line_dedup", "llm43_dup_spans", "llm45_domain_mixture",
    "llm46_corpus_stats", "llm47_cross_dedup_pairs", "llm48_dedup_against",
    "llm49_classifier_score", "llm50_kmeans", "llm51_semdedup",
    "llm52_lm_perplexity", "llm53_html_strip", "llm54_vocab_stats",
    "llm55_mixture_epochs", "llm56_shard_assign", "llm57_ann_quantized",
    "llm58_curation_report", "llm59_bpe_pairs", "llm60_nfc_normalize",
    "llm63_mixture_temperature", "llm67_ngram_novelty",
    "llm69_length_quantiles", "llm70_topk_quality", "llm71_length_outliers",
    # -- rows-only re-entries x2 (run-only driver evidence, see note) --
    "llm20_split_dataset", "llm21_pack_sequences",
    # -- FIRST row: new r14 surface --
    "q94_hybrid_rrf_hint",
    # -- fresh rows for the r14-touched families --
    "q92_bm25_hint", "llm75_ann_topk_batch",
    # -- 14 oldest r10 greens (ledger order) --
    "q18_case_arith", "q20_comma_from", "q21_between_like_null",
    "q22_agg_distinct", "q23_params", "q24_star_scoped", "q25_dual",
    "q28_count_tumbling", "q31_delta_tumbling", "q33_derived_stream",
    "x02_expr_filter_groupby", "s05_stream_session_window",
    "s07_stream_time_sliding", "llm03_dedup_minhash_lsh",
    # --- fold: entries below are outside the 50-entry prefix sample;
    #     all stay value-checked by the per-session pytest oracle
    #     sweep (sf0.001) and tools/rehearse.py --all (sf0.01).
    #     Ordered by next-staleness: the 27 remaining r10 greens lead
    #     the r15 rotation, then the r11 greens, the r12 greens, and
    #     the r13 greens (freshest, sampled last).
    # r10 greens (oldest driver evidence below the fold — lead r15)
    "llm05_dedup_embedding", "llm06_ann_topk_bruteforce", "llm09_lang_id",
    "llm10_quality_score", "llm11_fingerprint", "llm12_multimodal_decode",
    "llm16_ann_ivf_exhaustive", "llm17_dup_clusters",
    "llm18_chunk_documents", "llm19_top_terms_tfidf",
    "llm23_seeded_shuffle", "llm24_stratified_sample",
    "llm61_heavy_hitters", "llm64_hll_registers", "llm65_cms_counts",
    "llm66_bloom_decontaminate", "llm68_soft_dedup", "llm72_domain_cap",
    "s11_stream_running_over", "s12_stream_qualify_cap",
    "s13_stream_lag", "q81_mixture_hint", "s14_stream_first_last",
    "q82_mixture_table_hint", "s15_stream_nth_value",
    "q80_token_budget_hint", "llm44_token_budget",
    # r11 greens
    "s16_stream_ranking", "s17_stream_rank_ties", "q83_ignore_nulls",
    "q84_mixture_temperature_hint", "s18_stream_ignore_nulls",
    "llm73_priority_sample", "q85_priority_sample_hint",
    "llm74_random_projection", "q86_merge_upsert", "q87_merge_sync",
    "q06_full_join",
    "q10_having", "q07_cross_join", "q42_salt_hint", "q36_range_join",
    "q11_distinct", "q13_in_list", "q17b_union_all",
    "q17c_except", "q19_derived_table",
    "q26_window_tumbling", "q27_window_sliding",
    "q30_snapshot_window", "q32_partitioned_window", "q34_windowed_join",
    "q35_delta_sliding", "q37_session_window", "q39_session_window_fsql",
    "q41_stats_aggs", "s02_stream_count_window",
    "s03_stream_windowed_join",
    "s06_stream_count_sliding", "x03_expr_bitwise_unary",
    "llm08_token_stats", "llm13_frame_sample",
    "llm28_simhash_verified_pairs", "llm29_split_verified",
    "llm32_gopher_quality", "llm33_c4_line_filter", "llm34_pii_redact",
    "llm35_dedup_survivors",
    # r12 greens displaced by this rotation (freshest driver
    # evidence, sampled last): the eight r7-leader refreshes, the
    # r12 first rows (less q89/llm75, in-window above for touched
    # code; llm04's run-only row), and the 25 r8 rotate-backs
    "llm26_minhash_verified_pairs", "llm27_ann_lsh_exhaustive",
    "llm30_shuffle_key_verified", "llm31_stratified_verified",
    "q17d_intersect",
    "q29_count_sliding", "s04_stream_delta_window",
    "q88_merge_multi", "s19_stream_expr_key_qualify",
    "llm76_priority_stratified", "llm04_dedup_simhash",
    "q90_merge_star", "llm77_bm25_scores", "q91_sample_hint",
    "q45_cap_hint", "q46_over_rank", "q47_over_running",
    "q48_over_groupagg", "q49_qualify", "q50_cte", "q51_cube", "q52_cast",
    "q43_bucketed_agg", "q44_insert_forms", "llm62_bpe_encode",
    "q53_tpch_q1", "q54_tpch_q6", "q55_tpch_q4", "q56_array",
    "q57_nullsafe", "q59_tpch_q5", "q63_tpch_q14", "q64_tpch_q17",
    "q65_tpch_q18", "q66_tpch_q13", "q72_tpch_q9", "q68_quantified",
    "q69_agg_filter", "q70_group_by_all",

    # r13 greens displaced by this rotation (freshest driver
    # evidence, sampled last): the 17-key r8-tail refreshes, llm07's
    # run-only re-entry row, the six r13 first rows, the q89/llm02
    # touched-code fresh rows, and the 15 r9 rotate-backs
    "q71_lateral", "q74_semi_anti", "q75_pivot", "q76_unpivot",
    "q77_recursive_cte", "q04_left_join", "q14_in_subquery",
    "s08_stream_dedup", "s09_stream_quality", "s10_stream_hll",
    "llm36_pack_verified", "llm37_embdup_lsh_exhaustive",
    "llm38_features_verified", "llm39_pipeline_verified",
    "llm40_decontaminate", "q78_distinct_on", "q79_ilike",
    "llm07_ann_lsh",
    "s20_stream_sample_over", "llm78_hybrid_rrf",
    "llm79_containment_pairs", "q93_tablesample",
    "llm80_containment_capped",
    "q89_priority_stratified_hint", "llm02_dedup_ngram_jaccard",
    "q15_exists", "q02_filter_projection", "q05_right_join",
    "q08_using_join", "q09_rollup", "q12_order_limit_offset",
    "q16_scalar_subquery", "q17a_union",
    "q58_tpch_q3", "q60_tpch_q7", "q61_tpch_q8", "q62_tpch_q10",
    "q67_tpch_q15", "q73_tpch_q22",
    "llm41_gopher_repetition",
]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    out: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    for name, sql in _FSQL.items():
        out[name] = _q(sql, _PARAMS.get(name))
    for name, sql in _SCRIPTS.items():
        out[name] = _script(sql)
    out.update(_llm_queries())
    out.update(_x_queries())
    out.update(_stream_queries())
    out.update(_temporal_queries())
    ordered = {k: out[k] for k in _PRIORITY if k in out}
    ordered.update({k: v for k, v in out.items() if k not in ordered})
    return ordered


# ---------------------------------------------------------------------------
# DuckDB oracles (ANSI SQL on the same parquet views)
# ---------------------------------------------------------------------------

def _rp_oracle(out_dim: int, dim: int, seed: int = 42) -> str:
    """DuckDB replay of random_projection (llm74): the SAME plan-time
    ±1 sign matrix (rp_signs) rendered as a 0.0-SEEDED
    left-associative ± chain over 1-indexed array elements (the seed
    mirrors the Spark side's aggregate fold — it only matters for
    the sign bit of an all-zero result), then the same division by
    sqrt(out_dim) — every step correctly-rounded IEEE, so the match
    is bit-exact."""
    from flink_dsl_spark.llm_ops import rp_signs

    signs = rp_signs(out_dim, dim, seed)
    terms = []
    for j in range(out_dim):
        chain = "0.0 " + " ".join(
            ("+" if signs[j][i] > 0 else "-")
            + f" CAST(embedding[{i + 1}] AS DOUBLE)"
            for i in range(dim))
        terms.append(f"({chain}) / sqrt({out_dim}.0) AS p{j}")
    return (f"SELECT vec_id AS id, {', '.join(terms)} "
            f"FROM embeddings ORDER BY id")


def _bpe_oracle(num_merges: int) -> str:
    """DuckDB replay of bpe_train + bpe_encode (llm62): the same
    weighted pair counts over the word-frequency table, the same
    (cnt desc, pair asc) arg-max tie-break, and merge application as
    a recursive leftmost-single replace — whose fixpoint equals the
    Spark side's greedy aggregate fold (' a a a a a a ' converges to
    'aa aa aa' under both).  Generated per merge iteration because
    each iteration's top pair depends on the previous segmentation."""
    norm = ("list_filter(string_split(trim(regexp_replace("
            "regexp_replace(lower(text), '[^a-z0-9\\s]', ' ', 'g'), "
            "'\\s+', ' ', 'g')), ' '), x -> x <> '')")
    ctes = [
        f"dtoks AS (SELECT doc_id, {norm} AS toks FROM documents)",
        "s0 AS (SELECT w AS word, count(*) AS wc, "
        "' ' || trim(regexp_replace(w, '(.)', '\\1 ', 'g')) || ' ' AS s "
        "FROM (SELECT unnest(toks) AS w FROM dtoks) GROUP BY w)",
    ]
    for i in range(1, num_merges + 1):
        prev = i - 1
        ctes.append(f"""p{i} AS (
            SELECT pr, sum(wc) AS cnt FROM (
                SELECT wc, unnest(list_transform(range(1, len(l)),
                       j -> l[j] || ' ' || l[j+1])) AS pr
                FROM (SELECT wc, string_split(trim(s), ' ') AS l
                      FROM s{prev})) GROUP BY pr)""")
        ctes.append(f"""t{i} AS (
            SELECT ' ' || pr || ' ' AS pat,
                   ' ' || replace(pr, ' ', '') || ' ' AS rep
            FROM p{i} ORDER BY cnt DESC, pr LIMIT 1)""")
        # coalesce to a never-matching pattern ('!' can't appear in a
        # normalized word) so an exhausted pair table passes rows
        # through instead of NULLing the recursion
        pat = f"coalesce((SELECT pat FROM t{i}), ' !none! ')"
        rep = f"coalesce((SELECT rep FROM t{i}), ' !none! ')"
        ctes.append(f"""a{i} AS (
            SELECT word, wc, s FROM s{prev}
            UNION ALL
            SELECT word, wc,
                   substr(s, 1, instr(s, {pat}) - 1) || {rep} ||
                   substr(s, instr(s, {pat}) + len({pat}))
            FROM a{i} WHERE instr(s, {pat}) > 0)""")
        ctes.append(f"s{i} AS (SELECT word, wc, s FROM a{i} "
                    f"WHERE instr(s, {pat}) = 0)")
    ctes.append(
        "pos AS (SELECT doc_id, unnest(range(1, len(toks)+1)) AS pos, "
        "unnest(toks) AS w FROM dtoks)")
    ctes.append(f"""enc AS (
        SELECT p.doc_id,
               string_agg(trim(v.s), ' ' ORDER BY p.pos) AS bpe_tokens,
               CAST(sum(len(string_split(trim(v.s), ' '))) AS BIGINT)
                   AS n_bpe_tokens
        FROM pos p JOIN s{num_merges} v ON p.w = v.word
        GROUP BY p.doc_id)""")
    return ("WITH RECURSIVE " + ",\n".join(ctes) + """
        SELECT d.doc_id AS id,
               coalesce(e.bpe_tokens, '') AS bpe_tokens,
               coalesce(e.n_bpe_tokens, 0) AS n_bpe_tokens
        FROM documents d LEFT JOIN enc e ON d.doc_id = e.doc_id""")


def oracle_sql() -> dict[str, str]:
    o = _oracle_sql_base()
    # llm62: full tokenizer-train + encode replay (see _bpe_oracle)
    o["llm62_bpe_encode"] = _bpe_oracle(3)
    # llm74: sign-matrix replay generated from rp_signs (see
    # _rp_oracle) — bit-exact, no libm in the chain
    o["llm74_random_projection"] = _rp_oracle(4, 64)
    # llm03: the production 16x4 banding exact-Jaccard-verifies every
    # candidate, so its output VALUES are hash-free; banding only
    # bounds recall, and on the gate corpora the config recovers the
    # complete >=0.8 pair set (pinned at sf0.001 by
    # test_llm03_banding_recall_is_full and at sf0.01 by the
    # per-session rehearsal sweep), so llm26's exact-shingle-Jaccard
    # SQL applies verbatim
    o["llm03_dedup_minhash_lsh"] = o["llm26_minhash_verified_pairs"]
    # llm80: max_posting_size=450 exceeds the corpus' largest posting
    # at both oracle SFs (399 / 394 — the cap never engages), so the
    # capped code path is exhaustive-equivalent and llm79's exact
    # containment SQL applies verbatim (the llm03/llm26 pattern)
    o["llm80_containment_capped"] = o["llm79_containment_pairs"]
    # llm23: the md5 shuffle key is llm30's oracled premise; with the
    # key value-exact, the rank is its dense 0-based order (keys are
    # 60-bit md5 values — collision-free on any realistic corpus, so
    # the ordering is total and the rank deterministic)
    o["llm23_seeded_shuffle"] = """
        WITH h AS (SELECT doc_id,
                          CAST(concat('0x', substr(md5(concat(
                               CAST(doc_id AS VARCHAR), ':', '7')),
                               1, 15)) AS BIGINT) AS shuffle_key
                   FROM documents)
        SELECT doc_id, shuffle_key,
               CAST(row_number() OVER (ORDER BY shuffle_key) - 1
                    AS BIGINT) AS shuffle_rank
        FROM h"""
    # llm24: stratified sampling over the PREDICTED language — llm09's
    # already-oracled lang CTE composed with llm31's bucket filter
    o["llm24_stratified_sample"] = f"""
        WITH lang AS ({o['llm09_lang_id']}),
        b AS (SELECT id, lang_pred, lang_score,
                     CAST(concat('0x', substr(md5(concat(
                          CAST(id AS VARCHAR), ':', '7')), 1, 15))
                          AS BIGINT) % 1000000 AS bucket
              FROM lang)
        SELECT id, lang_pred, lang_score FROM b
        WHERE (lang_pred = 'en' AND bucket < 500000)
           OR (lang_pred = 'de' AND bucket < 250000)
           OR (lang_pred = 'fr' AND bucket < 250000)"""
    # the streaming HLL is a pure streaming aggregation in complete
    # mode, so the batch register oracle applies verbatim
    o["s10_stream_hll"] = o["llm64_hll_registers"]
    # s11: streaming running OVER == the batch cumulative window when
    # the availableNow source is one ordered batch and (ts, event_id)
    # is unique — integral counts exact, the double running sum adds
    # in the same sequence as DuckDB's cumulative frame (r8 premise);
    # both sides round the clean-2dp sums for belt-and-braces
    o["s11_stream_running_over"] = """
        WITH w AS (SELECT user_id, event_id,
                          sum(value) OVER win AS run_sum,
                          count(*) OVER win AS run_n,
                          max(value) OVER win AS run_max
                   FROM events
                   WINDOW win AS (PARTITION BY user_id
                                  ORDER BY ts, event_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW))
        SELECT user_id, event_id, round(run_sum, 2) AS run_sum,
               CAST(run_n AS BIGINT) AS run_n,
               round(run_max, 2) AS run_max
        FROM w"""
    # s12: streaming QUALIFY cap == the batch cumulative-count filter
    # (same single-ordered-batch + unique (ts, event_id) premise)
    o["s12_stream_qualify_cap"] = """
        WITH w AS (SELECT user_id, event_id,
                          count(*) OVER (PARTITION BY user_id
                              ORDER BY ts, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS rn
                   FROM events)
        SELECT user_id, event_id, CAST(rn AS BIGINT) AS rn
        FROM w WHERE rn <= 3"""
    # s13: streaming lag == the batch lag window (same
    # single-ordered-batch + unique (ts, event_id) premise as s11);
    # lag returns the input type, so only DuckDB's HUGEINT-free
    # bigint needs no cast — cast anyway for belt-and-braces, and
    # round the clean-2dp running sum like s11
    o["s13_stream_lag"] = """
        WITH w AS (SELECT user_id, event_id,
                          lag(event_type, 1, 'none') OVER win
                              AS prev_type,
                          lag(event_id, 2) OVER win AS prev2_id,
                          sum(value) OVER (PARTITION BY user_id
                              ORDER BY ts, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS run_sum
                   FROM events
                   WINDOW win AS (PARTITION BY user_id
                                  ORDER BY ts, event_id))
        SELECT user_id, event_id, prev_type,
               CAST(prev2_id AS BIGINT) AS prev2_id,
               round(run_sum, 2) AS run_sum
        FROM w"""
    # s14: streaming first_value/last_value == the batch value-window
    # (same single-ordered-batch + unique (ts, event_id) premise as
    # s11); values pass through untouched, so no rounding is needed —
    # only the count casts out of DuckDB's HUGEINT
    o["s14_stream_first_last"] = """
        WITH w AS (SELECT user_id, event_id,
                          first_value(event_type) OVER win
                              AS first_type,
                          first_value(value) OVER win AS first_amt,
                          last_value(value) OVER win AS cur_amt,
                          count(*) OVER win AS run_n
                   FROM events
                   WINDOW win AS (PARTITION BY user_id
                                  ORDER BY ts, event_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW))
        SELECT user_id, event_id, first_type, first_amt, cur_amt,
               CAST(run_n AS BIGINT) AS run_n
        FROM w"""
    # s15: streaming nth_value == the batch value window under the
    # explicit running ROWS frame (same single-ordered-batch + unique
    # (ts, event_id) premise as s11); values pass through untouched,
    # only the count casts out of DuckDB's HUGEINT
    o["s15_stream_nth_value"] = """
        WITH w AS (SELECT user_id, event_id,
                          nth_value(event_type, 3) OVER win
                              AS third_type,
                          nth_value(value, 2) OVER win AS second_amt,
                          count(*) OVER win AS run_n
                   FROM events
                   WINDOW win AS (PARTITION BY user_id
                                  ORDER BY ts, event_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW))
        SELECT user_id, event_id, third_type, second_amt,
               CAST(run_n AS BIGINT) AS run_n
        FROM w"""
    # s16: streaming ranking trio == the batch ranking windows under
    # the unique (ts, event_id) order (same single-ordered-batch
    # premise as s11); Spark ranking functions are INT32, DuckDB's
    # BIGINT — cast (the r8 OVER premise)
    o["s16_stream_ranking"] = """
        WITH w AS (SELECT user_id, event_id,
                          row_number() OVER win AS rn,
                          rank() OVER win AS rnk,
                          dense_rank() OVER win AS drnk
                   FROM events
                   WINDOW win AS (PARTITION BY user_id
                                  ORDER BY ts, event_id))
        SELECT user_id, event_id, CAST(rn AS INT) AS rn,
               CAST(rnk AS INT) AS rnk, CAST(drnk AS INT) AS drnk
        FROM w WHERE rn <= 5"""
    # s17: rank/dense_rank under heavy ties are functions of the
    # ORDER BY value alone, so the batch oracle applies even though
    # peer arrival order is arbitrary (row_number would not be
    # deterministic here and is deliberately absent)
    o["s17_stream_rank_ties"] = """
        WITH w AS (SELECT user_id, event_id, event_type,
                          rank() OVER win AS rnk,
                          dense_rank() OVER win AS drnk
                   FROM events
                   WINDOW win AS (PARTITION BY user_id
                                  ORDER BY event_type))
        SELECT user_id, event_id, event_type, CAST(rnk AS INT) AS rnk,
               CAST(drnk AS INT) AS drnk
        FROM w WHERE drnk <= 2"""
    # s18: streaming IGNORE NULLS == the batch null-treatment windows
    # (DuckDB spells the treatment inside the parens); doubles pass
    # through untouched, no casts needed.  Same single-ordered-batch
    # premise as s11.
    o["s18_stream_ignore_nulls"] = """
        WITH w AS (SELECT user_id, event_id,
                          lag(CASE WHEN value < 50.0 THEN NULL ELSE
                                  value END, 1, -1.0 IGNORE NULLS)
                              OVER nofr AS prev_amt,
                          first_value(CASE WHEN value < 50.0 THEN NULL
                                  ELSE value END IGNORE NULLS)
                              OVER win AS first_amt,
                          last_value(CASE WHEN value < 50.0 THEN NULL
                                  ELSE value END IGNORE NULLS)
                              OVER win AS cur_amt,
                          nth_value(CASE WHEN value < 50.0 THEN NULL
                                  ELSE value END, 2 IGNORE NULLS)
                              OVER win AS second_amt
                   FROM events
                   WINDOW nofr AS (PARTITION BY user_id
                                   ORDER BY ts, event_id),
                          win AS (PARTITION BY user_id
                                  ORDER BY ts, event_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW))
        SELECT user_id, event_id, prev_amt, first_amt, cur_amt,
               second_amt
        FROM w"""
    # s19: expression partition key + QUALIFY == the batch ranking
    # window over the same derived key (unique (ts, event_id) order,
    # same single-ordered-batch premise as s11); Spark ranking is
    # INT32, DuckDB's BIGINT — cast
    o["s19_stream_expr_key_qualify"] = """
        WITH w AS (SELECT user_id, event_id,
                          row_number() OVER win AS rn,
                          rank() OVER win AS rnk
                   FROM events
                   WINDOW win AS (PARTITION BY user_id % 4
                                  ORDER BY ts, event_id))
        SELECT user_id, event_id, CAST(rn AS INT) AS rn,
               CAST(rnk AS INT) AS rnk
        FROM w WHERE rn <= 7"""
    # s20: the sample hint's hash-residue membership (the q91 rule,
    # incl. the explicit NULL-id exclusion DuckDB's concat needs)
    # REPLAYED BEFORE the batch cumulative window — the streaming
    # side filters per-row before its one stateful pass, so the
    # composition is exactly filter-then-window (same
    # single-ordered-batch premise as s11; rounded 2dp sums both
    # sides)
    o["s20_stream_sample_over"] = """
        WITH f AS (SELECT user_id, event_id, value, ts FROM events
                   WHERE event_id IS NOT NULL
                     AND CAST(concat('0x', substr(md5(concat(
                         CAST(event_id AS VARCHAR), ':', '42')),
                         1, 15)) AS BIGINT) % 1000 < 300),
        w AS (SELECT user_id, event_id,
                     row_number() OVER win AS rn,
                     sum(value) OVER (PARTITION BY user_id
                         ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING
                         AND CURRENT ROW) AS run_amt
              FROM f
              WINDOW win AS (PARTITION BY user_id
                             ORDER BY ts, event_id))
        SELECT user_id, event_id, CAST(rn AS INT) AS rn,
               round(run_amt, 2) AS run_amt
        FROM w WHERE rn <= 6"""
    # best-k-per-source composes the ALREADY-oracled llm10 quality
    # frame (the llm58 CTE pattern) under an explicit deterministic
    # (quality desc, id) row_number cut
    o["llm70_topk_quality"] = f"""
        WITH q AS ({o['llm10_quality_score']}),
        j AS (SELECT d.source, q.id, q.quality
              FROM q JOIN documents d ON q.id = d.doc_id),
        r AS (SELECT source, id, quality,
                     row_number() OVER (PARTITION BY source
                         ORDER BY quality DESC, id) AS rank
              FROM j)
        SELECT source, id, quality, CAST(rank AS INT) AS rank
        FROM r WHERE rank <= 5 ORDER BY source, rank"""
    # llm58 composes the ALREADY-VERIFIED per-filter oracles as CTEs:
    # one row of funnel numbers aggregated from exactly the frames the
    # llm32/33/34 + llm09/llm10 gates check per-doc (so a divergence in
    # any fragment would surface twice — per-doc and in the report)
    o["llm58_curation_report"] = f"""
        WITH g AS ({o['llm32_gopher_quality']}),
        c AS ({o['llm33_c4_line_filter']}),
        p AS ({o['llm34_pii_redact']}),
        q AS ({o['llm10_quality_score']}),
        l AS ({o['llm09_lang_id']})
        SELECT
          (SELECT count(*) FROM g) AS n_docs,
          (SELECT round(avg(CAST(keep AS INT)), 6) FROM g)
              AS gopher_keep_rate,
          (SELECT CASE WHEN sum(n_lines) = 0 THEN NULL
                  ELSE round(CAST(sum(n_kept) AS DOUBLE) /
                             CAST(sum(n_lines) AS DOUBLE), 6) END
           FROM c) AS c4_line_keep_rate,
          (SELECT round(avg(CASE WHEN n_emails + n_ips + n_phones > 0
                                 THEN 1 ELSE 0 END), 6) FROM p)
              AS pii_doc_rate,
          (SELECT CAST(sum(n_emails + n_ips + n_phones) AS BIGINT)
           FROM p) AS pii_hits,
          (SELECT round(avg(quality), 6) FROM q) AS mean_quality,
          (SELECT count(DISTINCT lang_pred) FROM l) AS n_langs"""
    return o


def _oracle_sql_base() -> dict[str, str]:
    return {
        "q01_pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty,
                   round(sum(l_extendedprice), 2) AS sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
                   round(avg(l_quantity), 4) AS avg_qty,
                   round(avg(l_extendedprice), 4) AS avg_price,
                   count(*) AS count_order
            FROM lineitem GROUP BY l_returnflag, l_linestatus
            ORDER BY l_returnflag, l_linestatus""",
        "q02_filter_projection": """
            SELECT event_id, event_type, value FROM events WHERE value > 100.0""",
        "q03_join_group": """
            SELECT n_name, count(*) AS num_orders,
                   round(sum(o_totalprice), 2) AS revenue
            FROM orders
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            GROUP BY n_name""",
        # q42: salting changes only physical distribution — the oracle
        # is the plain unsalted join
        "q42_salt_hint": """
            SELECT n_name, count(*) AS num_customers,
                   round(sum(c_acctbal), 2) AS balance
            FROM customer JOIN nation ON c_nationkey = n_nationkey
            GROUP BY n_name""",
        # q45: replay the cap's seeded rank-and-filter (md5 id hash,
        # seed 42 — the llm72 pattern) over the WHERE-filtered rows,
        # then the same aggregate; sum cast to BIGINT (DuckDB sums
        # BIGINT into HUGEINT)
        "q45_cap_hint": """
            WITH f AS (SELECT source, doc_id, n_chars FROM documents
                       WHERE n_chars > 100),
            h AS (SELECT source, doc_id, n_chars,
                         CAST(concat('0x', substr(md5(concat(
                              CAST(doc_id AS VARCHAR), ':', '42')),
                              1, 15)) AS BIGINT) AS hh
                  FROM f),
            r AS (SELECT source, n_chars,
                         row_number() OVER (PARTITION BY source
                             ORDER BY hh, doc_id) AS rk
                  FROM h)
            SELECT source, count(*) AS num_docs,
                   CAST(sum(n_chars) AS BIGINT) AS total_chars
            FROM r WHERE rk <= 10 GROUP BY source""",
        # q80: the token_budget hint's running-sum prefix replayed in
        # SQL — same 60-bit md5 key, same (key, doc_id) order, ROWS
        # running total <= budget, then the same aggregate
        "q80_token_budget_hint": """
            WITH h AS (SELECT lang, doc_id, n_chars,
                         CAST(concat('0x', substr(md5(concat(
                              CAST(doc_id AS VARCHAR), ':', '42')),
                              1, 15)) AS BIGINT) AS hh
                  FROM documents),
            c AS (SELECT lang, n_chars,
                         sum(n_chars) OVER (ORDER BY hh, doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS cum
                  FROM h)
            SELECT lang, count(*) AS num_docs,
                   CAST(sum(n_chars) AS BIGINT) AS total_chars
            FROM c WHERE cum <= 75000 GROUP BY lang""",
        # q81: the mixture hint's rate algebra replayed in SQL (the
        # llm45 premise — identical double arithmetic both engines):
        # per-domain token totals -> feasible total T = min(tok/w) ->
        # keep-rate threshold -> md5 id-hash membership -> aggregate
        "q81_mixture_hint": """
            WITH dom AS (SELECT source AS domain,
                                CAST(sum(n_chars) AS DOUBLE) AS tok,
                                CASE source WHEN 'src0' THEN 0.4
                                            WHEN 'src1' THEN 0.3
                                            WHEN 'src2' THEN 0.2
                                            WHEN 'src3' THEN 0.1
                                END AS w
                         FROM documents
                         WHERE source IN ('src0','src1','src2','src3')
                         GROUP BY source),
            tot AS (SELECT min(tok / w) AS total FROM dom),
            r AS (SELECT domain,
                         CAST(round(least(1.0, w * tot.total / tok)
                                    * 1000000) AS BIGINT) AS thresh
                  FROM dom, tot)
            SELECT d.source, count(*) AS num_docs,
                   CAST(sum(d.n_chars) AS BIGINT) AS total_chars
            FROM documents d JOIN r ON d.source = r.domain
            WHERE CAST(concat('0x', substr(md5(concat(
                      CAST(d.doc_id AS VARCHAR), ':', '42')), 1, 15))
                      AS BIGINT) % 1000000 < r.thresh
            GROUP BY d.source""",
        # q82: table-form weights, same shares — the oracle is q81's
        # algebra verbatim (the weights relation is an engine-side
        # detail; DuckDB sees the settled shares)
        "q82_mixture_table_hint": """
            WITH dom AS (SELECT source AS domain,
                                CAST(sum(n_chars) AS DOUBLE) AS tok,
                                CASE source WHEN 'src0' THEN 0.4
                                            WHEN 'src1' THEN 0.3
                                            WHEN 'src2' THEN 0.2
                                            WHEN 'src3' THEN 0.1
                                END AS w
                         FROM documents
                         WHERE source IN ('src0','src1','src2','src3')
                         GROUP BY source),
            tot AS (SELECT min(tok / w) AS total FROM dom),
            r AS (SELECT domain,
                         CAST(round(least(1.0, w * tot.total / tok)
                                    * 1000000) AS BIGINT) AS thresh
                  FROM dom, tot)
            SELECT d.source, count(*) AS num_docs,
                   CAST(sum(d.n_chars) AS BIGINT) AS total_chars
            FROM documents d JOIN r ON d.source = r.domain
            WHERE CAST(concat('0x', substr(md5(concat(
                      CAST(d.doc_id AS VARCHAR), ':', '42')), 1, 15))
                      AS BIGINT) % 1000000 < r.thresh
            GROUP BY d.source""",
        # q85: the DLT priority replayed on the WHERE-filtered rows —
        # same md5 60-bit hash, same (h+1)/2^60 uniform, same single
        # division by the weight (llm73's oracle composed with the
        # lang filter)
        "q85_priority_sample_hint": """
            WITH f AS (SELECT doc_id, source, n_chars FROM documents
                       WHERE lang = 'en' AND n_chars > 0
                         AND doc_id IS NOT NULL),
            p AS (SELECT doc_id, source, n_chars,
                         (CAST(CAST(concat('0x', substr(md5(concat(
                              CAST(doc_id AS VARCHAR), ':', '42')),
                              1, 15)) AS BIGINT) + 1 AS DOUBLE)
                          / 1152921504606846976.0)
                         / CAST(n_chars AS DOUBLE) AS pri
                  FROM f)
            SELECT doc_id, source, n_chars FROM p
            ORDER BY pri, doc_id LIMIT 40""",
        # q91: the same 60-bit md5 membership rule the split/shuffle
        # oracles use — hash % 1000 < permille.  doc_id IS NOT NULL
        # mirrors the engine: Spark's concat propagates a NULL id
        # (hash NULL, row filtered) while DuckDB's concat SKIPS NULL
        # args and would hash ':42' (the q85/q89 lesson)
        "q91_sample_hint": """
            SELECT doc_id, source, n_chars FROM documents
            WHERE lang = 'en' AND doc_id IS NOT NULL
              AND CAST(concat('0x', substr(md5(concat(
                      CAST(doc_id AS VARCHAR), ':', '42')), 1, 15))
                      AS BIGINT) % 1000 < 150""",
        # q89: q85's priority replayed per stratum over the filtered
        # rows — row_number over (source, pri, id), cut at k
        "q89_priority_stratified_hint": """
            WITH f AS (SELECT doc_id, source, n_chars FROM documents
                       WHERE lang = 'en' AND n_chars > 0
                         AND doc_id IS NOT NULL),
            p AS (SELECT doc_id, source, n_chars,
                         (CAST(CAST(concat('0x', substr(md5(concat(
                              CAST(doc_id AS VARCHAR), ':', '42')),
                              1, 15)) AS BIGINT) + 1 AS DOUBLE)
                          / 1152921504606846976.0)
                         / CAST(n_chars AS DOUBLE) AS pri
                  FROM f),
            r AS (SELECT *, row_number() OVER (PARTITION BY source
                      ORDER BY pri, doc_id) AS rn
                  FROM p)
            SELECT doc_id, source, n_chars FROM r WHERE rn <= 10""",
        # q92: the llm77 BM25 replay over the FILTERED corpus (the
        # hint applies after WHERE, so N/avgdl/df come from the
        # lang='en' subset; NULL ids excluded like the engine — they
        # could never join back), top-40 joined back to the doc rows
        # — same tokenizer, same Lucene idf, same shared-literal
        # association order, same integer micro-score sum
        "q92_bm25_hint": """
            WITH d0 AS (SELECT doc_id, source, n_chars, text
                        FROM documents
                        WHERE lang = 'en' AND doc_id IS NOT NULL),
            t AS (
              SELECT doc_id AS id,
                     list_filter(string_split(trim(regexp_replace(
                         regexp_replace(lower(text), '[^a-z0-9\\s]',
                                        ' ', 'g'),
                         '\\s+', ' ', 'g')), ' '), x -> x <> '')
                         AS toks
              FROM d0),
            e AS (SELECT id, len(toks) AS dl, unnest(toks) AS term
                  FROM t),
            stats AS (SELECT count(*) AS n_docs,
                             avg(len(toks)) AS avgdl FROM t),
            tf AS (SELECT id, dl, term, count(*) AS tf FROM e
                   WHERE term IN ('data', 'stream', 'window')
                   GROUP BY 1, 2, 3),
            dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
            sc AS (SELECT id,
                          CAST(round(
                              ln((n_docs - df + 0.5)
                                 / (df + 0.5) + 1)
                              * ((tf * (1.2 + 1)) /
                                 (tf + 1.2 * (1 - 0.75
                                              + 0.75 * dl / avgdl)))
                              * 1000000.0, 0) AS BIGINT) AS micro
                   FROM tf JOIN dfq USING (term) CROSS JOIN stats),
            topk AS (SELECT id, sum(micro) / 1000000.0 AS score
                     FROM sc GROUP BY id
                     ORDER BY score DESC, id LIMIT 40)
            SELECT d0.doc_id, d0.source, d0.n_chars,
                   topk.score AS bm25_score
            FROM d0 JOIN topk ON d0.doc_id = topk.id""",
        # q93: the q91 membership rule applied INSIDE the join's left
        # side (relation-level, pre-join), then the grouped count —
        # NULL-id exclusion spelled out as ever (DuckDB concat skips
        # NULL args)
        "q93_tablesample": """
            SELECT c.source, count(*) AS n
            FROM (SELECT * FROM documents
                  WHERE doc_id IS NOT NULL
                    AND CAST(concat('0x', substr(md5(concat(
                        CAST(doc_id AS VARCHAR), ':', '42')), 1, 15))
                        AS BIGINT) % 1000 < 300) c
            JOIN embeddings e ON c.doc_id = e.vec_id
            GROUP BY c.source""",
        # q94: the llm78 hybrid-RRF replay (llm77 BM25 recipe + llm06
        # round-6 cosine, both ranked (score desc, id), fused by the
        # left-associated coalesce(1/(60+r),0) sum in list order —
        # bm25 leg first, cosine second, matching rrf_fusion), with
        # the fused top-10 joined BACK to the input rows carrying the
        # score as rrf_score — the hint's keep-all-columns contract;
        # NULL ids excluded before scoring like the engine
        "q94_hybrid_rrf_hint": """
            WITH j0 AS (SELECT d.doc_id AS id, d.source, d.text,
                               e.embedding
                        FROM documents d
                        JOIN embeddings e ON d.doc_id = e.vec_id
                        WHERE d.doc_id IS NOT NULL),
            t AS (
              SELECT id,
                     list_filter(string_split(trim(regexp_replace(
                         regexp_replace(lower(text), '[^a-z0-9\\s]',
                                        ' ', 'g'),
                         '\\s+', ' ', 'g')), ' '), x -> x <> '')
                         AS toks
              FROM j0),
            e AS (SELECT id, len(toks) AS dl, unnest(toks) AS term
                  FROM t),
            stats AS (SELECT count(*) AS n_docs,
                             avg(len(toks)) AS avgdl FROM t),
            tf AS (SELECT id, dl, term, count(*) AS tf FROM e
                   WHERE term IN ('data', 'stream', 'window')
                   GROUP BY 1, 2, 3),
            dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
            sc AS (SELECT id,
                          CAST(round(
                              ln((n_docs - df + 0.5)
                                 / (df + 0.5) + 1)
                              * ((tf * (1.2 + 1)) /
                                 (tf + 1.2 * (1 - 0.75
                                              + 0.75 * dl / avgdl)))
                              * 1000000.0, 0) AS BIGINT) AS micro
                   FROM tf JOIN dfq USING (term) CROSS JOIN stats),
            bmk AS (SELECT id, sum(micro) / 1000000.0 AS score
                    FROM sc GROUP BY id
                    ORDER BY score DESC, id LIMIT 50),
            bmr AS (SELECT id, row_number() OVER
                        (ORDER BY score DESC, id) AS rank FROM bmk),
            csk AS (SELECT id,
                           round(list_cosine_similarity(
                               embedding::DOUBLE[],
                               (SELECT embedding::DOUBLE[] FROM j0
                                WHERE id = 7)), 6) AS cosine
                    FROM j0 WHERE id <> 7
                    ORDER BY cosine DESC, id LIMIT 50),
            csr AS (SELECT id, row_number() OVER
                        (ORDER BY cosine DESC, id) AS rank FROM csk),
            f AS (SELECT coalesce(b.id, c.id) AS id,
                         coalesce(1.0 / (60 + b.rank), 0.0)
                         + coalesce(1.0 / (60 + c.rank), 0.0) AS rrf
                  FROM bmr b FULL OUTER JOIN csr c ON b.id = c.id),
            topk AS (SELECT id, rrf FROM f
                     ORDER BY rrf DESC, id LIMIT 10)
            SELECT j0.id AS doc_id, j0.source,
                   topk.rrf AS rrf_score
            FROM j0 JOIN topk ON j0.id = topk.id
            ORDER BY rrf_score DESC, doc_id""",
        # q84: q81's algebra with the weights temperature-flattened —
        # the oracle COMPUTES sqrt(w) like the engine does (every
        # root is non-representable, so a literal-weight shortcut
        # cannot satisfy this row)
        "q84_mixture_temperature_hint": """
            WITH dom AS (SELECT source AS domain,
                                CAST(sum(n_chars) AS DOUBLE) AS tok,
                                sqrt(CASE source WHEN 'src0' THEN 0.5
                                            WHEN 'src1' THEN 0.32
                                            WHEN 'src2' THEN 0.18
                                            WHEN 'src3' THEN 0.02
                                END) AS w
                         FROM documents
                         WHERE source IN ('src0','src1','src2','src3')
                         GROUP BY source),
            tot AS (SELECT min(tok / w) AS total FROM dom),
            r AS (SELECT domain,
                         CAST(round(least(1.0, w * tot.total / tok)
                                    * 1000000) AS BIGINT) AS thresh
                  FROM dom, tot)
            SELECT d.source, count(*) AS num_docs,
                   CAST(sum(d.n_chars) AS BIGINT) AS total_chars
            FROM documents d JOIN r ON d.source = r.domain
            WHERE CAST(concat('0x', substr(md5(concat(
                      CAST(d.doc_id AS VARCHAR), ':', '42')), 1, 15))
                      AS BIGINT) % 1000000 < r.thresh
            GROUP BY d.source""",
        # q46/q47: same analytic SQL; DuckDB ranks/counts are BIGINT
        # where Spark's are INT, so the rank column casts
        "q46_over_rank": """
            SELECT o_custkey, o_orderkey, CAST(rn AS INT) AS rn
            FROM (SELECT o_custkey, o_orderkey,
                         row_number() OVER (PARTITION BY o_custkey
                             ORDER BY o_totalprice DESC, o_orderkey) AS rn
                  FROM orders) t
            WHERE rn <= 3""",
        "q47_over_running": """
            SELECT event_id, user_id,
                   count(*) OVER (PARTITION BY user_id
                       ORDER BY ts, event_id) AS nth_event,
                   lag(event_type, 1, 'none') OVER (PARTITION BY user_id
                       ORDER BY ts, event_id) AS prev_type,
                   min(value) OVER (PARTITION BY user_id
                       ORDER BY ts, event_id
                       ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS min3
            FROM events
            WHERE event_type IN ('click', 'view')""",
        # q83: DuckDB spells null treatment inside the parens; doubles
        # pass through untouched (no sums), so no casts needed
        "q83_ignore_nulls": """
            SELECT event_id,
                   lag(CASE WHEN value < 2.0 THEN NULL ELSE value END,
                       2 IGNORE NULLS) OVER (PARTITION BY user_id
                           ORDER BY ts, event_id) AS prev2_amt,
                   lead(CASE WHEN value < 2.0 THEN NULL ELSE value END,
                        1, -1.0 IGNORE NULLS) OVER (PARTITION BY
                           user_id ORDER BY ts, event_id) AS next_amt,
                   first_value(CASE WHEN value < 2.0 THEN NULL ELSE
                       value END IGNORE NULLS) OVER (PARTITION BY
                           user_id ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND
                           CURRENT ROW) AS first_amt
            FROM events""",
        # q48: DuckDB rank -> INT cast, windowed sum-of-count ->
        # HUGEINT -> BIGINT cast
        "q48_over_groupagg": """
            SELECT o_orderstatus, o_orderpriority, count(*) AS n,
                   CAST(rank() OVER (PARTITION BY o_orderstatus
                       ORDER BY count(*) DESC, o_orderpriority)
                       AS INT) AS rk,
                   round(count(*) * 100.0 / CAST(sum(count(*))
                       OVER (PARTITION BY o_orderstatus) AS BIGINT),
                       3) AS pct
            FROM orders
            GROUP BY o_orderstatus, o_orderpriority""",
        # q53-q55: verbatim TPC-H — DuckDB runs the IDENTICAL text
        # (date/interval arithmetic and rounding agree; sums round to
        # 2dp within the pinned premise, as q01/q09 established)
        "q53_tpch_q1": """
            select l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) as sum_qty,
                   round(sum(l_extendedprice), 2) as sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 2)
                       as sum_disc_price,
                   round(sum(l_extendedprice * (1 - l_discount)
                             * (1 + l_tax)), 2) as sum_charge,
                   round(avg(l_quantity), 4) as avg_qty,
                   round(avg(l_extendedprice), 4) as avg_price,
                   round(avg(l_discount), 4) as avg_disc,
                   count(*) as count_order
            from lineitem
            where l_shipdate <= date '1998-12-01' - interval 90 day
            group by l_returnflag, l_linestatus""",
        "q54_tpch_q6": """
            select round(sum(l_extendedprice * l_discount), 2)
                       as revenue
            from lineitem
            where l_shipdate >= date '1996-01-01'
              and l_shipdate < date '1996-01-01' + interval 1 year
              and l_discount between 0.05 and 0.07
              and l_quantity < 24""",
        "q55_tpch_q4": """
            select o_orderpriority, count(*) as order_count
            from orders
            where o_orderdate >= date '1996-07-01'
              and o_orderdate < date '1996-07-01' + interval 3 months
              and exists (select * from lineitem
                          where l_orderkey = o_orderkey
                            and l_shipdate > o_orderdate)
            group by o_orderpriority""",
        # q58-q67 (TPC-H wave 2): q59/q63/q65/q58/q62/q64/q66/q67 run
        # the IDENTICAL text; q60/q61 differ ONLY in casting
        # extract(year ...) to INT (DuckDB returns BIGINT, Spark INT).
        # Sums of whole-valued l_quantity are exact; money sums round
        # to 2dp within the pinned premise; LIMIT cuts order on the
        # rounded measure + a unique key.
        "q58_tpch_q3": """
            select l_orderkey,
                   cast(round(sum(cast(l_extendedprice
                                       as decimal(14,2))
                                  * (1 - cast(l_discount
                                              as decimal(6,2)))),
                              2) as double) as revenue,
                   o_orderdate
            from customer, orders, lineitem
            where c_mktsegment = 'BUILDING'
              and c_custkey = o_custkey and l_orderkey = o_orderkey
              and o_orderdate < date '1997-03-15'
              and l_shipdate > date '1997-03-15'
            group by l_orderkey, o_orderdate
            order by revenue desc, l_orderkey
            limit 10""",
        "q59_tpch_q5": """
            select n_name,
                   round(sum(l_extendedprice * (1 - l_discount)), 2)
                       as revenue
            from customer, orders, lineitem, supplier, nation, region
            where c_custkey = o_custkey and l_orderkey = o_orderkey
              and l_suppkey = s_suppkey and c_nationkey = s_nationkey
              and s_nationkey = n_nationkey
              and n_regionkey = r_regionkey
              and r_name = 'AMERICA'
              and o_orderdate >= date '1996-01-01'
              and o_orderdate < date '1996-01-01' + interval 1 year
            group by n_name""",
        "q60_tpch_q7": """
            select supp_nation, cust_nation, l_year,
                   cast(round(sum(volume), 2) as double) as revenue
            from (select n1.n_name as supp_nation,
                         n2.n_name as cust_nation,
                         cast(extract(year from l_shipdate) as int)
                             as l_year,
                         cast(l_extendedprice as decimal(14,2))
                             * (1 - cast(l_discount as decimal(6,2)))
                             as volume
                  from supplier, lineitem, orders, customer,
                       nation n1, nation n2
                  where s_suppkey = l_suppkey
                    and o_orderkey = l_orderkey
                    and c_custkey = o_custkey
                    and s_nationkey = n1.n_nationkey
                    and c_nationkey = n2.n_nationkey
                    and ((n1.n_name = 'NATION_18'
                          and n2.n_name = 'NATION_19')
                      or (n1.n_name = 'NATION_19'
                          and n2.n_name = 'NATION_18'))
                    and l_shipdate between date '1996-01-01'
                                       and date '1997-12-31'
                 ) as shipping
            group by supp_nation, cust_nation, l_year""",
        "q61_tpch_q8": """
            select o_year,
                   round(cast(sum(case when nation = 'NATION_3'
                                       then volume else 0 end)
                              as double)
                         / cast(sum(volume) as double), 6)
                       as mkt_share
            from (select cast(extract(year from o_orderdate) as int)
                             as o_year,
                         cast(l_extendedprice as decimal(14,2))
                             * (1 - cast(l_discount
                                         as decimal(6,2)))
                             as volume,
                         n2.n_name as nation
                  from part, supplier, lineitem, orders, customer,
                       nation n1, nation n2, region
                  where p_partkey = l_partkey and s_suppkey = l_suppkey
                    and l_orderkey = o_orderkey
                    and o_custkey = c_custkey
                    and c_nationkey = n1.n_nationkey
                    and n1.n_regionkey = r_regionkey
                    and r_name = 'ASIA'
                    and s_nationkey = n2.n_nationkey
                    and o_orderdate between date '1996-01-01'
                                        and date '1997-12-31'
                    and p_type = 'ECONOMY'
                 ) as all_nations
            group by o_year""",
        "q62_tpch_q10": """
            select c_custkey, c_name,
                   cast(round(sum(cast(l_extendedprice
                                       as decimal(14,2))
                                  * (1 - cast(l_discount
                                              as decimal(6,2)))),
                              2) as double) as revenue,
                   c_acctbal, n_name
            from customer, orders, lineitem, nation
            where c_custkey = o_custkey and l_orderkey = o_orderkey
              and o_orderdate >= date '1996-10-01'
              and o_orderdate < date '1996-10-01' + interval 3 months
              and l_returnflag = 'R' and c_nationkey = n_nationkey
            group by c_custkey, c_name, c_acctbal, n_name
            order by revenue desc, c_custkey
            limit 20""",
        "q63_tpch_q14": """
            select round(100.00 * sum(case when p_type like 'PROMO%'
                                           then l_extendedprice
                                                * (1 - l_discount)
                                           else 0 end)
                         / sum(l_extendedprice * (1 - l_discount)), 4)
                       as promo_revenue
            from lineitem, part
            where l_partkey = p_partkey
              and l_shipdate >= date '1996-09-01'
              and l_shipdate < date '1996-09-01' + interval 1 month""",
        "q64_tpch_q17": """
            select round(sum(l_extendedprice) / 7.0, 2) as avg_yearly
            from lineitem, part
            where p_partkey = l_partkey and p_brand = 'Brand#12'
              and l_quantity < (select 0.2 * avg(l_quantity)
                                from lineitem
                                where l_partkey = p_partkey)""",
        "q65_tpch_q18": """
            select c_name, c_custkey, o_orderkey, o_orderdate,
                   o_totalprice, sum(l_quantity) as total_qty
            from customer, orders, lineitem
            where o_orderkey in (select l_orderkey from lineitem
                                 group by l_orderkey
                                 having sum(l_quantity) > 180)
              and c_custkey = o_custkey and o_orderkey = l_orderkey
            group by c_name, c_custkey, o_orderkey, o_orderdate,
                     o_totalprice
            order by o_totalprice desc, o_orderkey
            limit 20""",
        "q66_tpch_q13": """
            select c_count, count(*) as custdist
            from (select c_custkey, count(o_orderkey) as c_count
                  from customer left join orders
                       on c_custkey = o_custkey
                  group by c_custkey) as c_orders
            group by c_count""",
        "q67_tpch_q15": """
            with revenue as (
                select l_suppkey as supplier_no,
                       cast(round(sum(cast(l_extendedprice
                                           as decimal(14,2))
                                      * (1 - cast(l_discount
                                                  as decimal(6,2)))),
                                  2) as double) as total_revenue
                from lineitem
                where l_shipdate >= date '1996-01-01'
                  and l_shipdate < date '1996-01-01'
                                   + interval 3 months
                group by l_suppkey)
            select s_suppkey, s_name, total_revenue
            from supplier, revenue
            where s_suppkey = supplier_no
              and total_revenue = (select max(total_revenue)
                                   from revenue)""",
        "q79_ilike": """
            select o_orderpriority, count(*) as n,
                   count(*) filter (where o_orderpriority
                                          not ilike '%urgent%') as calm
            from orders
            where o_orderpriority ilike '%g%'
            group by o_orderpriority""",
        "q78_distinct_on": """
            select distinct on (c_nationkey) c_nationkey, c_custkey,
                   c_acctbal
            from customer
            order by c_nationkey, c_acctbal desc, c_custkey""",
        "q77_recursive_cte": """
            with recursive seq(n) as (
                select 1
                union all
                select n + 1 from seq where n < 25)
            select s.n, count(*) as cnt,
                   cast(sum(n_regionkey) as bigint) as rsum
            from seq s join nation on n_nationkey = s.n - 1
            group by s.n""",
        "q76_unpivot": """
            select measure, count(*) as n, round(sum(val), 2) as total
            from (select p_partkey, cast(p_size as double) as p_size,
                         p_retailprice from part) src
            unpivot (val for measure in (p_size as 'size',
                                         p_retailprice as 'price'))
            group by measure""",
        "q75_pivot": """
            select o_orderpriority,
                   round(sum(case when o_orderstatus = 'F'
                                  then o_totalprice end), 2) as f_s,
                   count(case when o_orderstatus = 'F'
                              then 1 end) as f_n,
                   round(sum(case when o_orderstatus = 'O'
                                  then o_totalprice end), 2) as o_s,
                   count(case when o_orderstatus = 'O'
                              then 1 end) as o_n,
                   round(sum(case when o_orderstatus = 'P'
                                  then o_totalprice end), 2) as p_s,
                   count(case when o_orderstatus = 'P'
                              then 1 end) as p_n
            from orders
            group by o_orderpriority""",
        "q74_semi_anti": """
            select 'semi' as leg, o_orderpriority, count(*) as n
            from orders semi join lineitem
              on l_orderkey = o_orderkey and l_quantity > 45
            group by o_orderpriority
            union all
            select 'anti' as leg, o_orderpriority, count(*) as n
            from orders anti join lineitem
              on l_orderkey = o_orderkey and l_quantity > 45
            group by o_orderpriority""",
        # q72/q73: adapted TPC-H Q9/Q22 — identical text except the
        # extract(year) INT cast (q60/q61's premise)
        "q72_tpch_q9": """
            select nation, o_year,
                   cast(round(sum(cast(l_extendedprice as decimal(14,2))
                                  * (1 - cast(l_discount
                                              as decimal(6,2)))),
                              2) as double) as sum_profit
            from (select n_name as nation,
                         cast(extract(year from o_orderdate) as int)
                             as o_year,
                         l_extendedprice, l_discount
                  from part, supplier, lineitem, orders, nation
                  where s_suppkey = l_suppkey and p_partkey = l_partkey
                    and o_orderkey = l_orderkey
                    and s_nationkey = n_nationkey
                    and p_name like '%widget%'
                 ) as profit
            group by nation, o_year""",
        "q73_tpch_q22": """
            select cntrycode, count(*) as numcust,
                   round(sum(c_acctbal), 2) as totacctbal
            from (select c_custkey % 10 as cntrycode, c_acctbal
                  from customer
                  where c_custkey % 10 in (1, 2, 3, 4, 5)
                    and c_acctbal > (select avg(c_acctbal)
                                     from customer
                                     where c_acctbal > 0.00
                                       and c_custkey % 10
                                           in (1, 2, 3, 4, 5))
                    and not exists (select * from orders
                                    where o_custkey = c_custkey
                                      and o_orderpriority
                                          = '1-URGENT')
                 ) as custsale
            group by cntrycode""",
        # q70/q71: GROUP BY ALL and LATERAL are native DuckDB —
        # identical text
        "q70_group_by_all": """
            select o_orderstatus, o_orderpriority, count(*) as n,
                   round(sum(o_totalprice), 2) as s
            from orders
            group by all
            order by all""",
        "q71_lateral": """
            select n_nationkey, t.c_custkey, t.c_acctbal
            from nation,
            lateral (select c_custkey, c_acctbal from customer
                     where c_nationkey = n_nationkey
                     order by c_acctbal desc, c_custkey
                     limit 3) as t
            order by n_nationkey, t.c_custkey""",
        # q68/q69: quantified comparisons and aggregate FILTER are
        # native DuckDB — identical text pins the engine's EXISTS
        # rewrite (incl. the NOT duality) and the CASE desugar
        "q68_quantified": """
            select o_orderpriority, count(*) as n_all,
                   count(*) filter (where not (o_totalprice > all (
                       select l_extendedprice * 10 from lineitem
                       where l_orderkey = o_orderkey))) as n_not_all
            from orders
            where o_totalprice > all (select l_extendedprice * 8
                                      from lineitem
                                      where l_orderkey = o_orderkey)
               or o_totalprice < any (select l_extendedprice
                                      from lineitem
                                      where l_orderkey = o_orderkey)
            group by o_orderpriority""",
        "q69_agg_filter": """
            select o_orderstatus, count(*) as n,
                   count(*) filter (where o_totalprice > 200000)
                       as big,
                   count(distinct o_custkey)
                       filter (where o_orderpriority = '1-URGENT')
                       as cu,
                   round(sum(o_totalprice)
                         filter (where o_orderpriority = '1-URGENT'),
                         2) as urgent_total
            from orders
            group by o_orderstatus""",
        # q57: IS DISTINCT FROM is the ANSI spelling — DuckDB runs
        # the identical text
        "q57_nullsafe": """
            select o_orderstatus is distinct from 'F' as not_f,
                   count(*) as n
            from customer left join orders on c_custkey = o_custkey
            group by o_orderstatus is distinct from 'F'""",
        # q56: DuckDB's native 1-based list indexing matches the
        # engine's try_element_at semantics (NULL out of range)
        "q56_array": """
            select label, count(*) as n,
                   round(cast(min(embedding[1]) as double), 6) as mn,
                   round(cast(max(embedding[1]) as double), 6) as mx
            from embeddings
            where embedding[1] > 0.25
            group by label""",
        # q52: Spark double->long casts TRUNCATE toward zero where
        # DuckDB ROUNDS — the oracle replays with trunc() (DIALECT.md
        # CAST section; min/max are accumulation-free so the premise
        # is exact)
        "q52_cast": """
            SELECT CAST(trunc(o_totalprice / 100000) AS BIGINT)
                       AS bucket,
                   count(*) AS n,
                   CAST(trunc(min(o_totalprice)) AS BIGINT) AS min_p,
                   CAST(trunc(max(o_totalprice)) AS BIGINT) AS max_p
            FROM orders
            GROUP BY CAST(trunc(o_totalprice / 100000) AS BIGINT)""",
        # q51: same CUBE in DuckDB; grouping() -> TINYINT cast (DuckDB
        # returns BIGINT, Spark tinyint)
        "q51_cube": """
            SELECT o_orderstatus, o_orderpriority,
                   CAST(grouping(o_orderstatus) AS TINYINT) AS g_st,
                   CAST(grouping(o_orderpriority) AS TINYINT) AS g_pr,
                   count(*) AS n,
                   round(sum(o_totalprice), 2) AS total
            FROM orders
            GROUP BY CUBE(o_orderstatus, o_orderpriority)""",
        # q50: same WITH in DuckDB; sum-of-BIGINT casts back to BIGINT
        "q50_cte": """
            WITH big AS (
                SELECT o_custkey, o_totalprice FROM orders
                WHERE o_totalprice > 150000),
            agg AS (
                SELECT o_custkey, count(*) AS n,
                       round(sum(o_totalprice), 2) AS spend
                FROM big GROUP BY o_custkey)
            SELECT c_nationkey, count(*) AS customers,
                   CAST(sum(n) AS BIGINT) AS orders_cnt,
                   round(sum(spend), 2) AS total_spend
            FROM agg JOIN customer ON o_custkey = c_custkey
            GROUP BY c_nationkey""",
        # q49: QUALIFY replayed as the desugared derived table (the
        # same rewrite the engine's subquery path uses); DuckDB rank
        # -> INT cast
        "q49_qualify": """
            SELECT o_orderstatus, o_orderpriority, n, total,
                   CAST(rk AS INT) AS rk
            FROM (SELECT o_orderstatus, o_orderpriority,
                         count(*) AS n,
                         round(sum(o_totalprice), 2) AS total,
                         rank() OVER (PARTITION BY o_orderstatus
                             ORDER BY sum(o_totalprice) DESC,
                                      o_orderpriority) AS rk
                  FROM orders
                  GROUP BY o_orderstatus, o_orderpriority) t
            WHERE rk <= 3 AND n > 10""",
        "q04_left_join": """
            SELECT c_custkey, count(o_orderkey) AS cnt
            FROM customer LEFT JOIN orders ON c_custkey = o_custkey
            GROUP BY c_custkey""",
        "q05_right_join": """
            SELECT c_custkey, o_orderkey
            FROM orders RIGHT JOIN customer ON o_custkey = c_custkey
            WHERE o_orderkey IS NULL""",
        "q06_full_join": """
            SELECT c_custkey, s_suppkey
            FROM customer FULL JOIN supplier ON c_custkey = s_suppkey * 20
            WHERE c_custkey IS NULL OR s_suppkey IS NULL""",
        "q07_cross_join": """
            SELECT r_name, n_name FROM region CROSS JOIN nation
            WHERE r_regionkey = 0 AND n_nationkey < 5""",
        "q08_using_join": """
            SELECT a.n_name, b.r_name
            FROM (SELECT n_name, n_regionkey AS rk FROM nation) a
            JOIN (SELECT r_name, r_regionkey AS rk FROM region) b USING (rk)""",
        "q09_rollup": """
            SELECT o_orderstatus, o_orderpriority, count(*) AS cnt,
                   round(sum(o_totalprice), 2) AS total
            FROM orders GROUP BY ROLLUP(o_orderstatus, o_orderpriority)""",
        "q10_having": """
            SELECT o_custkey, count(*) AS cnt FROM orders
            GROUP BY o_custkey
            HAVING count(*) >= 3 AND sum(o_totalprice) > 1000""",
        "q11_distinct": """
            SELECT DISTINCT c_mktsegment, c_nationkey FROM customer""",
        "q12_order_limit_offset": """
            SELECT o_orderkey, o_totalprice FROM orders
            ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 20 OFFSET 5""",
        "q13_in_list": """
            SELECT count(*) AS cnt FROM orders
            WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')""",
        "q14_in_subquery": """
            SELECT c_name FROM customer
            WHERE c_nationkey IN
                  (SELECT n_nationkey FROM nation WHERE n_regionkey = 2)""",
        "q15_exists": """
            SELECT o_orderkey FROM orders o
            WHERE EXISTS (SELECT 1 FROM lineitem l
                          WHERE l.l_orderkey = o.o_orderkey
                            AND l.l_quantity > 45)""",
        "q16_scalar_subquery": """
            SELECT o_orderkey, o_totalprice FROM orders
            WHERE o_totalprice >
                  (SELECT avg(o_totalprice) FROM orders) * 1.5""",
        "q17a_union": """
            SELECT c_nationkey AS k FROM customer
            UNION SELECT s_nationkey AS k FROM supplier""",
        "q17b_union_all": """
            SELECT c_nationkey AS k FROM customer WHERE c_nationkey < 3
            UNION ALL SELECT s_nationkey AS k FROM supplier""",
        "q17c_except": """
            SELECT c_nationkey AS k FROM customer
            EXCEPT SELECT s_nationkey AS k FROM supplier""",
        "q17d_intersect": """
            SELECT c_nationkey AS k FROM customer
            INTERSECT SELECT s_nationkey AS k FROM supplier""",
        "q18_case_arith": """
            SELECT event_id,
                   CASE WHEN value > 100 THEN 'high'
                        WHEN value > 50 THEN 'mid'
                        ELSE 'low' END AS bucket,
                   (event_id % 7) * 3 + 1 AS h,
                   event_id & 15 AS m
            FROM events""",
        "q19_derived_table": """
            SELECT q.et, q.cnt
            FROM (SELECT event_type AS et, count(*) AS cnt
                  FROM events GROUP BY event_type) q
            WHERE q.cnt > 100""",
        "q20_comma_from": """
            SELECT count(*) AS cnt FROM region, nation
            WHERE r_regionkey = n_regionkey""",
        "q21_between_like_null": """
            SELECT count(*) AS cnt FROM part
            WHERE p_retailprice BETWEEN 905 AND 915
              AND p_name LIKE '%red%' AND p_brand IS NOT NULL""",
        "q22_agg_distinct": """
            SELECT count(DISTINCT c_nationkey) AS dc,
                   round(sum(DISTINCT c_acctbal), 2) AS sd
            FROM customer""",
        "q23_params": """
            SELECT count(*) AS cnt FROM events
            WHERE event_type = 'click' AND value > 50.0""",
        "q24_star_scoped": "SELECT r.* FROM region r",
        "q25_dual": "SELECT 1 + 2 * 3 AS x, upper('ab') AS s",
        "q26_window_tumbling": """
            SELECT event_type, count(*) AS cnt, round(sum(value), 2) AS sv,
                   make_timestamp(CAST(floor(epoch(ts)/3600) AS BIGINT)
                                  * 3600 * 1000000) AS window_start,
                   make_timestamp((CAST(floor(epoch(ts)/3600) AS BIGINT) + 1)
                                  * 3600 * 1000000) AS window_end
            FROM events GROUP BY event_type, window_start, window_end""",
        "q27_window_sliding": """
            WITH b AS (SELECT *, CAST(floor(epoch(ts)/3600) AS BIGINT) AS hb
                       FROM events),
                 u AS (SELECT *, unnest([hb - 1, hb]) AS ws FROM b)
            SELECT event_type, count(*) AS cnt,
                   make_timestamp(ws * 3600 * 1000000) AS window_start,
                   make_timestamp((ws + 2) * 3600 * 1000000) AS window_end
            FROM u GROUP BY event_type, ws""",
        "q28_count_tumbling": """
            WITH r AS (SELECT *, row_number() OVER (ORDER BY ts) AS rn
                       FROM events)
            SELECT count(*) AS cnt, round(sum(value), 2) AS sv,
                   CAST(floor((rn - 1) / 100) AS BIGINT) AS window_no
            FROM r GROUP BY window_no""",
        "q29_count_sliding": """
            WITH r AS (SELECT *, row_number() OVER (ORDER BY ts) AS rn
                       FROM events),
                 t AS (SELECT *, unnest([CAST(ceil(rn/100.0)*100 AS BIGINT),
                                         CAST(ceil(rn/100.0)*100 + 100 AS BIGINT)])
                                 AS trig FROM r)
            SELECT count(*) AS cnt, trig AS trigger
            FROM t WHERE trig <= (SELECT max(rn) FROM r)
            GROUP BY trig""",
        "q30_snapshot_window": """
            SELECT event_id, value FROM events
            WHERE ts > (SELECT max(ts) FROM events) - INTERVAL 30 MINUTE""",
        "q31_delta_tumbling": """
            SELECT count(*) AS cnt,
                   CAST(floor(value / 20) AS BIGINT) AS window_no
            FROM events GROUP BY window_no""",
        "q32_partitioned_window": """
            SELECT user_id, count(*) AS cnt,
                   make_timestamp(CAST(floor(epoch(ts)/21600) AS BIGINT)
                                  * 21600 * 1000000) AS window_start,
                   make_timestamp((CAST(floor(epoch(ts)/21600) AS BIGINT) + 1)
                                  * 21600 * 1000000) AS window_end
            FROM events GROUP BY user_id, window_start, window_end""",
        "q33_derived_stream": """
            SELECT event_id AS id, value AS speed FROM events
            WHERE value > 100""",
        "q41_stats_aggs": """
            SELECT event_type,
                   round(stddev_samp(value), 4) AS sd,
                   round(var_samp(value), 4) AS vr,
                   round(corr(value, user_id), 6) AS cr,
                   round(covar_samp(value, user_id), 4) AS cv
            FROM events GROUP BY event_type""",
        "q40_update_delete": """
            WITH m1 AS (
              SELECT event_id,
                     CASE WHEN value > 100 THEN upper(event_type)
                          ELSE event_type END AS event_type,
                     CASE WHEN value > 100 THEN value * 2
                          ELSE value END AS value
              FROM events)
            SELECT event_id, event_type, round(value, 2) AS value
            FROM m1 WHERE value > 50 OR value IS NULL""",
        # q86: the merge replayed as LEFT JOIN (update side) + anti
        # join (insert side) UNION ALL — the same CASE-mapping shape
        # as q40's oracle
        "q86_merge_upsert": """
            WITH src AS (SELECT event_id + 500 AS sid, value AS sv
                         FROM events WHERE event_id % 10 = 0),
            upd AS (SELECT e.event_id,
                           CASE WHEN s.sid IS NOT NULL THEN 'MERGED'
                                ELSE e.event_type END AS event_type,
                           CASE WHEN s.sid IS NOT NULL THEN s.sv * 2
                                ELSE e.value END AS value
                    FROM events e LEFT JOIN src s ON e.event_id = s.sid),
            ins AS (SELECT s.sid AS event_id,
                           'inserted' AS event_type, s.sv AS value
                    FROM src s LEFT JOIN events e ON e.event_id = s.sid
                    WHERE e.event_id IS NULL)
            SELECT event_id, event_type, round(value, 2) AS value
            FROM upd
            UNION ALL
            SELECT event_id, event_type, round(value, 2) AS value
            FROM ins""",
        # q87: full sync = inner join (survivors are exactly the
        # matched rows, updated) UNION ALL the anti-joined inserts —
        # the by-source delete removes everything else
        "q87_merge_sync": """
            WITH src AS (SELECT event_id + 500 AS sid, value AS sv
                         FROM events WHERE event_id % 4 = 0),
            upd AS (SELECT e.event_id, 'SYNCED' AS event_type,
                           s.sv AS value
                    FROM events e JOIN src s ON e.event_id = s.sid),
            ins AS (SELECT s.sid AS event_id,
                           'added' AS event_type, s.sv AS value
                    FROM src s LEFT JOIN events e ON e.event_id = s.sid
                    WHERE e.event_id IS NULL)
            SELECT event_id, event_type, round(value, 2) AS value
            FROM upd
            UNION ALL
            SELECT event_id, event_type, round(value, 2) AS value
            FROM ins""",
        # q88: the ordered clause ladder replayed as CASE routing —
        # the delete clause is the WHERE, the update ladder and the
        # insert router are CASE chains in statement order (a later
        # arm can only fire when the earlier conds are false, which
        # CASE gives for free)
        "q88_merge_multi": """
            WITH src AS (SELECT event_id + 500 AS sid, value AS sv
                         FROM events WHERE event_id % 5 = 0),
            upd AS (SELECT e.event_id,
                           CASE WHEN s.sid IS NULL THEN e.event_type
                                WHEN s.sv > 100 THEN 'HOT'
                                ELSE 'WARM' END AS event_type,
                           CASE WHEN s.sid IS NOT NULL
                                     AND s.sv > 100 THEN s.sv
                                ELSE e.value END AS value
                    FROM events e LEFT JOIN src s ON e.event_id = s.sid
                    WHERE s.sid IS NULL OR s.sv IS NOT NULL),
            ins AS (SELECT s.sid AS event_id,
                           CASE WHEN s.sv > 100 THEN 'newhot'
                                ELSE 'newcold' END AS event_type,
                           s.sv AS value
                    FROM src s LEFT JOIN events e ON e.event_id = s.sid
                    WHERE e.event_id IS NULL)
            SELECT event_id, event_type, round(value, 2) AS value
            FROM upd
            UNION ALL
            SELECT event_id, event_type, round(value, 2) AS value
            FROM ins""",
        # q90: SET * / INSERT * replayed as the same left-join CASE
        # copy + anti-join insert, all columns by name
        "q90_merge_star": """
            WITH src AS (SELECT event_id + 500 AS event_id,
                                'SYNCED' AS event_type, value
                         FROM events WHERE event_id % 8 = 0),
            upd AS (SELECT e.event_id,
                           CASE WHEN s.event_id IS NOT NULL
                                THEN s.event_type
                                ELSE e.event_type END AS event_type,
                           CASE WHEN s.event_id IS NOT NULL
                                THEN s.value
                                ELSE e.value END AS value
                    FROM events e
                    LEFT JOIN src s ON e.event_id = s.event_id),
            ins AS (SELECT s.event_id, s.event_type, s.value
                    FROM src s
                    LEFT JOIN events e ON e.event_id = s.event_id
                    WHERE e.event_id IS NULL)
            SELECT event_id, event_type, round(value, 2) AS value
            FROM upd
            UNION ALL
            SELECT event_id, event_type, round(value, 2) AS value
            FROM ins""",
        # q44: replay the three INSERT forms as a UNION ALL of their
        # row sources over the same parquet; sum cast to BIGINT (DuckDB
        # auto-promotes sum(BIGINT) to HUGEINT)
        "q44_insert_forms": """
            WITH base AS (
              SELECT n_nationkey, n_name, n_regionkey FROM nation
              WHERE n_nationkey < 3),
            ins_sel AS (
              SELECT n_nationkey + 100 AS n_nationkey,
                     upper(n_name) AS n_name, n_regionkey
              FROM nation WHERE n_regionkey = 1),
            ins_vals AS (
              SELECT * FROM (VALUES (200, 'atlantis', 0),
                                    (201, 'lemuria', 1))
                       AS t(n_nationkey, n_name, n_regionkey)),
            ins_file AS (
              SELECT n_nationkey, n_name, n_regionkey FROM nation),
            unioned AS (
              SELECT * FROM base UNION ALL SELECT * FROM ins_sel
              UNION ALL SELECT * FROM ins_vals
              UNION ALL SELECT * FROM ins_file)
            SELECT n_regionkey, count(*) AS cnt,
                   min(n_name) AS first_name,
                   CAST(sum(n_nationkey) AS BIGINT) AS key_sum
            FROM unioned GROUP BY n_regionkey""",
        # q43: bucketing changes WHERE rows live, never which rows —
        # the oracle is the plain aggregation
        "q43_bucketed_agg": """
            SELECT o_custkey, count(*) AS cnt,
                   round(sum(o_totalprice), 2) AS total
            FROM orders WHERE o_totalprice > 1000
            GROUP BY o_custkey""",
        "q34_windowed_join": """
            WITH w AS (SELECT * FROM events
                       WHERE ts > (SELECT max(ts) FROM events)
                                  - INTERVAL 10 MINUTE)
            SELECT w1.event_id AS event_id, w2.event_id AS id2
            FROM w w1 LEFT JOIN w w2 ON w1.user_id = w2.user_id""",
        # --- LLM pipeline ops.  Every registered query has a value
        #     oracle except eight rows-only-BY-DESIGN production
        #     configs whose ineligibility is structural, each with a
        #     value-oracled twin (see the registry comments):
        #     llm04 (xxhash-valued hamming; twin llm28), llm07/llm15
        #     (pruned-probe ANN, recall traded by design; twins
        #     llm27/llm16), llm14 (LSH recall traded; twins
        #     llm37/llm05), llm20 (xxhash-valued split; twin llm29),
        #     llm21 (partition-dependent pack ids; twin llm36),
        #     llm22 (array<double> surface; twin llm38), llm25
        #     (xxhash composition; twin llm39) ---
        "llm01_dedup_exact": """
            SELECT min(doc_id) AS doc_id, count(*) AS n_duplicates
            FROM (SELECT doc_id,
                         trim(regexp_replace(regexp_replace(lower(text),
                              '[^a-z0-9\\s]', ' ', 'g'),
                              '\\s+', ' ', 'g')) AS k
                  FROM documents)
            GROUP BY k""",
        "llm02_dedup_ngram_jaccard": """
            WITH d AS (SELECT doc_id,
                              list_distinct([substr(text, i, 8)
                               for i in range(1, greatest(length(text)-6, 2))])
                              AS sh
                       FROM documents),
                 e AS (SELECT doc_id, len(sh) AS n_sh, unnest(sh) AS s
                       FROM d)
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   round(count(*)::DOUBLE /
                         (any_value(a.n_sh) + any_value(b.n_sh) - count(*)),
                         6) AS jaccard
            FROM e a JOIN e b ON a.s = b.s AND a.doc_id < b.doc_id
            GROUP BY 1, 2 HAVING jaccard >= 0.8""",
        # llm79: llm02's inverted-index shingle join with BOTH
        # asymmetric denominators — count/any_value(n_sh) per side,
        # round-6, either direction clearing the threshold keeps the
        # pair
        "llm79_containment_pairs": """
            WITH d AS (SELECT doc_id,
                              list_distinct([substr(text, i, 8)
                               for i in range(1, greatest(length(text)-6, 2))])
                              AS sh
                       FROM documents),
                 e AS (SELECT doc_id, len(sh) AS n_sh, unnest(sh) AS s
                       FROM d)
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   round(count(*)::DOUBLE / any_value(a.n_sh), 6)
                       AS cont_a_in_b,
                   round(count(*)::DOUBLE / any_value(b.n_sh), 6)
                       AS cont_b_in_a
            FROM e a JOIN e b ON a.s = b.s AND a.doc_id < b.doc_id
            GROUP BY 1, 2
            HAVING cont_a_in_b >= 0.6 OR cont_b_in_a >= 0.6""",
        "llm05_dedup_embedding": """
            WITH s AS (SELECT * FROM embeddings
                       WHERE vec_id % 3 = 1 AND vec_id < 1200)
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   round(list_cosine_similarity(a.embedding::DOUBLE[],
                                                b.embedding::DOUBLE[]), 6)
                   AS cosine
            FROM s a JOIN s b ON a.vec_id < b.vec_id
            WHERE round(list_cosine_similarity(a.embedding::DOUBLE[],
                                               b.embedding::DOUBLE[]), 6)
                  >= 0.4""",
        "q35_asof_join": """
            SELECT p.user_id AS user_id, p.event_id AS purchase_id,
                   v.event_id AS view_id, round(v.value, 2) AS view_value
            FROM (SELECT * FROM events WHERE event_type = 'purchase') p
            ASOF LEFT JOIN
                 (SELECT * FROM events WHERE event_type = 'view') v
              ON p.user_id = v.user_id AND p.ts >= v.ts""",
        "q36_range_join": """
            SELECT c.user_id AS user_id, c.event_id AS click_id,
                   p.event_id AS purchase_id
            FROM events c JOIN events p
              ON c.user_id = p.user_id
             AND epoch(p.ts) >= epoch(c.ts)
             AND epoch(p.ts) <= epoch(c.ts) + 1800
            WHERE c.event_type = 'click'
              AND p.event_type = 'purchase'""",
        # FSQL [session 30 min on ts]: window bounds are exposed as
        # window_start/window_end (end = last event + gap); closed
        # boundary (new session only when the gap exceeds 1800s)
        "q39_session_window_fsql": """
            WITH o AS (
              SELECT user_id, ts,
                     CASE WHEN lag(ts) OVER w IS NULL
                           OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
                          THEN 1 ELSE 0 END AS new_sess
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
            s AS (
              SELECT *, sum(new_sess) OVER
                     (PARTITION BY user_id ORDER BY ts
                      ROWS UNBOUNDED PRECEDING) AS sess_no
              FROM o)
            SELECT user_id, count(*) AS n_events,
                   min(ts) AS window_start,
                   max(ts) + INTERVAL 30 MINUTE AS window_end
            FROM s GROUP BY user_id, sess_no""",
        # Spark merges touching session extents: new session only when
        # the gap is STRICTLY greater than 1800s
        "q37_session_window": """
            WITH o AS (
              SELECT user_id, ts, value,
                     CASE WHEN lag(ts) OVER w IS NULL
                           OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
                          THEN 1 ELSE 0 END AS new_sess
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
            s AS (
              SELECT *, sum(new_sess) OVER
                     (PARTITION BY user_id ORDER BY ts
                      ROWS UNBOUNDED PRECEDING) AS sess_no
              FROM o)
            SELECT user_id, min(ts) AS session_start,
                   count(*) AS n_events,
                   round(sum(value), 2) AS total_value
            FROM s GROUP BY user_id, sess_no""",
        "q38_rollup_timeseries": """
            WITH b AS (
              SELECT 3600 AS granularity_sec,
                     make_timestamp(CAST(floor(epoch(ts) / 3600) AS BIGINT)
                                    * 3600 * 1000000)
                         AS bucket_start,
                     event_type, count(*) AS n,
                     round(sum(value), 2) AS v, max(value) AS mx
              FROM events GROUP BY 2, 3
              UNION ALL
              SELECT 86400,
                     make_timestamp(CAST(floor(epoch(ts) / 86400) AS BIGINT)
                                    * 86400 * 1000000),
                     event_type, count(*),
                     round(sum(value), 2), max(value)
              FROM events GROUP BY 2, 3)
            SELECT granularity_sec, bucket_start, event_type, n, v, mx
            FROM b""",
        # llm77: the BM25 replay — same tokenizer, same Lucene idf,
        # same association order in every float expression (the
        # shared-literal recipe: (1.2 + 1) instead of 2.2 so both
        # engines derive the constant identically), and the integer
        # micro-score sum that makes addition order irrelevant
        "llm77_bm25_scores": """
            WITH t AS (
              SELECT doc_id AS id,
                     list_filter(string_split(trim(regexp_replace(
                         regexp_replace(lower(text), '[^a-z0-9\\s]',
                                        ' ', 'g'),
                         '\\s+', ' ', 'g')), ' '), x -> x <> '')
                         AS toks
              FROM documents),
            e AS (SELECT id, len(toks) AS dl, unnest(toks) AS term
                  FROM t),
            stats AS (SELECT count(*) AS n_docs,
                             avg(len(toks)) AS avgdl FROM t),
            tf AS (SELECT id, dl, term, count(*) AS tf FROM e
                   WHERE term IN ('hash', 'join', 'merge')
                   GROUP BY 1, 2, 3),
            dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
            sc AS (SELECT id,
                          CAST(round(
                              ln((n_docs - df + 0.5)
                                 / (df + 0.5) + 1)
                              * ((tf * (1.2 + 1)) /
                                 (tf + 1.2 * (1 - 0.75
                                              + 0.75 * dl / avgdl)))
                              * 1000000.0, 0) AS BIGINT) AS micro
                   FROM tf JOIN dfq USING (term) CROSS JOIN stats)
            SELECT id, sum(micro) / 1000000.0 AS score
            FROM sc GROUP BY id ORDER BY score DESC, id LIMIT 100""",
        # llm78: the hybrid RRF replay — the llm77 BM25 recipe over
        # the docs+embeddings join, the llm06 round-6 cosine, both
        # ranked with the same (score desc, id) tie-break, then the
        # left-associated coalesce(1/(60+r),0) sum in list order
        # (bm25 first, cosine second — matching rrf_fusion's
        # association)
        "llm78_hybrid_rrf": """
            WITH j0 AS (SELECT d.doc_id AS id, d.text, e.embedding
                        FROM documents d
                        JOIN embeddings e ON d.doc_id = e.vec_id),
            t AS (
              SELECT id,
                     list_filter(string_split(trim(regexp_replace(
                         regexp_replace(lower(text), '[^a-z0-9\\s]',
                                        ' ', 'g'),
                         '\\s+', ' ', 'g')), ' '), x -> x <> '')
                         AS toks
              FROM j0),
            e AS (SELECT id, len(toks) AS dl, unnest(toks) AS term
                  FROM t),
            stats AS (SELECT count(*) AS n_docs,
                             avg(len(toks)) AS avgdl FROM t),
            tf AS (SELECT id, dl, term, count(*) AS tf FROM e
                   WHERE term IN ('data', 'stream', 'window')
                   GROUP BY 1, 2, 3),
            dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
            sc AS (SELECT id,
                          CAST(round(
                              ln((n_docs - df + 0.5)
                                 / (df + 0.5) + 1)
                              * ((tf * (1.2 + 1)) /
                                 (tf + 1.2 * (1 - 0.75
                                              + 0.75 * dl / avgdl)))
                              * 1000000.0, 0) AS BIGINT) AS micro
                   FROM tf JOIN dfq USING (term) CROSS JOIN stats),
            bmk AS (SELECT id, sum(micro) / 1000000.0 AS score
                    FROM sc GROUP BY id
                    ORDER BY score DESC, id LIMIT 50),
            bmr AS (SELECT id, row_number() OVER
                        (ORDER BY score DESC, id) AS rank FROM bmk),
            csk AS (SELECT id,
                           round(list_cosine_similarity(
                               embedding::DOUBLE[],
                               (SELECT embedding::DOUBLE[] FROM j0
                                WHERE id = 7)), 6) AS cosine
                    FROM j0 WHERE id <> 7
                    ORDER BY cosine DESC, id LIMIT 50),
            csr AS (SELECT id, row_number() OVER
                        (ORDER BY cosine DESC, id) AS rank FROM csk),
            f AS (SELECT coalesce(b.id, c.id) AS id,
                         coalesce(1.0 / (60 + b.rank), 0.0)
                         + coalesce(1.0 / (60 + c.rank), 0.0) AS rrf
                  FROM bmr b FULL OUTER JOIN csr c ON b.id = c.id)
            SELECT id, rrf FROM f ORDER BY rrf DESC, id LIMIT 10""",
        "llm19_top_terms_tfidf": """
            WITH t AS (
              SELECT doc_id AS id,
                     unnest(list_filter(string_split(trim(regexp_replace(
                         regexp_replace(lower(text), '[^a-z0-9\\s]', ' ',
                                        'g'),
                         '\\s+', ' ', 'g')), ' '), x -> x <> '')) AS term
              FROM documents),
            tf AS (SELECT id, term, count(*) AS tf FROM t GROUP BY 1, 2),
            dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
            n AS (SELECT count(DISTINCT doc_id) AS n FROM documents),
            sc AS (SELECT id, term, tf,
                          round(tf * (ln((n.n + 1) / (dfq.df + 1)) + 1),
                                6) AS score
                   FROM tf JOIN dfq USING (term) CROSS JOIN n),
            r AS (SELECT *, row_number() OVER
                      (PARTITION BY id ORDER BY score DESC, term ASC)
                      AS rn
                  FROM sc)
            SELECT id, term, tf, score FROM r WHERE rn <= 5""",
        "llm18_chunk_documents": """
            WITH t AS (
              SELECT doc_id AS id,
                     list_filter(string_split(trim(regexp_replace(
                         regexp_replace(lower(text), '[^a-z0-9\\s]', ' ',
                                        'g'),
                         '\\s+', ' ', 'g')), ' '), x -> x <> '') AS toks
              FROM documents),
            t2 AS (SELECT id, toks FROM t WHERE len(toks) > 0),
            s AS (
              SELECT id, toks,
                     unnest(range(0, greatest(len(toks), 1), 56)) AS st
              FROM t2)
            SELECT id, (st / 56)::BIGINT AS chunk_no,
                   len(toks[st + 1 : least(st + 64, len(toks))])
                       AS n_tokens,
                   array_to_string(toks[st + 1 :
                                        least(st + 64, len(toks))], ' ')
                       AS chunk_text
            FROM s""",
        # transitive closure of the llm02 pair set (recursive CTE):
        # cluster_id = min doc id of the connected component
        "llm17_dup_clusters": """
            WITH RECURSIVE
            d AS (SELECT doc_id,
                         list_distinct([substr(text, i, 8)
                          for i in range(1, greatest(length(text)-6, 2))])
                         AS sh
                  FROM documents),
            e AS (SELECT doc_id, len(sh) AS n_sh, unnest(sh) AS s FROM d),
            p AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b
              FROM e a JOIN e b ON a.s = b.s AND a.doc_id < b.doc_id
              GROUP BY 1, 2
              HAVING round(count(*)::DOUBLE /
                     (any_value(a.n_sh) + any_value(b.n_sh) - count(*)),
                     6) >= 0.8),
            ed AS (SELECT id_a AS a, id_b AS b FROM p
                   UNION SELECT id_b, id_a FROM p),
            reach(id, r) AS (
              SELECT a, a FROM ed
              UNION
              SELECT reach.id, ed.b FROM reach JOIN ed ON reach.r = ed.a)
            SELECT id, min(r) AS cluster_id FROM reach GROUP BY id""",
        "llm06_ann_topk_bruteforce": """
            SELECT vec_id AS id,
                   round(list_cosine_similarity(embedding::DOUBLE[],
                         (SELECT embedding::DOUBLE[] FROM embeddings
                          WHERE vec_id = 0)), 6) AS cosine
            FROM embeddings WHERE vec_id <> 0
            ORDER BY cosine DESC, id ASC LIMIT 10""",
        # llm75: llm06's cosine replayed per query id, ranked within
        # each qid on the SAME rounded value + id tie-break
        "llm75_ann_topk_batch": """
            WITH q AS (SELECT vec_id AS qid,
                              embedding::DOUBLE[] AS qv
                       FROM embeddings WHERE vec_id IN (0, 1, 7)),
            s AS (SELECT q.qid, e.vec_id AS id,
                         round(list_cosine_similarity(
                             e.embedding::DOUBLE[], q.qv), 6) AS cosine
                  FROM embeddings e JOIN q ON e.vec_id <> q.qid),
            r AS (SELECT *, row_number() OVER (PARTITION BY qid
                      ORDER BY cosine DESC, id ASC) AS rn FROM s)
            SELECT qid, id, cosine FROM r WHERE rn <= 5
            ORDER BY qid, cosine DESC, id""",
        # MinHash with r=1 banding exact-verifies an (effectively)
        # complete candidate set -> the exact n-gram-Jaccard pair SQL
        # is its oracle (same query as llm02)
        "llm26_minhash_verified_pairs": """
            WITH d AS (SELECT doc_id,
                              list_distinct([substr(text, i, 8)
                               for i in range(1, greatest(length(text)-6, 2))])
                              AS sh
                       FROM documents),
                 e AS (SELECT doc_id, len(sh) AS n_sh, unnest(sh) AS s
                       FROM d)
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   round(count(*)::DOUBLE /
                         (any_value(a.n_sh) + any_value(b.n_sh) - count(*)),
                         6) AS jaccard
            FROM e a JOIN e b ON a.s = b.s AND a.doc_id < b.doc_id
            GROUP BY 1, 2 HAVING jaccard >= 0.8""",
        # Gopher heuristics recomputed with DuckDB list/regexp functions
        "llm32_gopher_quality": """
            WITH w AS (
                SELECT doc_id, text,
                       list_filter(string_split_regex(text,
                                       '[ \\t\\n\\x0B\\f\\r]+'),
                                   w -> w <> '') AS words,
                       string_split(text, chr(10)) AS lines
                FROM documents),
            m AS (
                SELECT doc_id,
                       len(words) AS n_words,
                       list_sum(list_transform(words,
                                               w -> length(w)))::DOUBLE
                           / nullif(len(words), 0) AS mean_word_len,
                       len(list_filter(words,
                           w -> regexp_matches(w, '[A-Za-z]')))::DOUBLE
                           / nullif(len(words), 0) AS alpha_word_frac,
                       (length(text) - length(replace(text, '#', ''))
                        + (length(text) -
                           length(replace(text, '...', ''))) / 3)
                           ::DOUBLE / nullif(len(words), 0)
                           AS symbol_word_ratio,
                       len(list_filter(lines, l ->
                           regexp_matches(l,
                               '^[ \\t\\n\\x0B\\f\\r]*[-*•]')))::DOUBLE
                           / nullif(len(lines), 0) AS bullet_line_frac,
                       len(list_filter(lines, l ->
                           regexp_matches(l, '\\.\\.\\.$')))::DOUBLE
                           / nullif(len(lines), 0) AS ellipsis_line_frac,
                       1.0 - len(list_distinct(lines))::DOUBLE
                           / nullif(len(lines), 0) AS dup_line_frac
                FROM w)
            SELECT doc_id AS id, n_words,
                   round(mean_word_len, 6) AS mean_word_len,
                   round(alpha_word_frac, 6) AS alpha_word_frac,
                   round(symbol_word_ratio, 6) AS symbol_word_ratio,
                   round(bullet_line_frac, 6) AS bullet_line_frac,
                   round(ellipsis_line_frac, 6) AS ellipsis_line_frac,
                   round(dup_line_frac, 6) AS dup_line_frac,
                   coalesce(n_words BETWEEN 50 AND 100000
                            AND mean_word_len BETWEEN 3 AND 10
                            AND symbol_word_ratio < 0.1
                            AND bullet_line_frac < 0.9
                            AND ellipsis_line_frac < 0.3
                            AND alpha_word_frac >= 0.8
                            AND dup_line_frac < 0.3, false) AS keep
            FROM m""",
        # llm17's recursive closure extended by survivor selection:
        # unpaired docs plus min(id) per cluster
        "llm35_dedup_survivors": """
            WITH RECURSIVE
            d AS (SELECT doc_id,
                         list_distinct([substr(text, i, 8)
                          for i in range(1, greatest(length(text)-6, 2))])
                         AS sh
                  FROM documents),
            e AS (SELECT doc_id, len(sh) AS n_sh, unnest(sh) AS s FROM d),
            p AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b
              FROM e a JOIN e b ON a.s = b.s AND a.doc_id < b.doc_id
              GROUP BY 1, 2
              HAVING round(count(*)::DOUBLE /
                     (any_value(a.n_sh) + any_value(b.n_sh) - count(*)),
                     6) >= 0.8),
            ed AS (SELECT id_a AS a, id_b AS b FROM p
                   UNION SELECT id_b, id_a FROM p),
            reach(id, r) AS (
              SELECT a, a FROM ed
              UNION
              SELECT reach.id, ed.b FROM reach JOIN ed ON reach.r = ed.a),
            cl AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id)
            SELECT doc_id FROM documents
            WHERE doc_id NOT IN (SELECT id FROM cl)
            UNION ALL
            SELECT min(id) AS doc_id FROM cl GROUP BY cluster_id""",
        # next-fit packing over (n_tokens DESC, id) order is a
        # sequential recurrence: the recursive CTE replays it row by
        # row with the same single (pack_id, free) state the Spark
        # side's partitions=1 next-fit keeps
        "llm36_pack_verified": """
            WITH RECURSIVE
            t AS (SELECT doc_id AS id,
                         CAST(len(string_split(trim(regexp_replace(
                             regexp_replace(lower(text),
                             '[^a-z0-9\\s]', ' ', 'g'),
                             '\\s+', ' ', 'g')), ' ')) AS BIGINT)
                             AS n_tokens
                  FROM documents),
            o AS (SELECT id, n_tokens,
                         row_number() OVER (ORDER BY n_tokens DESC, id)
                             AS rn
                  FROM t),
            pk(rn, id, n_tokens, pack_id, free) AS (
              SELECT rn, id, n_tokens, CAST(0 AS BIGINT),
                     CAST(greatest(512 - n_tokens, 0) AS BIGINT)
              FROM o WHERE rn = 1
              UNION ALL
              SELECT o.rn, o.id, o.n_tokens,
                     CASE WHEN o.n_tokens <= pk.free THEN pk.pack_id
                          ELSE pk.pack_id + 1 END,
                     CASE WHEN o.n_tokens <= pk.free
                          THEN pk.free - o.n_tokens
                          ELSE CAST(greatest(512 - o.n_tokens, 0)
                                    AS BIGINT) END
              FROM pk JOIN o ON o.rn = pk.rn + 1)
            SELECT id, n_tokens, pack_id FROM pk""",
        # planes=0/tables=1 LSH candidates = all pairs -> brute-force
        # cosine pairs on the same slice: llm05's oracle verbatim
        "llm37_embdup_lsh_exhaustive": """
            WITH s AS (SELECT * FROM embeddings
                       WHERE vec_id % 3 = 1 AND vec_id < 1200)
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   round(list_cosine_similarity(a.embedding::DOUBLE[],
                                                b.embedding::DOUBLE[]), 6)
                   AS cosine
            FROM s a JOIN s b ON a.vec_id < b.vec_id
            WHERE round(list_cosine_similarity(a.embedding::DOUBLE[],
                                               b.embedding::DOUBLE[]), 6)
                  >= 0.4""",
        # the folded byte histogram rebuilt independently: hex-pair
        # byte extraction -> bin = byte // 16 -> dense 16-bin counts
        "llm38_features_verified": """
            WITH b AS (
              SELECT doc_id, hex(encode(text)) AS h,
                     octet_length(encode(text)) AS n
              FROM documents),
            e AS (
              SELECT doc_id,
                     unnest([CAST(concat('0x', substr(h, k * 2 + 1, 2))
                                  AS BIGINT) // 16
                             for k in range(0, n)]) AS bin
              FROM b),
            c AS (SELECT doc_id, bin, count(*) AS cnt
                  FROM e GROUP BY 1, 2),
            dense AS (
              SELECT b.doc_id, b.n, d.bin, coalesce(c.cnt, 0) AS cnt
              FROM b CROSS JOIN (SELECT unnest(range(16)) AS bin) d
              LEFT JOIN c ON c.doc_id = b.doc_id AND c.bin = d.bin)
            SELECT doc_id AS id, CAST(any_value(n) AS BIGINT) AS byte_len,
                   array_to_string(list(cnt ORDER BY bin), ',') AS hist
            FROM dense GROUP BY doc_id""",
        # word-13-gram overlap vs the doc_id%50=0 eval slice; list
        # slicing is 1-based INCLUSIVE in DuckDB, so toks[i+1:i+13]
        # is 13 tokens for i in [0, len-13]
        "llm40_decontaminate": """
            WITH tok AS (
                SELECT doc_id,
                       string_split(trim(regexp_replace(regexp_replace(
                           lower(text), '[^a-z0-9\\s]', ' ', 'g'),
                           '\\s+', ' ', 'g')), ' ') AS toks
                FROM documents),
            g AS (
                SELECT doc_id,
                       unnest(list_distinct(
                           [array_to_string(toks[i+1:i+13], ' ')
                            for i in range(0, greatest(len(toks) - 12,
                                                       0))])) AS gram
                FROM tok),
            eg AS (SELECT DISTINCT gram FROM g WHERE doc_id % 50 = 0),
            hits AS (SELECT g.doc_id, count(*) AS n
                     FROM g JOIN eg USING (gram)
                     WHERE g.doc_id % 50 <> 0 GROUP BY 1)
            SELECT d.doc_id AS id,
                   CAST(coalesce(h.n, 0) AS BIGINT) AS n_hits,
                   coalesce(h.n, 0) > 0 AS contaminated
            FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
            WHERE d.doc_id % 50 <> 0""",
        # char mass of the heaviest 2-gram / duplicated 5-grams over
        # the normalized token stream, as fractions of its characters
        "llm41_gopher_repetition": """
            WITH tok AS (
                SELECT doc_id,
                       trim(regexp_replace(regexp_replace(lower(text),
                           '[^a-z0-9\\s]', ' ', 'g'),
                           '\\s+', ' ', 'g')) AS norm
                FROM documents),
            t2 AS (SELECT doc_id, length(norm) AS nchars,
                          string_split(norm, ' ') AS toks
                   FROM tok),
            g2 AS (SELECT doc_id, nchars,
                          unnest([array_to_string(toks[i+1:i+2], ' ')
                                  for i in range(0,
                                      greatest(len(toks) - 1, 0))])
                              AS gram
                   FROM t2),
            c2 AS (SELECT doc_id, nchars, gram, count(*) AS cnt
                   FROM g2 GROUP BY 1, 2, 3),
            m2 AS (SELECT doc_id,
                          round(max(cnt * length(gram))
                                / nullif(nchars, 0)::DOUBLE, 6) AS top_f
                   FROM c2 GROUP BY doc_id, nchars),
            g5 AS (SELECT doc_id, nchars,
                          unnest([array_to_string(toks[i+1:i+5], ' ')
                                  for i in range(0,
                                      greatest(len(toks) - 4, 0))])
                              AS gram
                   FROM t2),
            c5 AS (SELECT doc_id, nchars, gram, count(*) AS cnt
                   FROM g5 GROUP BY 1, 2, 3),
            m5 AS (SELECT doc_id,
                          round(sum(CASE WHEN cnt >= 2
                                         THEN cnt * length(gram)
                                         ELSE 0 END)
                                / nullif(nchars, 0)::DOUBLE, 6) AS dup_f
                   FROM c5 GROUP BY doc_id, nchars)
            SELECT d.doc_id AS id,
                   coalesce(m2.top_f, 0.0) AS top_ngram_char_frac,
                   coalesce(m5.dup_f, 0.0) AS dup_ngram_char_frac,
                   coalesce(m2.top_f, 0.0) <= 0.20
                       AND coalesce(m5.dup_f, 0.0) <= 0.15 AS keep
            FROM documents d
            LEFT JOIN m2 ON d.doc_id = m2.doc_id
            LEFT JOIN m5 ON d.doc_id = m5.doc_id""",
        # corpus-wide first-occurrence line dedup replayed with window
        # algebra: winner per distinct non-empty line = min (doc, idx);
        # empty lines are structural and always kept
        "llm42_line_dedup": """
            WITH l AS (
                SELECT doc_id, string_split(text, chr(10)) AS lines
                FROM documents),
            e0 AS (SELECT doc_id,
                          unnest(generate_series(1, len(lines))) AS idx,
                          lines
                   FROM l),
            e AS (SELECT doc_id, idx, lines[idx] AS line FROM e0),
            w AS (SELECT doc_id, idx, line,
                         row_number() OVER (PARTITION BY line
                                            ORDER BY doc_id, idx) AS rn
                  FROM e WHERE line <> ''),
            kept AS (SELECT doc_id, idx, line FROM w WHERE rn = 1
                     UNION ALL
                     SELECT doc_id, idx, line FROM e WHERE line = ''),
            agg AS (SELECT doc_id,
                           string_agg(line, chr(10) ORDER BY idx)
                               AS clean_text,
                           count(*) AS n_kept
                    FROM kept GROUP BY doc_id)
            SELECT l.doc_id AS id,
                   coalesce(agg.clean_text, '') AS clean_text,
                   CAST(len(l.lines) AS INTEGER) AS n_lines,
                   CAST(coalesce(agg.n_kept, 0) AS INTEGER) AS n_kept
            FROM l LEFT JOIN agg USING (doc_id)""",
        # winnowed duplicate spans recomputed on the raw substrings:
        # anchors where md5-60bit(8-char prefix) % 16 = 0 (identical
        # both engines), spans grouped on the raw string here vs their
        # xxhash64 on the Spark side (the llm01 collision-free premise,
        # one 64-bit key over ~1e4 distinct spans)
        "llm43_dup_spans": """
            WITH base AS (
                SELECT doc_id, text, len(text) AS n FROM documents),
            p AS (SELECT doc_id, text,
                         unnest(generate_series(1, n - 31)) AS i
                  FROM base WHERE n >= 32),
            a AS (SELECT doc_id,
                         substr(text, CAST(i AS INTEGER), 32) AS sub
                  FROM p
                  WHERE CAST(concat('0x', substr(md5(substr(text,
                            CAST(i AS INTEGER), 8)), 1, 15)) AS BIGINT)
                        % 16 = 0),
            ns AS (SELECT doc_id, count(*) AS n_spans
                   FROM a GROUP BY doc_id),
            dup AS (SELECT sub FROM a GROUP BY sub
                    HAVING count(DISTINCT doc_id) >= 2),
            c AS (SELECT doc_id, count(*) AS n_dup_spans
                  FROM a JOIN dup USING (sub) GROUP BY doc_id)
            SELECT base.doc_id AS id,
                   CAST(coalesce(ns.n_spans, 0) AS INTEGER) AS n_spans,
                   CAST(coalesce(c.n_dup_spans, 0) AS BIGINT)
                       AS n_dup_spans,
                   CASE WHEN coalesce(ns.n_spans, 0) > 0
                        THEN coalesce(c.n_dup_spans, 0) / ns.n_spans
                        END AS dup_frac
            FROM base
            LEFT JOIN ns USING (doc_id)
            LEFT JOIN c USING (doc_id)""",
        # token-budget cut: running ws-token sum over the md5-hash
        # permutation order, prefix <= 5000 (the Spark side distributes
        # the cumsum via range buckets + broadcast offsets; the window
        # here replays it sequentially)
        "llm44_token_budget": """
            WITH t AS (SELECT doc_id AS id,
                              CAST(len(string_split(trim(regexp_replace(
                                  regexp_replace(lower(text),
                                  '[^a-z0-9\\s]', ' ', 'g'),
                                  '\\s+', ' ', 'g')), ' ')) AS BIGINT)
                                  AS n_tokens
                       FROM documents),
            k AS (SELECT id, n_tokens,
                         CAST(concat('0x', substr(md5(concat(
                              CAST(id AS VARCHAR), ':', '42')), 1, 15))
                              AS BIGINT) AS key
                  FROM t),
            c AS (SELECT id, n_tokens,
                         sum(n_tokens) OVER (ORDER BY key, id
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS cum
                  FROM k)
            SELECT id, n_tokens, CAST(cum AS BIGINT) AS cum_tokens
            FROM c WHERE cum <= 5000""",
        # mixture rebalancing: per-domain token totals -> feasible
        # total T = min(tok/w) -> keep-rate w*T/tok -> md5 id-hash
        # membership (identical double arithmetic both engines)
        "llm45_domain_mixture": """
            WITH t AS (SELECT doc_id AS id, source,
                              CAST(len(string_split(trim(regexp_replace(
                                  regexp_replace(lower(text),
                                  '[^a-z0-9\\s]', ' ', 'g'),
                                  '\\s+', ' ', 'g')), ' ')) AS BIGINT)
                                  AS n_tokens
                       FROM documents),
            dom AS (SELECT source AS domain,
                           CAST(sum(n_tokens) AS DOUBLE) AS tok,
                           CASE source WHEN 'src0' THEN 0.4
                                       WHEN 'src1' THEN 0.3
                                       WHEN 'src2' THEN 0.2
                                       WHEN 'src3' THEN 0.1 END AS w
                    FROM t
                    WHERE source IN ('src0', 'src1', 'src2', 'src3')
                    GROUP BY source),
            tot AS (SELECT min(tok / w) AS total FROM dom),
            r AS (SELECT domain,
                         CAST(round(least(1.0, w * tot.total / tok)
                                    * 1000000) AS BIGINT) AS thresh
                  FROM dom, tot)
            SELECT t.id, t.source AS domain, t.n_tokens
            FROM t JOIN r ON t.source = r.domain
            WHERE CAST(concat('0x', substr(md5(concat(
                      CAST(t.id AS VARCHAR), ':', '42')), 1, 15))
                      AS BIGINT) % 1000000 < r.thresh""",
        # temperature mixture: same rate algebra as llm45 but weights
        # derived in-SQL as sqrt(domain tokens) — IEEE-correctly-
        # rounded on both engines, no weight dict premise
        "llm63_mixture_temperature": """
            WITH t AS (SELECT doc_id AS id, source,
                              CAST(len(string_split(trim(regexp_replace(
                                  regexp_replace(lower(text),
                                  '[^a-z0-9\\s]', ' ', 'g'),
                                  '\\s+', ' ', 'g')), ' ')) AS BIGINT)
                                  AS n_tokens
                       FROM documents),
            dom AS (SELECT source AS domain,
                           CAST(sum(n_tokens) AS DOUBLE) AS tok,
                           sqrt(CAST(sum(n_tokens) AS DOUBLE)) AS w
                    FROM t GROUP BY source
                    HAVING sum(n_tokens) > 0),
            tot AS (SELECT min(tok / w) AS total FROM dom),
            r AS (SELECT domain,
                         CAST(round(least(1.0, w * tot.total / tok)
                                    * 1000000) AS BIGINT) AS thresh
                  FROM dom, tot)
            SELECT t.id, t.source AS domain, t.n_tokens
            FROM t JOIN r ON t.source = r.domain
            WHERE CAST(concat('0x', substr(md5(concat(
                      CAST(t.id AS VARCHAR), ':', '42')), 1, 15))
                      AS BIGINT) % 1000000 < r.thresh""",
        # HyperLogLog registers replayed independently: same 60-bit
        # md5 hash, bucket = low 9 bits, rho from integer bit-length
        # (bin() in both engines — never floating log2)
        "llm64_hll_registers": """
            WITH t AS (SELECT string_split(trim(regexp_replace(
                           regexp_replace(lower(text),
                           '[^a-z0-9\\s]', ' ', 'g'),
                           '\\s+', ' ', 'g')), ' ') AS toks
                       FROM documents),
            e AS (SELECT unnest(toks) AS tok FROM t),
            h AS (SELECT CAST(concat('0x', substr(md5(tok), 1, 15))
                             AS BIGINT) AS h1
                  FROM e WHERE tok <> ''),
            r AS (SELECT h1 & 511 AS bucket, h1 >> 9 AS w FROM h),
            rho AS (SELECT bucket,
                           CASE WHEN w = 0 THEN 52
                                ELSE 52 - length(bin(w)) END AS rho
                    FROM r)
            SELECT bucket, CAST(max(rho) AS INT) AS max_rho
            FROM rho GROUP BY bucket ORDER BY bucket""",
        # count-min sketch cells replayed via the same double hashing
        # (h1 + r*h2 mod width, salted md5 h2)
        "llm65_cms_counts": """
            WITH t AS (SELECT string_split(trim(regexp_replace(
                           regexp_replace(lower(text),
                           '[^a-z0-9\\s]', ' ', 'g'),
                           '\\s+', ' ', 'g')), ' ') AS toks
                       FROM documents),
            e AS (SELECT unnest(toks) AS tok FROM t),
            h AS (SELECT CAST(concat('0x', substr(md5(tok), 1, 15))
                             AS BIGINT) AS h1,
                         CAST(concat('0x', substr(md5(concat('cms:',
                             tok)), 1, 15)) AS BIGINT) AS h2
                  FROM e WHERE tok <> ''),
            cell AS (SELECT i.r AS row, (h1 + i.r * h2) % 1024 AS col
                     FROM h CROSS JOIN
                          (SELECT unnest([0, 1, 2, 3]) AS r) i)
            SELECT CAST(row AS INT) AS row, CAST(col AS INT) AS col,
                   count(*) AS cnt
            FROM cell GROUP BY 1, 2 ORDER BY row, col""",
        # the bloom bitmap and all k probes replayed bit-for-bit
        # (BIGINT masks capped at 1<<31: DuckDB's shift is
        # overflow-checked where Java's wraps)
        "llm66_bloom_decontaminate": """
            WITH tokd AS (SELECT doc_id, string_split(trim(
                              regexp_replace(regexp_replace(lower(text),
                              '[^a-z0-9\\s]', ' ', 'g'),
                              '\\s+', ' ', 'g')), ' ') AS toks
                          FROM documents),
            g AS (SELECT doc_id,
                         unnest(list_distinct(
                             [array_to_string(toks[i+1:i+13], ' ')
                              for i in range(0,
                                  greatest(len(toks) - 12, 0))]))
                             AS gram
                  FROM tokd),
            refh AS (SELECT CAST(concat('0x', substr(md5(gram), 1, 15))
                                AS BIGINT) AS h1,
                            CAST(concat('0x', substr(md5(concat(
                                'bloom:', gram)), 1, 15)) AS BIGINT)
                                AS h2
                     FROM (SELECT DISTINCT gram FROM g
                           WHERE doc_id % 50 = 0)),
            pos AS (SELECT (h1 + i.i * h2) % 1048576 AS pos
                    FROM refh CROSS JOIN
                         (SELECT unnest([0, 1, 2, 3]) AS i) i),
            bm AS (SELECT pos >> 5 AS word,
                          bit_or(1::BIGINT << CAST(pos & 31 AS INT))
                              AS bits
                   FROM pos GROUP BY 1),
            dh AS (SELECT doc_id, gram,
                          CAST(concat('0x', substr(md5(gram), 1, 15))
                              AS BIGINT) AS h1,
                          CAST(concat('0x', substr(md5(concat('bloom:',
                              gram)), 1, 15)) AS BIGINT) AS h2
                   FROM g WHERE doc_id % 50 <> 0),
            probe AS (SELECT doc_id, gram,
                             (h1 + i.i * h2) % 1048576 AS pos
                      FROM dh CROSS JOIN
                           (SELECT unnest([0, 1, 2, 3]) AS i) i),
            chk AS (SELECT p.doc_id, p.gram,
                           CASE WHEN (coalesce(b.bits, 0)
                                 & (1::BIGINT << CAST(p.pos & 31 AS INT)))
                                = (1::BIGINT << CAST(p.pos & 31 AS INT))
                                THEN 1 ELSE 0 END AS hit
                    FROM probe p
                    LEFT JOIN bm b ON (p.pos >> 5) = b.word),
            gh AS (SELECT doc_id, gram,
                          CASE WHEN sum(hit) = 4 THEN 1 ELSE 0 END
                              AS all_set
                   FROM chk GROUP BY 1, 2),
            hits AS (SELECT doc_id, sum(all_set) AS n
                     FROM gh GROUP BY 1)
            SELECT d.doc_id AS id,
                   CAST(coalesce(hh.n, 0) AS BIGINT) AS n_hits,
                   coalesce(hh.n, 0) > 0 AS contaminated
            FROM documents d LEFT JOIN hits hh ON d.doc_id = hh.doc_id
            WHERE d.doc_id % 50 <> 0""",
        # novelty = distinct 8-grams with corpus doc-frequency 1, as
        # an int/int -> double division (IEEE-exact both engines)
        "llm67_ngram_novelty": """
            WITH tokd AS (SELECT doc_id, string_split(trim(
                              regexp_replace(regexp_replace(lower(text),
                              '[^a-z0-9\\s]', ' ', 'g'),
                              '\\s+', ' ', 'g')), ' ') AS toks
                          FROM documents),
            g AS (SELECT doc_id,
                         unnest(list_distinct(
                             [array_to_string(toks[i+1:i+8], ' ')
                              for i in range(0,
                                  greatest(len(toks) - 7, 0))])) AS gram
                  FROM tokd),
            dfq AS (SELECT gram, count(*) AS doc_freq
                    FROM g GROUP BY 1),
            per AS (SELECT doc_id, count(*) AS n_grams,
                           sum(CASE WHEN doc_freq = 1 THEN 1 ELSE 0 END)
                               AS novel
                    FROM g JOIN dfq USING (gram) GROUP BY 1)
            SELECT d.doc_id AS id,
                   CAST(coalesce(p.n_grams, 0) AS BIGINT) AS n_grams,
                   CAST(coalesce(p.novel, 0) AS BIGINT) AS novel_grams,
                   CASE WHEN coalesce(p.n_grams, 0) > 0
                        THEN CAST(p.novel AS DOUBLE) / p.n_grams END
                       AS novelty
            FROM documents d LEFT JOIN per p ON d.doc_id = p.doc_id""",
        # u*c compared in HUGEINT (decimal(38,0) on the Spark side):
        # the product overflows int64 for dup groups > 8
        "llm68_soft_dedup": """
            WITH n AS (SELECT doc_id,
                              trim(regexp_replace(lower(translate(text,
                                  'İ', 'i')), '[^a-z0-9]+', ' ', 'g'))
                                  AS norm
                       FROM documents),
            c AS (SELECT doc_id,
                         count(*) OVER (PARTITION BY norm) AS dup_count
                  FROM n),
            u AS (SELECT doc_id, dup_count,
                         CAST(concat('0x', substr(md5(concat(
                             CAST(doc_id AS VARCHAR), ':', '7')),
                             1, 15)) AS BIGINT) AS u
                  FROM c)
            SELECT doc_id AS id, dup_count,
                   (u::HUGEINT * dup_count::HUGEINT)
                       < 1152921504606846976::HUGEINT AS kept
            FROM u ORDER BY id""",
        # percentile_disc replayed as the explicit cut-index algebra
        # (smallest v with cumulative count >= ceil(p*N)) so both
        # engines compute the identical definition; ceil(p*N) is the
        # same IEEE double math on both sides
        "llm69_length_quantiles": """
            WITH dist AS (SELECT n_chars AS v, count(*) AS cnt
                          FROM documents GROUP BY 1),
            cum AS (SELECT v, sum(cnt) OVER (ORDER BY v) AS cum
                    FROM dist),
            tot AS (SELECT sum(cnt) AS n FROM dist),
            p AS (SELECT unnest([0.25, 0.5, 0.75, 0.9,
                                 0.99])::DOUBLE AS prob)
            SELECT prob, min(v) AS value
            FROM cum, tot, p
            WHERE cum >= ceil(prob * n)
            GROUP BY prob ORDER BY prob""",
        # the z-score compare replayed in HUGEINT — the Spark side
        # sums in decimal(38,0), so both engines do EXACT integer
        # algebra and the flag has no float boundary at all
        # the DLT priority replayed verbatim: same md5 60-bit hash,
        # same (h+1)/2^60 uniform, same single division by the weight
        # — bit-exact because every step is correctly-rounded IEEE
        "llm73_priority_sample": """
            SELECT doc_id, n_chars,
                   (CAST(CAST(concat('0x', substr(md5(concat(
                        CAST(doc_id AS VARCHAR), ':', '42')), 1, 15))
                        AS BIGINT) + 1 AS DOUBLE)
                    / 1152921504606846976.0)
                   / CAST(n_chars AS DOUBLE) AS samp_priority
            FROM documents
            WHERE n_chars > 0 AND doc_id IS NOT NULL
            ORDER BY samp_priority, doc_id LIMIT 50""",
        # llm76: the same priority replayed per stratum — row_number
        # over (source, priority, id), cut at k; the estimator lifts
        # each stratum's (k+1)-th priority as tau and takes
        # max(w, 1/tau) (one division + one max — bit-exact)
        "llm76_priority_stratified": """
            WITH p AS (
                SELECT source, doc_id, n_chars,
                       (CAST(CAST(concat('0x', substr(md5(concat(
                            CAST(doc_id AS VARCHAR), ':', '42')),
                            1, 15)) AS BIGINT) + 1 AS DOUBLE)
                        / 1152921504606846976.0)
                       / CAST(n_chars AS DOUBLE) AS samp_priority
                FROM documents
                WHERE n_chars > 0 AND doc_id IS NOT NULL),
            r AS (SELECT *, row_number() OVER (PARTITION BY source
                      ORDER BY samp_priority, doc_id) AS rn
                  FROM p),
            t AS (SELECT *, max(CASE WHEN rn = 16 THEN samp_priority
                                END) OVER (PARTITION BY source) AS tau
                  FROM r WHERE rn <= 16)
            SELECT source, doc_id, n_chars, samp_priority,
                   CASE WHEN tau IS NULL
                        THEN CAST(n_chars AS DOUBLE)
                        ELSE greatest(CAST(n_chars AS DOUBLE),
                                      1.0 / tau) END AS w_est
            FROM t WHERE rn <= 15""",
        "llm72_domain_cap": """
            WITH h AS (
                SELECT source, doc_id,
                       CAST(concat('0x', substr(md5(concat(
                            CAST(doc_id AS VARCHAR), ':', '7')), 1, 15))
                            AS BIGINT) AS hh
                FROM documents),
            r AS (SELECT source, doc_id,
                         row_number() OVER (PARTITION BY source
                             ORDER BY hh, doc_id) AS rank
                  FROM h)
            SELECT source, doc_id, CAST(rank AS INT) AS rank
            FROM r WHERE rank <= 10 ORDER BY source, rank""",
        "llm71_length_outliers": """
            WITH s AS (SELECT source, count(*)::HUGEINT AS n,
                              sum(n_chars::HUGEINT) AS s,
                              sum((n_chars::HUGEINT)
                                  * (n_chars::HUGEINT)) AS q
                       FROM documents GROUP BY source)
            SELECT d.doc_id AS id, d.source, d.n_chars AS value,
                   ((s.n - 1) * (s.n * d.n_chars - s.s)
                              * (s.n * d.n_chars - s.s))
                       > (4 * s.n * (s.n * s.q - s.s * s.s))
                       AS is_outlier
            FROM documents d JOIN s ON d.source = s.source
            ORDER BY id""",
        # cross-corpus exact jaccard recomputed independently (the
        # dup_clusters shingle-SQL pattern with the asymmetric join)
        "llm47_cross_dedup_pairs": """
            WITH d AS (SELECT doc_id,
                              list_distinct([substr(text, i, 8)
                               for i in range(1,
                                   greatest(length(text)-6, 2))]) AS sh
                       FROM documents),
            e AS (SELECT doc_id, len(sh) AS n_sh, unnest(sh) AS s
                  FROM d)
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   round(count(*)::DOUBLE /
                         (any_value(a.n_sh) + any_value(b.n_sh)
                          - count(*)), 6) AS jaccard
            FROM e a JOIN e b ON a.s = b.s
            WHERE a.doc_id % 10 <> 0 AND b.doc_id % 10 = 0
            GROUP BY 1, 2
            HAVING round(count(*)::DOUBLE /
                         (any_value(a.n_sh) + any_value(b.n_sh)
                          - count(*)), 6) >= 0.8""",
        "llm48_dedup_against": """
            WITH d AS (SELECT doc_id,
                              list_distinct([substr(text, i, 8)
                               for i in range(1,
                                   greatest(length(text)-6, 2))]) AS sh
                       FROM documents),
            e AS (SELECT doc_id, len(sh) AS n_sh, unnest(sh) AS s
                  FROM d),
            hit AS (SELECT a.doc_id AS id_a
                    FROM e a JOIN e b ON a.s = b.s
                    WHERE a.doc_id % 10 <> 0 AND b.doc_id % 10 = 0
                    GROUP BY a.doc_id, b.doc_id
                    HAVING round(count(*)::DOUBLE /
                                 (any_value(a.n_sh) + any_value(b.n_sh)
                                  - count(*)), 6) >= 0.8)
            SELECT doc_id FROM documents
            WHERE doc_id % 10 <> 0
              AND doc_id NOT IN (SELECT id_a FROM hit)""",
        # hashing-trick scorer replayed independently: md5-60bit token
        # -> feature % 1024, stub weight from md5(feature:seed), mean
        # weight through a sigmoid (round 6 absorbs libm exp ulps)
        "llm49_classifier_score": """
            WITH t AS (SELECT doc_id,
                              list_filter(string_split(trim(
                                  regexp_replace(regexp_replace(
                                  lower(text), '[^a-z0-9\\s]', ' ', 'g'),
                                  '\\s+', ' ', 'g')), ' '),
                                  x -> x <> '') AS toks
                       FROM documents),
            e AS (SELECT doc_id, len(toks) AS n_tokens,
                         unnest(toks) AS tok
                  FROM t),
            f AS (SELECT doc_id, n_tokens,
                         CAST(concat('0x', substr(md5(tok), 1, 15))
                              AS BIGINT) % 1024 AS feat
                  FROM e),
            w AS (SELECT doc_id, n_tokens,
                         (CAST(concat('0x', substr(md5(concat(
                              CAST(feat AS VARCHAR), ':', '7')), 1, 15))
                              AS BIGINT) % 2001 - 1000) / 1000.0 AS wt
                  FROM f),
            agg AS (SELECT doc_id, any_value(n_tokens) AS n_tokens,
                           sum(wt) AS sw
                    FROM w GROUP BY doc_id)
            SELECT d.doc_id AS id,
                   CAST(coalesce(agg.n_tokens, 0) AS INTEGER)
                       AS n_tokens,
                   round(1.0 / (1.0 + exp(-(coalesce(agg.sw, 0.0) /
                         greatest(coalesce(agg.n_tokens, 0), 1)))), 6)
                       AS score
            FROM documents d LEFT JOIN agg ON d.doc_id = agg.doc_id""",
        # one full Lloyd iteration replayed in SQL: hash-ordered init,
        # argmin assignment (first-index ties both engines), per-dim
        # mean update (round 6 absorbs summation-order ulps), re-assign
        "llm50_kmeans": """
            WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
                       FROM embeddings),
            h AS (SELECT vec_id, v,
                         CAST(concat('0x', substr(md5(concat(
                              CAST(vec_id AS VARCHAR), ':', '42')),
                              1, 15)) AS BIGINT) AS hk
                  FROM e),
            init AS (SELECT row_number() OVER (ORDER BY hk, vec_id) - 1
                                AS c,
                            [round(x, 6) for x in v] AS cv
                     FROM h ORDER BY hk, vec_id LIMIT 4),
            d0 AS (SELECT h.vec_id, h.v, i.c,
                          list_sum([(z[1]-z[2])*(z[1]-z[2])
                                    for z in list_zip(h.v, i.cv)]) AS d
                   FROM h CROSS JOIN init i),
            a0 AS (SELECT vec_id, v, c FROM (
                     SELECT vec_id, v, c,
                            row_number() OVER (PARTITION BY vec_id
                                               ORDER BY d, c) AS rn
                     FROM d0) WHERE rn = 1),
            u AS (SELECT c, unnest(generate_series(1, len(v))) AS p, v
                  FROM a0),
            m AS (SELECT c, p, round(avg(v[p]), 6) AS m
                  FROM u GROUP BY c, p),
            dims AS (SELECT c, unnest(generate_series(1, len(cv)))
                                AS p, cv
                     FROM init),
            nc AS (SELECT d.c, d.p, coalesce(m.m, d.cv[d.p]) AS x
                   FROM dims d
                   LEFT JOIN m ON m.c = d.c AND m.p = d.p),
            cent1 AS (SELECT c, list(x ORDER BY p) AS cv
                      FROM nc GROUP BY c),
            d1 AS (SELECT h.vec_id, i.c,
                          list_sum([(z[1]-z[2])*(z[1]-z[2])
                                    for z in list_zip(h.v, i.cv)]) AS d
                   FROM h CROSS JOIN cent1 i),
            a1 AS (SELECT vec_id, c,
                          row_number() OVER (PARTITION BY vec_id
                                             ORDER BY d, c) AS rn
                   FROM d1)
            SELECT vec_id AS id, CAST(c AS INTEGER) AS cluster
            FROM a1 WHERE rn = 1""",
        # the llm50 pipeline at k=2 on the bounded verifier slice, then
        # the SemDeDup keep rule: survive unless a same-cluster smaller
        # id sits at cosine >= 0.4 (llm05's cosine-rounding premise)
        "llm51_semdedup": """
            WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
                       FROM embeddings
                       WHERE vec_id % 3 = 1 AND vec_id < 1200),
            h AS (SELECT vec_id, v,
                         CAST(concat('0x', substr(md5(concat(
                              CAST(vec_id AS VARCHAR), ':', '42')),
                              1, 15)) AS BIGINT) AS hk
                  FROM e),
            init AS (SELECT row_number() OVER (ORDER BY hk, vec_id) - 1
                                AS c,
                            [round(x, 6) for x in v] AS cv
                     FROM h ORDER BY hk, vec_id LIMIT 2),
            d0 AS (SELECT h.vec_id, h.v, i.c,
                          list_sum([(z[1]-z[2])*(z[1]-z[2])
                                    for z in list_zip(h.v, i.cv)]) AS d
                   FROM h CROSS JOIN init i),
            a0 AS (SELECT vec_id, v, c FROM (
                     SELECT vec_id, v, c,
                            row_number() OVER (PARTITION BY vec_id
                                               ORDER BY d, c) AS rn
                     FROM d0) WHERE rn = 1),
            u AS (SELECT c, unnest(generate_series(1, len(v))) AS p, v
                  FROM a0),
            m AS (SELECT c, p, round(avg(v[p]), 6) AS m
                  FROM u GROUP BY c, p),
            dims AS (SELECT c, unnest(generate_series(1, len(cv)))
                                AS p, cv
                     FROM init),
            nc AS (SELECT d.c, d.p, coalesce(m.m, d.cv[d.p]) AS x
                   FROM dims d
                   LEFT JOIN m ON m.c = d.c AND m.p = d.p),
            cent1 AS (SELECT c, list(x ORDER BY p) AS cv
                      FROM nc GROUP BY c),
            d1 AS (SELECT h.vec_id, h.v, i.c,
                          list_sum([(z[1]-z[2])*(z[1]-z[2])
                                    for z in list_zip(h.v, i.cv)]) AS d
                   FROM h CROSS JOIN cent1 i),
            a1 AS (SELECT vec_id, v, c FROM (
                     SELECT vec_id, v, c,
                            row_number() OVER (PARTITION BY vec_id
                                               ORDER BY d, c) AS rn
                     FROM d1) WHERE rn = 1),
            near AS (SELECT DISTINCT a.vec_id
                     FROM a1 a JOIN a1 b
                       ON a.c = b.c AND b.vec_id < a.vec_id
                     WHERE round(list_cosine_similarity(a.v, b.v), 6)
                           >= 0.4)
            SELECT a1.vec_id AS id, CAST(a1.c AS INTEGER) AS cluster
            FROM a1
            WHERE a1.vec_id NOT IN (SELECT vec_id FROM near)""",
        # vocabulary rollup recomputed from the same normalized token
        # stream: distinct tokens, occurrences, hapaxes per source
        "llm54_vocab_stats": """
            WITH t AS (SELECT source,
                              list_filter(string_split(trim(
                                  regexp_replace(regexp_replace(
                                  lower(text), '[^a-z0-9\\s]', ' ', 'g'),
                                  '\\s+', ' ', 'g')), ' '),
                                  x -> x <> '') AS toks
                       FROM documents),
            e AS (SELECT source AS grp, unnest(toks) AS tok FROM t),
            c AS (SELECT grp, tok, count(*) AS cnt
                  FROM e GROUP BY grp, tok)
            SELECT grp,
                   CAST(sum(cnt) AS BIGINT) AS total_tokens,
                   count(*) AS vocab_size,
                   CAST(sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END)
                        AS BIGINT) AS hapax_count,
                   round(count(*) / CAST(sum(cnt) AS DOUBLE), 6)
                       AS type_token_ratio
            FROM c GROUP BY grp""",
        # multi-epoch mixture: identical double-op order (max_epochs *
        # tok / w for T, then w * T / tok) so floor()/round() agree
        # bit-for-bit; copies expand via unnest(range) = Spark's
        # explode(sequence)
        "llm55_mixture_epochs": """
            WITH t AS (SELECT doc_id AS id, source,
                              CAST(len(string_split(trim(regexp_replace(
                                  regexp_replace(lower(text),
                                  '[^a-z0-9\\s]', ' ', 'g'),
                                  '\\s+', ' ', 'g')), ' ')) AS BIGINT)
                                  AS n_tokens
                       FROM documents),
            dom AS (SELECT source AS domain,
                           CAST(sum(n_tokens) AS DOUBLE) AS tok,
                           CASE source WHEN 'src0' THEN 0.4
                                       WHEN 'src1' THEN 0.3
                                       WHEN 'src2' THEN 0.2
                                       WHEN 'src3' THEN 0.1 END AS w
                    FROM t
                    WHERE source IN ('src0', 'src1', 'src2', 'src3')
                    GROUP BY source),
            tot AS (SELECT min(3.0 * tok / w) AS total FROM dom),
            r AS (SELECT domain, w * tot.total / tok AS f
                  FROM dom, tot),
            r2 AS (SELECT domain, CAST(floor(f) AS BIGINT) AS nfull,
                          CAST(round((f - floor(f)) * 1000000)
                               AS BIGINT) AS thresh
                   FROM r),
            base AS (SELECT t.id, t.source AS domain, t.n_tokens,
                            nfull + CASE WHEN
                                CAST(concat('0x', substr(md5(concat(
                                    CAST(t.id AS VARCHAR), ':', '42')),
                                    1, 15)) AS BIGINT) % 1000000
                                < thresh THEN 1 ELSE 0 END AS n
                     FROM t JOIN r2 ON t.source = r2.domain)
            SELECT id, domain, n_tokens,
                   CAST(unnest(range(1, n + 1)) AS INT) AS epoch
            FROM base WHERE n > 0""",
        # fixed-token shard assignment: sequential window replay of the
        # distributed per-bucket running sum; exact BIGINT division
        "llm56_shard_assign": """
            WITH t AS (SELECT doc_id AS id,
                              CAST(len(string_split(trim(regexp_replace(
                                  regexp_replace(lower(text),
                                  '[^a-z0-9\\s]', ' ', 'g'),
                                  '\\s+', ' ', 'g')), ' ')) AS BIGINT)
                                  AS n_tokens
                       FROM documents),
            k AS (SELECT id, n_tokens,
                         CAST(concat('0x', substr(md5(concat(
                              CAST(id AS VARCHAR), ':', '42')), 1, 15))
                              AS BIGINT) AS key
                  FROM t),
            c AS (SELECT id, n_tokens,
                         sum(n_tokens) OVER (ORDER BY key, id
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS cum
                  FROM k)
            SELECT id, n_tokens, CAST(cum AS BIGINT) AS cum_tokens,
                   (CAST(cum AS BIGINT) - n_tokens) // 5000 AS shard_id
            FROM c""",
        # int8 quantization replayed exactly (identical double ops:
        # scale = 127/max|x|, round half-away ints), then cosine over
        # the quantized vectors — int dot products are exact in
        # doubles, so the scores agree bit-for-bit across engines
        # same normalized token stream, pairs via the identical
        # substr sweep (DuckDB range(1, len) ≡ Spark sequence(1,
        # len-1)); (cnt desc, pair) is a total order so LIMIT is
        # deterministic on both engines
        "llm59_bpe_pairs": """
            WITH t AS (SELECT list_filter(string_split(trim(
                           regexp_replace(regexp_replace(lower(text),
                           '[^a-z0-9\\s]', ' ', 'g'),
                           '\\s+', ' ', 'g')), ' '),
                           x -> len(x) >= 2) AS toks
                       FROM documents),
            w AS (SELECT unnest(toks) AS w FROM t),
            p AS (SELECT unnest(list_transform(range(1, len(w)),
                      i -> substr(w, CAST(i AS INTEGER), 2))) AS pair
                  FROM w),
            c AS (SELECT pair, count(*) AS cnt FROM p GROUP BY pair)
            SELECT pair, cnt FROM c ORDER BY cnt DESC, pair LIMIT 50""",
        # utf8proc NFC vs CPython unicodedata NFC: identical by the
        # Unicode normalization-stability policy (fuzzed over
        # composed/decomposed/combining inputs in tests)
        "llm60_nfc_normalize": """
            SELECT doc_id AS id, nfc_normalize(text) AS text_nfc,
                   nfc_normalize(text) <> text AS changed
            FROM documents""",
        # exact-config Misra-Gries ≡ the plain frequency table; same
        # deterministic (est_cnt desc, tok) cut
        "llm61_heavy_hitters": """
            WITH t AS (SELECT string_split(trim(regexp_replace(
                           regexp_replace(lower(text),
                           '[^a-z0-9\\s]', ' ', 'g'),
                           '\\s+', ' ', 'g')), ' ') AS toks
                       FROM documents),
            e AS (SELECT unnest(toks) AS tok FROM t),
            c AS (SELECT tok, count(*) AS est_cnt FROM e
                  WHERE tok <> '' GROUP BY tok)
            SELECT tok, est_cnt FROM c
            ORDER BY est_cnt DESC, tok LIMIT 25""",
        "llm57_ann_quantized": """
            WITH q AS (SELECT vec_id AS id,
                              CASE WHEN list_max(list_transform(
                                       embedding::DOUBLE[],
                                       x -> abs(x))) > 0
                                   THEN 127.0 / list_max(list_transform(
                                       embedding::DOUBLE[],
                                       x -> abs(x)))
                                   ELSE 0.0 END AS scale,
                              embedding::DOUBLE[] AS v
                       FROM embeddings),
            qq AS (SELECT id, list_transform(
                       v, x -> CAST(round(x * scale) AS INT)) AS qvec
                   FROM q)
            SELECT a.id,
                   round(list_cosine_similarity(a.qvec::DOUBLE[],
                         (SELECT qvec::DOUBLE[] FROM qq WHERE id = 0)),
                         6) AS cosine
            FROM qq a WHERE a.id <> 0
            ORDER BY cosine DESC, id ASC LIMIT 10""",
        # identical RE2-safe regex chain + literal entity replaces,
        # &amp; decoded last on both engines
        "llm53_html_strip": """
            WITH s1 AS (SELECT doc_id,
                               regexp_matches(text, '<[A-Za-z!/]')
                                   AS had_html,
                               regexp_replace(text,
                                   '(?is)<script\\b[^>]*>.*?</script[ \\t]*>',
                                   ' ', 'g') AS t FROM documents),
            s2 AS (SELECT doc_id, had_html,
                          regexp_replace(t,
                              '(?is)<style\\b[^>]*>.*?</style[ \\t]*>',
                              ' ', 'g') AS t FROM s1),
            s3 AS (SELECT doc_id, had_html,
                          regexp_replace(t, '(?s)<!--.*?-->', ' ', 'g')
                              AS t FROM s2),
            s4 AS (SELECT doc_id, had_html,
                          regexp_replace(t, '</?[A-Za-z][^>]*>', ' ',
                                         'g') AS t FROM s3),
            s5 AS (SELECT doc_id, had_html,
                          replace(replace(replace(replace(replace(
                              replace(t,
                              '&lt;', '<'), '&gt;', '>'),
                              '&quot;', '"'), '&#39;', chr(39)),
                              '&nbsp;', ' '), '&amp;', '&') AS t
                   FROM s4)
            SELECT doc_id AS id,
                   trim(regexp_replace(t,
                        '[ \\t\\n\\x0B\\f\\r\\x{00A0}]+', ' ',
                        'g')) AS clean_text,
                   had_html
            FROM s5""",
        # char-trigram Laplace LM replayed in SQL: same normalized
        # stream, same (c3+1)/(c2+37) smoothing; unseen trigrams and
        # prefixes fall out of the left joins' NULL->0 identically
        "llm52_lm_perplexity": """
            WITH n AS (SELECT doc_id,
                              trim(regexp_replace(regexp_replace(
                                  lower(text), '[^a-z0-9\\s]', ' ', 'g'),
                                  '\\s+', ' ', 'g')) AS norm
                       FROM documents),
            g AS (SELECT doc_id,
                         [substr(norm, i, 3)
                          for i in range(1, greatest(len(norm)-1, 1))]
                             AS gs
                  FROM n),
            e AS (SELECT doc_id, unnest(gs) AS gram FROM g),
            m AS (SELECT gram, count(*) AS cnt FROM e GROUP BY gram),
            p AS (SELECT substr(gram, 1, 2) AS pre, sum(cnt) AS c2
                  FROM m GROUP BY 1),
            s AS (SELECT e.doc_id,
                         ln((coalesce(m.cnt, 0) + 1.0) /
                            (coalesce(p.c2, 0) + 37.0)) AS lp
                  FROM e
                  LEFT JOIN m USING (gram)
                  LEFT JOIN p ON substr(e.gram, 1, 2) = p.pre),
            a AS (SELECT doc_id, count(*) AS n_grams,
                         round(avg(lp), 6) AS avg_logp
                  FROM s GROUP BY doc_id)
            SELECT d.doc_id AS id,
                   CAST(coalesce(a.n_grams, 0) AS BIGINT) AS n_grams,
                   a.avg_logp,
                   round(exp(-a.avg_logp), 6) AS ppl
            FROM documents d LEFT JOIN a ON d.doc_id = a.doc_id""",
        # dataset-card stats: exact percentiles (quantile_cont uses the
        # same p*(n-1) linear interpolation as Spark's percentile)
        "llm46_corpus_stats": """
            WITH t AS (SELECT doc_id, source,
                              CAST(len(string_split(trim(regexp_replace(
                                  regexp_replace(lower(text),
                                  '[^a-z0-9\\s]', ' ', 'g'),
                                  '\\s+', ' ', 'g')), ' ')) AS BIGINT)
                                  AS n_tokens
                       FROM documents)
            SELECT source AS grp,
                   count(*) AS n_docs,
                   CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
                   round(avg(n_tokens), 6) AS mean_tokens,
                   round(quantile_cont(n_tokens, 0.5), 6) AS p50_tokens,
                   round(quantile_cont(n_tokens, 0.9), 6) AS p90_tokens,
                   round(quantile_cont(n_tokens, 0.99), 6) AS p99_tokens
            FROM t GROUP BY source""",
        # the whole curation pipeline with cross-engine-exact stages:
        # normalize-key dedup survivors -> quality >= 0.3 gate ->
        # md5 id-hash 90/10 split (seed 11) -> ws-token counts ->
        # next-fit packing at budget 1024 (llm36's recurrence)
        "llm39_pipeline_verified": """
            WITH RECURSIVE
            k AS (SELECT doc_id, text,
                         trim(regexp_replace(regexp_replace(lower(text),
                              '[^a-z0-9\\s]', ' ', 'g'),
                              '\\s+', ' ', 'g')) AS nk
                  FROM documents),
            surv AS (SELECT min(doc_id) AS doc_id FROM k GROUP BY nk),
            qt AS (SELECT doc_id, text,
                          string_split(trim(regexp_replace(
                              regexp_replace(lower(text),
                              '[^a-z0-9\\s]', ' ', 'g'),
                              '\\s+', ' ', 'g')), ' ') AS toks
                   FROM documents),
            qm AS (SELECT doc_id,
                          least(length(text) / 500.0, 1.0) AS len_score,
                          length(regexp_replace(text, '[^A-Za-z]', '',
                                                'g'))
                            / greatest(length(text), 1)::DOUBLE
                            AS alpha_ratio,
                          len(list_filter(toks, x -> x IN
                              ('the','a','and','of','to','in','is','it',
                               'that','for')))::DOUBLE
                            / greatest(len(toks), 1) AS stop_ratio,
                          list_sum(list_transform(toks,
                                                  x -> length(x)))::DOUBLE
                            / greatest(len(toks), 1) AS mean_wlen
                   FROM qt),
            q AS (SELECT doc_id FROM qm
                  WHERE round(0.3 * len_score + 0.3 * alpha_ratio
                        + 0.2 * least(stop_ratio * 5, 1.0)
                        + 0.2 * (CASE WHEN mean_wlen >= 3
                                       AND mean_wlen <= 8
                                      THEN 1.0 ELSE 0.5 END), 6) >= 0.3),
            keep AS (SELECT d.doc_id, d.text FROM documents d
                     JOIN surv USING (doc_id) JOIN q USING (doc_id)),
            tr AS (SELECT doc_id, text FROM keep
                   WHERE CAST(concat('0x', substr(md5(concat(
                         CAST(doc_id AS VARCHAR), ':', '11')), 1, 15))
                         AS BIGINT) % 1000000 < 900000),
            t AS (SELECT doc_id AS id,
                         CAST(len(string_split(trim(regexp_replace(
                             regexp_replace(lower(text),
                             '[^a-z0-9\\s]', ' ', 'g'),
                             '\\s+', ' ', 'g')), ' ')) AS BIGINT)
                             AS n_tokens
                  FROM tr),
            o AS (SELECT id, n_tokens,
                         row_number() OVER (ORDER BY n_tokens DESC, id)
                             AS rn
                  FROM t),
            pk(rn, id, n_tokens, pack_id, free) AS (
              SELECT rn, id, n_tokens, CAST(0 AS BIGINT),
                     CAST(greatest(1024 - n_tokens, 0) AS BIGINT)
              FROM o WHERE rn = 1
              UNION ALL
              SELECT o.rn, o.id, o.n_tokens,
                     CASE WHEN o.n_tokens <= pk.free THEN pk.pack_id
                          ELSE pk.pack_id + 1 END,
                     CASE WHEN o.n_tokens <= pk.free
                          THEN pk.free - o.n_tokens
                          ELSE CAST(greatest(1024 - o.n_tokens, 0)
                                    AS BIGINT) END
              FROM pk JOIN o ON o.rn = pk.rn + 1)
            SELECT id, n_tokens, pack_id FROM pk""",
        # C4 rule recomputed with DuckDB list functions: keep lines
        # ending in terminal punctuation with >= 3 words
        "llm33_c4_line_filter": """
            WITH l AS (
                SELECT doc_id, string_split(text, chr(10)) AS lines
                FROM documents),
            k AS (
                SELECT doc_id, lines,
                       list_filter(lines, ln ->
                           regexp_matches(ln,
                               '[.!?"][ \\t\\n\\x0B\\f\\r]*$') AND
                           len(list_filter(string_split_regex(ln,
                               '[ \\t\\n\\x0B\\f\\r]+'),
                               w -> w <> '')) >= 3) AS kept
                FROM l)
            SELECT doc_id AS id,
                   coalesce(array_to_string(kept, chr(10)), '')
                       AS clean_text,
                   CAST(len(lines) AS INTEGER) AS n_lines,
                   CAST(len(kept) AS INTEGER) AS n_kept
            FROM k""",
        # same RE2-safe patterns, same email -> ip -> phone order
        "llm34_pii_redact": """
            WITH s1 AS (
                SELECT doc_id,
                       CAST(len(regexp_extract_all(text,
                            '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))
                            AS INTEGER) AS n_emails,
                       regexp_replace(text,
                            '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
                            '<EMAIL>', 'g') AS t1
                FROM documents),
            s2 AS (
                SELECT doc_id, n_emails,
                       CAST(len(regexp_extract_all(t1,
                            '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b'))
                            AS INTEGER) AS n_ips,
                       regexp_replace(t1,
                            '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b',
                            '<IP>', 'g') AS t2
                FROM s1)
            SELECT doc_id AS id,
                   regexp_replace(t2,
                        '\\+?\\d[\\d \\t\\n\\x0B\\f\\r().-]{7,}\\d',
                        '<PHONE>', 'g') AS redacted,
                   n_emails, n_ips,
                   CAST(len(regexp_extract_all(t2,
                        '\\+?\\d[\\d \\t\\n\\x0B\\f\\r().-]{7,}\\d'))
                        AS INTEGER) AS n_phones
            FROM s2""",
        # md5-derived id hash (see assemble.md5_id_hash) — the oracle
        # recomputes bucket = md5-60-bit(id || ':' || seed) % 1e6 and
        # applies the same cumulative-fraction thresholds
        "llm29_split_verified": """
            SELECT doc_id,
                   CASE WHEN CAST(concat('0x', substr(md5(concat(
                             CAST(doc_id AS VARCHAR), ':', '42')), 1, 15))
                             AS BIGINT) % 1000000 < 800000 THEN 'train'
                        WHEN CAST(concat('0x', substr(md5(concat(
                             CAST(doc_id AS VARCHAR), ':', '42')), 1, 15))
                             AS BIGINT) % 1000000 < 900000 THEN 'val'
                        ELSE 'test' END AS split
            FROM documents""",
        "llm30_shuffle_key_verified": """
            SELECT doc_id,
                   CAST(concat('0x', substr(md5(concat(
                        CAST(doc_id AS VARCHAR), ':', '7')), 1, 15))
                        AS BIGINT) AS shuffle_key
            FROM documents""",
        "llm31_stratified_verified": """
            WITH b AS (
                SELECT doc_id, lang,
                       CAST(concat('0x', substr(md5(concat(
                            CAST(doc_id AS VARCHAR), ':', '7')), 1, 15))
                            AS BIGINT) % 1000000 AS bucket
                FROM documents)
            SELECT doc_id, lang FROM b
            WHERE (lang = 'en' AND bucket < 500000)
               OR (lang = 'de' AND bucket < 250000)
               OR (lang = 'fr' AND bucket < 250000)""",
        # the md5-derived token hash is bit-identical across engines, so
        # the oracle recomputes the whole simhash pipeline independently:
        # normalize -> tokenize -> 60-bit token hash -> 64-lane majority
        # fold -> all-pairs hamming <= 3 (the Spark side's chunk-bucket
        # candidates are pigeonhole-complete, so the sets are equal)
        "llm28_simhash_verified_pairs": """
            WITH tok AS (
                SELECT doc_id,
                       unnest(string_split(trim(regexp_replace(
                           lower(text), '[^a-z0-9]+', ' ', 'g')), ' '))
                           AS t
                FROM documents),
            th AS (
                SELECT doc_id,
                       CAST(concat('0x', substr(md5(t), 1, 15)) AS BIGINT)
                           AS h
                FROM tok),
            lanes AS (
                SELECT doc_id, lane,
                       CASE WHEN sum(2 * ((h >> lane) & 1) - 1) > 0
                            THEN 1::BIGINT ELSE 0::BIGINT END AS bit
                FROM th, (SELECT unnest(range(60)) AS lane) AS l
                GROUP BY doc_id, lane),
            sig AS (
                SELECT doc_id, CAST(sum(bit << lane) AS BIGINT) AS simhash
                FROM lanes GROUP BY doc_id)
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER)
                       AS hamming
            FROM sig a JOIN sig b ON a.doc_id < b.doc_id
            WHERE bit_count(xor(a.simhash, b.simhash)) <= 3""",
        # sign-bit LSH probing all 2^planes buckets == brute force ->
        # llm06's oracle applies verbatim
        "llm27_ann_lsh_exhaustive": """
            SELECT vec_id AS id,
                   round(list_cosine_similarity(embedding::DOUBLE[],
                         (SELECT embedding::DOUBLE[] FROM embeddings
                          WHERE vec_id = 0)), 6) AS cosine
            FROM embeddings WHERE vec_id <> 0
            ORDER BY cosine DESC, id ASC LIMIT 10""",
        # IVF with nprobe == nlist searches every cell, so its result is
        # provably the exact top-k (same oracle as brute force); the
        # pruned nprobe<nlist variant (llm15) is rows-only by nature
        "llm16_ann_ivf_exhaustive": """
            SELECT vec_id AS id,
                   round(list_cosine_similarity(embedding::DOUBLE[],
                         (SELECT embedding::DOUBLE[] FROM embeddings
                          WHERE vec_id = 0)), 6) AS cosine
            FROM embeddings WHERE vec_id <> 0
            ORDER BY cosine DESC, id ASC LIMIT 10""",
        "llm08_token_stats": """
            SELECT doc_id AS id,
                   len(string_split(trim(regexp_replace(regexp_replace(
                       lower(text), '[^a-z0-9\\s]', ' ', 'g'),
                       '\\s+', ' ', 'g')), ' ')) AS ws_tokens,
                   len(regexp_extract_all(text,
                       '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \\t\\n\\x0B\\f\\r]'))
                       AS re_tokens,
                   length(text) AS chars
            FROM documents""",
        "llm09_lang_id": """
            WITH t AS (SELECT doc_id,
                              string_split(trim(regexp_replace(
                                  regexp_replace(lower(text),
                                  '[^a-z0-9\\s]', ' ', 'g'),
                                  '\\s+', ' ', 'g')), ' ') AS toks
                       FROM documents),
                 s AS (SELECT doc_id,
                              greatest(len(toks), 1) AS n,
                              len(list_filter(toks, x -> x IN ('the','a','and','of','to','in','is','it','that','for')))::DOUBLE / greatest(len(toks),1) AS s_en,
                              len(list_filter(toks, x -> x IN ('el','la','de','que','y','en','un','es','se','no')))::DOUBLE / greatest(len(toks),1) AS s_es,
                              len(list_filter(toks, x -> x IN ('der','die','das','und','ist','in','den','von','zu','mit')))::DOUBLE / greatest(len(toks),1) AS s_de,
                              len(list_filter(toks, x -> x IN ('le','la','de','et','est','un','une','les','des','en')))::DOUBLE / greatest(len(toks),1) AS s_fr
                       FROM t)
            SELECT doc_id AS id,
                   CASE WHEN s_de > 0 AND s_de = greatest(s_en,s_es,s_de,s_fr) THEN 'de'
                        WHEN s_en > 0 AND s_en = greatest(s_en,s_es,s_de,s_fr) THEN 'en'
                        WHEN s_es > 0 AND s_es = greatest(s_en,s_es,s_de,s_fr) THEN 'es'
                        WHEN s_fr > 0 AND s_fr = greatest(s_en,s_es,s_de,s_fr) THEN 'fr'
                        ELSE 'und' END AS lang_pred,
                   round(greatest(s_en,s_es,s_de,s_fr), 6) AS lang_score
            FROM s""",
        "llm10_quality_score": """
            WITH t AS (SELECT doc_id, text,
                              string_split(trim(regexp_replace(
                                  regexp_replace(lower(text),
                                  '[^a-z0-9\\s]', ' ', 'g'),
                                  '\\s+', ' ', 'g')), ' ') AS toks
                       FROM documents),
                 m AS (SELECT doc_id,
                              least(length(text) / 500.0, 1.0) AS len_score,
                              length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
                                / greatest(length(text), 1)::DOUBLE AS alpha_ratio,
                              len(list_filter(toks, x -> x IN ('the','a','and','of','to','in','is','it','that','for')))::DOUBLE
                                / greatest(len(toks), 1) AS stop_ratio,
                              list_sum(list_transform(toks, x -> length(x)))::DOUBLE
                                / greatest(len(toks), 1) AS mean_wlen
                       FROM t)
            SELECT doc_id AS id,
                   round(0.3 * len_score + 0.3 * alpha_ratio
                         + 0.2 * least(stop_ratio * 5, 1.0)
                         + 0.2 * (CASE WHEN mean_wlen >= 3 AND mean_wlen <= 8
                                       THEN 1.0 ELSE 0.5 END), 6) AS quality
            FROM m""",
        "llm11_fingerprint": """
            SELECT doc_id AS id,
                   md5(array_to_string(list_sort(list_distinct(
                       string_split(trim(regexp_replace(regexp_replace(
                           lower(text), '[^a-z0-9\\s]', ' ', 'g'),
                           '\\s+', ' ', 'g')), ' '))), ' ')) AS fingerprint
            FROM documents""",
        "llm12_multimodal_decode": """
            SELECT doc_id AS id,
                   octet_length(encode(text)) AS byte_len,
                   CASE octet_length(encode(text)) % 3
                        WHEN 0 THEN 'jpeg' WHEN 1 THEN 'png'
                        ELSE 'webp' END AS format,
                   CAST(octet_length(encode(text)) % 640 + 1 AS INTEGER)
                       AS width,
                   CAST(octet_length(encode(text)) % 480 + 1 AS INTEGER)
                       AS height,
                   3 AS channels
            FROM documents""",
        "llm13_frame_sample": """
            SELECT doc_id AS id,
                   CAST(octet_length(encode(text)) // 4096 + 1 AS INTEGER)
                       AS n_frames,
                   array_to_string(
                       [CAST(i AS BIGINT) for i in
                        range(0, octet_length(encode(text)), 4096)], ',')
                       AS frame_offsets
            FROM documents""",
        "q35_delta_sliding": """
            WITH mx AS (SELECT user_id, min(value) AS vmin,
                               max(value) AS vmax
                        FROM events GROUP BY user_id),
                 tr AS (SELECT user_id,
                               unnest(generate_series(
                                   CAST(ceil(vmin/20) AS BIGINT)*20,
                                   CAST(floor(vmax/20) AS BIGINT)*20,
                                   20)) AS trig
                        FROM mx)
            SELECT t.user_id, count(*) AS cnt,
                   round(sum(e.value), 2) AS sv,
                   t.trig AS trigger
            FROM tr t JOIN events e
              ON e.user_id = t.user_id
             AND e.value > t.trig - 50 AND e.value <= t.trig
            GROUP BY t.user_id, t.trig""",
        # --- true streaming execution (SURVEY §2.9) ---
        "s01_stream_time_window": """
            SELECT event_type, count(*) AS cnt,
                   make_timestamp(CAST(floor(epoch(ts)/3600) AS BIGINT)
                                  * 3600 * 1000000) AS window_start,
                   make_timestamp((CAST(floor(epoch(ts)/3600) AS BIGINT) + 1)
                                  * 3600 * 1000000) AS window_end
            FROM events GROUP BY event_type, window_start, window_end""",
        "s02_stream_count_window": """
            WITH r AS (SELECT user_id, value,
                              row_number() OVER (PARTITION BY user_id
                                                 ORDER BY ts, event_id) AS rn
                       FROM events),
                 c AS (SELECT user_id, (rn - 1) // 5 AS window_no,
                              count(*) OVER (PARTITION BY user_id,
                                             (rn - 1) // 5) AS wsz,
                              value
                       FROM r)
            SELECT user_id, window_no, round(sum(value), 2) AS sv,
                   count(value) AS n, max(value) AS mx
            FROM c WHERE wsz = 5
            GROUP BY user_id, window_no""",
        "s03_stream_windowed_join": """
            SELECT a.event_id AS event_id, b.event_id AS id2
            FROM events a JOIN events b
              ON a.user_id = b.user_id
             AND time_bucket(INTERVAL 10 MINUTE, a.ts)
                 = time_bucket(INTERVAL 10 MINUTE, b.ts)""",
        "s04_stream_delta_window": """
            WITH mx AS (SELECT user_id, min(value) AS vmin,
                               max(value) AS vmax
                        FROM events GROUP BY user_id),
                 tr AS (SELECT user_id,
                               unnest(generate_series(
                                   CAST(ceil(vmin/20) AS BIGINT)*20,
                                   CAST(ceil(vmax/20) AS BIGINT)*20 - 20,
                                   20)) AS trig
                        FROM mx)
            SELECT t.user_id, count(*) AS cnt,
                   round(sum(e.value), 2) AS sv,
                   CAST(t.trig AS DOUBLE) AS trigger
            FROM tr t JOIN events e
              ON e.user_id = t.user_id
             AND e.value > t.trig - 50 AND e.value <= t.trig
            GROUP BY t.user_id, t.trig""",
        "s05_stream_session_window": """
            WITH o AS (
              SELECT user_id, ts,
                     CASE WHEN lag(ts) OVER w IS NULL
                           OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
                          THEN 1 ELSE 0 END AS ns
              FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
            s AS (SELECT *, sum(ns) OVER
                       (PARTITION BY user_id ORDER BY ts
                        ROWS UNBOUNDED PRECEDING) AS sess FROM o)
            SELECT user_id, count(*) AS n,
                   min(ts) AS window_start,
                   max(ts) + INTERVAL 1800 SECOND AS window_end
            FROM s GROUP BY user_id, sess""",
        "s06_stream_count_sliding": """
            WITH r AS (SELECT user_id, value,
                              row_number() OVER (PARTITION BY user_id
                                                 ORDER BY ts) AS rn
                       FROM events),
                 tr AS (SELECT user_id, rn AS trig FROM r
                        WHERE rn % 3 = 0)
            SELECT t.user_id, count(*) AS cnt,
                   round(sum(e.value), 2) AS sv,
                   CAST(t.trig AS BIGINT) AS trigger
            FROM tr t JOIN r e
              ON e.user_id = t.user_id
             AND e.rn > t.trig - 6 AND e.rn <= t.trig
            GROUP BY t.user_id, t.trig""",
        "s07_stream_time_sliding": """
            WITH b AS (SELECT *, CAST(floor(epoch(ts)/3600) AS BIGINT) AS hb
                       FROM events),
                 u AS (SELECT *, unnest([hb - 1, hb]) AS ws FROM b)
            SELECT event_type, count(*) AS cnt,
                   make_timestamp(ws * 3600 * 1000000) AS window_start,
                   make_timestamp((ws + 2) * 3600 * 1000000) AS window_end
            FROM u GROUP BY event_type, ws""",
        # streaming dedup emits each (user_id, event_type) key once —
        # key-only projection makes arrival order irrelevant
        "s08_stream_dedup": """
            SELECT DISTINCT user_id, event_type FROM events""",
        # stateless streaming projection == batch result: the llm10
        # quality oracle verbatim
        "s09_stream_quality": """
            WITH t AS (SELECT doc_id, text,
                              string_split(trim(regexp_replace(
                                  regexp_replace(lower(text),
                                  '[^a-z0-9\\s]', ' ', 'g'),
                                  '\\s+', ' ', 'g')), ' ') AS toks
                       FROM documents),
                 m AS (SELECT doc_id,
                              least(length(text) / 500.0, 1.0) AS len_score,
                              length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
                                / greatest(length(text), 1)::DOUBLE AS alpha_ratio,
                              len(list_filter(toks, x -> x IN ('the','a','and','of','to','in','is','it','that','for')))::DOUBLE
                                / greatest(len(toks), 1) AS stop_ratio,
                              list_sum(list_transform(toks, x -> length(x)))::DOUBLE
                                / greatest(len(toks), 1) AS mean_wlen
                       FROM t)
            SELECT doc_id AS id,
                   round(0.3 * len_score + 0.3 * alpha_ratio
                         + 0.2 * least(stop_ratio * 5, 1.0)
                         + 0.2 * (CASE WHEN mean_wlen >= 3 AND mean_wlen <= 8
                                       THEN 1.0 ELSE 0.5 END), 6) AS quality
            FROM m""",
        # --- X surface (expression-string Table API, SURVEY §2.8-X) ---
        "x01_expr_projection": """
            SELECT event_id, (value + 1) * 2 AS v2,
                   substr(event_type, 1, 3) AS pre
            FROM events""",
        "x02_expr_filter_groupby": """
            SELECT user_id, min(value) AS min_v, max(value) AS max_v,
                   count(value) AS n
            FROM events
            WHERE value > 100.0 AND NOT event_type = 'click'
            GROUP BY user_id""",
        "x03_expr_bitwise_unary": """
            SELECT event_id, (event_id & 7) + 1 AS k,
                   -event_id AS neg, ~event_id AS flip,
                   value IS NOT NULL AS nn
            FROM events""",
    }
