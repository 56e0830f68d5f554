"""TPC-H q1-q22 query text with qgen-style substitution parameters.

The templates are the public TPC-H specification text (clause 2.4), in
the common SQL subset Spark and DuckDB both parse: ``substring(x, a, b)``
for ``substring(x from a for b)`` and intervals without the precision
suffix.  q15 keeps the spec's CREATE VIEW / query / DROP VIEW form; its
view body aliases its columns, because Spark refuses a permanent view over
an unaliased aggregate.

``parameters(seed, sf)`` draws every substitution parameter from the
ranges of spec clause 2.4.x.3 with a ``random.Random(seed)``, so one seed
always yields the same 22 statements.  ``statements(qn, params)`` returns
the statements of query ``qn`` in execution order; the last SELECT is the
answer.
"""

from __future__ import annotations

import random
from datetime import date

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
NATIONS = [  # (name, regionkey), spec clause 4.2.3
    ("ALGERIA", 0), ("ARGENTINA", 1), ("BRAZIL", 1), ("CANADA", 1),
    ("EGYPT", 4), ("ETHIOPIA", 0), ("FRANCE", 3), ("GERMANY", 3),
    ("INDIA", 2), ("INDONESIA", 2), ("IRAN", 4), ("IRAQ", 4),
    ("JAPAN", 2), ("JORDAN", 4), ("KENYA", 0), ("MOROCCO", 0),
    ("MOZAMBIQUE", 0), ("PERU", 1), ("CHINA", 2), ("ROMANIA", 3),
    ("SAUDI ARABIA", 4), ("VIETNAM", 2), ("RUSSIA", 3),
    ("UNITED KINGDOM", 3), ("UNITED STATES", 1),
]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "MACHINERY", "HOUSEHOLD"]
TYPE_S1 = ["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"]
TYPE_S2 = ["ANODIZED", "BURNISHED", "PLATED", "POLISHED", "BRUSHED"]
TYPE_S3 = ["TIN", "NICKEL", "BRASS", "STEEL", "COPPER"]
CONTAINER_S1 = ["SM", "LG", "MED", "JUMBO", "WRAP"]
CONTAINER_S2 = ["CASE", "BOX", "BAG", "JAR", "PKG", "PACK", "CAN", "DRUM"]
MODES = ["REG AIR", "AIR", "RAIL", "SHIP", "TRUCK", "MAIL", "FOB"]
COLORS = """almond antique aquamarine azure beige bisque black blanched
blue blush brown burlywood burnished chartreuse chiffon chocolate coral
cornflower cornsilk cream cyan dark deep dim dodger drab firebrick floral
forest frosted gainsboro ghost goldenrod green grey honeydew hot indian
ivory khaki lace lavender lawn lemon light lime linen magenta maroon medium
metallic midnight mint misty moccasin navajo navy olive orange orchid pale
papaya peach peru pink plum powder puff purple red rose rosy royal saddle
salmon sandy seashell sienna sky slate smoke snow spring steel tan thistle
tomato turquoise violet wheat white yellow""".split()


def _month(rng: random.Random, first: tuple[int, int], last: tuple[int, int]) -> str:
    """First day of a month drawn uniformly from [first, last]."""
    lo = first[0] * 12 + first[1] - 1
    hi = last[0] * 12 + last[1] - 1
    m = rng.randint(lo, hi)
    return date(m // 12, m % 12 + 1, 1).isoformat()


def _year(rng: random.Random) -> str:
    return date(rng.randint(1993, 1997), 1, 1).isoformat()


def _brand(rng: random.Random) -> str:
    return f"Brand#{rng.randint(1, 5)}{rng.randint(1, 5)}"


def parameters(seed: int, sf: float) -> dict[int, dict[str, object]]:
    rng = random.Random(seed)
    p: dict[int, dict[str, object]] = {}
    p[1] = {"delta": rng.randint(60, 120)}
    p[2] = {
        "size": rng.randint(1, 50),
        "type": rng.choice(TYPE_S3),
        "region": rng.choice(REGIONS),
    }
    p[3] = {
        "segment": rng.choice(SEGMENTS),
        "date": date(1995, 3, rng.randint(1, 31)).isoformat(),
    }
    p[4] = {"date": _month(rng, (1993, 1), (1997, 10))}
    p[5] = {"region": rng.choice(REGIONS), "date": _year(rng)}
    p[6] = {
        "date": _year(rng),
        "discount": rng.randint(2, 9) / 100,
        "quantity": rng.randint(24, 25),
    }
    n1, n2 = rng.sample([n for n, _ in NATIONS], 2)
    p[7] = {"nation1": n1, "nation2": n2}
    nation, rk = rng.choice(NATIONS)
    p[8] = {
        "nation": nation,
        "region": REGIONS[rk],
        "type": " ".join(
            (rng.choice(TYPE_S1), rng.choice(TYPE_S2), rng.choice(TYPE_S3))
        ),
    }
    p[9] = {"color": rng.choice(COLORS)}
    p[10] = {"date": _month(rng, (1993, 2), (1995, 1))}
    p[11] = {
        "nation": rng.choice(NATIONS)[0],
        "fraction": f"{0.0001 / sf:.10f}",
    }
    m1, m2 = rng.sample(MODES, 2)
    p[12] = {"shipmode1": m1, "shipmode2": m2, "date": _year(rng)}
    p[13] = {
        "word1": rng.choice(["special", "pending", "unusual", "express"]),
        "word2": rng.choice(["packages", "requests", "accounts", "deposits"]),
    }
    p[14] = {"date": _month(rng, (1993, 1), (1997, 12))}
    p[15] = {"date": _month(rng, (1993, 1), (1997, 10))}
    p[16] = {
        "brand": _brand(rng),
        "type": f"{rng.choice(TYPE_S1)} {rng.choice(TYPE_S2)}",
        "sizes": ", ".join(str(s) for s in rng.sample(range(1, 51), 8)),
    }
    p[17] = {
        "brand": _brand(rng),
        "container": f"{rng.choice(CONTAINER_S1)} {rng.choice(CONTAINER_S2)}",
    }
    p[18] = {"quantity": rng.randint(312, 315)}
    p[19] = {
        "quantity1": rng.randint(1, 10),
        "quantity2": rng.randint(10, 20),
        "quantity3": rng.randint(20, 30),
        "brand1": _brand(rng),
        "brand2": _brand(rng),
        "brand3": _brand(rng),
    }
    p[20] = {
        "color": rng.choice(COLORS),
        "date": _year(rng),
        "nation": rng.choice(NATIONS)[0],
    }
    p[21] = {"nation": rng.choice(NATIONS)[0]}
    p[22] = {
        "codes": ", ".join(f"'{c}'" for c in rng.sample(range(10, 35), 7))
    }
    return p


TEMPLATES: dict[int, str] = {
    1: """
select l_returnflag, l_linestatus,
       sum(l_quantity) as sum_qty,
       sum(l_extendedprice) as sum_base_price,
       sum(l_extendedprice * (1 - l_discount)) as sum_disc_price,
       sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)) as sum_charge,
       avg(l_quantity) as avg_qty,
       avg(l_extendedprice) as avg_price,
       avg(l_discount) as avg_disc,
       count(*) as count_order
from lineitem
where l_shipdate <= date '1998-12-01' - interval '{delta}' day
group by l_returnflag, l_linestatus
order by l_returnflag, l_linestatus
""",
    2: """
select s_acctbal, s_name, n_name, p_partkey, p_mfgr, s_address, s_phone,
       s_comment
from part, supplier, partsupp, nation, region
where p_partkey = ps_partkey
  and s_suppkey = ps_suppkey
  and p_size = {size}
  and p_type like '%{type}'
  and s_nationkey = n_nationkey
  and n_regionkey = r_regionkey
  and r_name = '{region}'
  and ps_supplycost = (
      select min(ps_supplycost)
      from partsupp, supplier, nation, region
      where p_partkey = ps_partkey
        and s_suppkey = ps_suppkey
        and s_nationkey = n_nationkey
        and n_regionkey = r_regionkey
        and r_name = '{region}')
order by s_acctbal desc, n_name, s_name, p_partkey
limit 100
""",
    3: """
select l_orderkey,
       sum(l_extendedprice * (1 - l_discount)) as revenue,
       o_orderdate, o_shippriority
from customer, orders, lineitem
where c_mktsegment = '{segment}'
  and c_custkey = o_custkey
  and l_orderkey = o_orderkey
  and o_orderdate < date '{date}'
  and l_shipdate > date '{date}'
group by l_orderkey, o_orderdate, o_shippriority
order by revenue desc, o_orderdate
limit 10
""",
    4: """
select o_orderpriority, count(*) as order_count
from orders
where o_orderdate >= date '{date}'
  and o_orderdate < date '{date}' + interval '3' month
  and exists (
      select * from lineitem
      where l_orderkey = o_orderkey and l_commitdate < l_receiptdate)
group by o_orderpriority
order by o_orderpriority
""",
    5: """
select n_name, sum(l_extendedprice * (1 - l_discount)) as revenue
from customer, orders, lineitem, supplier, nation, region
where c_custkey = o_custkey
  and l_orderkey = o_orderkey
  and l_suppkey = s_suppkey
  and c_nationkey = s_nationkey
  and s_nationkey = n_nationkey
  and n_regionkey = r_regionkey
  and r_name = '{region}'
  and o_orderdate >= date '{date}'
  and o_orderdate < date '{date}' + interval '1' year
group by n_name
order by revenue desc
""",
    6: """
select sum(l_extendedprice * l_discount) as revenue
from lineitem
where l_shipdate >= date '{date}'
  and l_shipdate < date '{date}' + interval '1' year
  and l_discount between {discount} - 0.01 and {discount} + 0.01
  and l_quantity < {quantity}
""",
    7: """
select supp_nation, cust_nation, l_year, sum(volume) as revenue
from (
    select n1.n_name as supp_nation, n2.n_name as cust_nation,
           extract(year from l_shipdate) as l_year,
           l_extendedprice * (1 - l_discount) as volume
    from supplier, lineitem, orders, customer, nation n1, nation n2
    where s_suppkey = l_suppkey
      and o_orderkey = l_orderkey
      and c_custkey = o_custkey
      and s_nationkey = n1.n_nationkey
      and c_nationkey = n2.n_nationkey
      and ((n1.n_name = '{nation1}' and n2.n_name = '{nation2}')
        or (n1.n_name = '{nation2}' and n2.n_name = '{nation1}'))
      and l_shipdate between date '1995-01-01' and date '1996-12-31'
) as shipping
group by supp_nation, cust_nation, l_year
order by supp_nation, cust_nation, l_year
""",
    8: """
select o_year,
       sum(case when nation = '{nation}' then volume else 0 end)
         / sum(volume) as mkt_share
from (
    select extract(year from o_orderdate) as o_year,
           l_extendedprice * (1 - l_discount) as volume,
           n2.n_name as nation
    from part, supplier, lineitem, orders, customer, nation n1, nation n2,
         region
    where p_partkey = l_partkey
      and s_suppkey = l_suppkey
      and l_orderkey = o_orderkey
      and o_custkey = c_custkey
      and c_nationkey = n1.n_nationkey
      and n1.n_regionkey = r_regionkey
      and r_name = '{region}'
      and s_nationkey = n2.n_nationkey
      and o_orderdate between date '1995-01-01' and date '1996-12-31'
      and p_type = '{type}'
) as all_nations
group by o_year
order by o_year
""",
    9: """
select nation, o_year, sum(amount) as sum_profit
from (
    select n_name as nation,
           extract(year from o_orderdate) as o_year,
           l_extendedprice * (1 - l_discount)
             - ps_supplycost * l_quantity as amount
    from part, supplier, lineitem, partsupp, orders, nation
    where s_suppkey = l_suppkey
      and ps_suppkey = l_suppkey
      and ps_partkey = l_partkey
      and p_partkey = l_partkey
      and o_orderkey = l_orderkey
      and s_nationkey = n_nationkey
      and p_name like '%{color}%'
) as profit
group by nation, o_year
order by nation, o_year desc
""",
    10: """
select c_custkey, c_name,
       sum(l_extendedprice * (1 - l_discount)) as revenue,
       c_acctbal, n_name, c_address, c_phone, c_comment
from customer, orders, lineitem, nation
where c_custkey = o_custkey
  and l_orderkey = o_orderkey
  and o_orderdate >= date '{date}'
  and o_orderdate < date '{date}' + interval '3' month
  and l_returnflag = 'R'
  and c_nationkey = n_nationkey
group by c_custkey, c_name, c_acctbal, c_phone, n_name, c_address,
         c_comment
order by revenue desc, c_custkey
limit 20
""",
    11: """
select ps_partkey, sum(ps_supplycost * ps_availqty) as value
from partsupp, supplier, nation
where ps_suppkey = s_suppkey
  and s_nationkey = n_nationkey
  and n_name = '{nation}'
group by ps_partkey
having sum(ps_supplycost * ps_availqty) > (
    select sum(ps_supplycost * ps_availqty) * {fraction}
    from partsupp, supplier, nation
    where ps_suppkey = s_suppkey
      and s_nationkey = n_nationkey
      and n_name = '{nation}')
order by value desc
""",
    12: """
select l_shipmode,
       sum(case when o_orderpriority = '1-URGENT'
                  or o_orderpriority = '2-HIGH' then 1 else 0 end)
         as high_line_count,
       sum(case when o_orderpriority <> '1-URGENT'
                 and o_orderpriority <> '2-HIGH' then 1 else 0 end)
         as low_line_count
from orders, lineitem
where o_orderkey = l_orderkey
  and l_shipmode in ('{shipmode1}', '{shipmode2}')
  and l_commitdate < l_receiptdate
  and l_shipdate < l_commitdate
  and l_receiptdate >= date '{date}'
  and l_receiptdate < date '{date}' + interval '1' year
group by l_shipmode
order by l_shipmode
""",
    13: """
select c_count, count(*) as custdist
from (
    select c_custkey, count(o_orderkey) as c_count
    from customer left outer join orders
      on c_custkey = o_custkey
     and o_comment not like '%{word1}%{word2}%'
    group by c_custkey
) as c_orders
group by c_count
order by custdist desc, c_count desc
""",
    14: """
select 100.00 * sum(case when p_type like 'PROMO%'
                         then l_extendedprice * (1 - l_discount)
                         else 0 end)
       / sum(l_extendedprice * (1 - l_discount)) as promo_revenue
from lineitem, part
where l_partkey = p_partkey
  and l_shipdate >= date '{date}'
  and l_shipdate < date '{date}' + interval '1' month
""",
    15: """
create view revenue0 (supplier_no, total_revenue) as
select l_suppkey as supplier_no,
       sum(l_extendedprice * (1 - l_discount)) as total_revenue
from lineitem
where l_shipdate >= date '{date}'
  and l_shipdate < date '{date}' + interval '3' month
group by l_suppkey;

select s_suppkey, s_name, s_address, s_phone, total_revenue
from supplier, revenue0
where s_suppkey = supplier_no
  and total_revenue = (select max(total_revenue) from revenue0)
order by s_suppkey;

drop view revenue0
""",
    16: """
select p_brand, p_type, p_size, count(distinct ps_suppkey) as supplier_cnt
from partsupp, part
where p_partkey = ps_partkey
  and p_brand <> '{brand}'
  and p_type not like '{type}%'
  and p_size in ({sizes})
  and ps_suppkey not in (
      select s_suppkey from supplier
      where s_comment like '%Customer%Complaints%')
group by p_brand, p_type, p_size
order by supplier_cnt desc, p_brand, p_type, p_size
""",
    17: """
select sum(l_extendedprice) / 7.0 as avg_yearly
from lineitem, part
where p_partkey = l_partkey
  and p_brand = '{brand}'
  and p_container = '{container}'
  and l_quantity < (
      select 0.2 * avg(l_quantity) from lineitem
      where l_partkey = p_partkey)
""",
    18: """
select c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
       sum(l_quantity)
from customer, orders, lineitem
where o_orderkey in (
      select l_orderkey from lineitem
      group by l_orderkey having sum(l_quantity) > {quantity})
  and c_custkey = o_custkey
  and o_orderkey = l_orderkey
group by c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
order by o_totalprice desc, o_orderdate, o_orderkey
limit 100
""",
    19: """
select sum(l_extendedprice * (1 - l_discount)) as revenue
from lineitem, part
where (p_partkey = l_partkey
       and p_brand = '{brand1}'
       and p_container in ('SM CASE', 'SM BOX', 'SM PACK', 'SM PKG')
       and l_quantity >= {quantity1} and l_quantity <= {quantity1} + 10
       and p_size between 1 and 5
       and l_shipmode in ('AIR', 'AIR REG')
       and l_shipinstruct = 'DELIVER IN PERSON')
   or (p_partkey = l_partkey
       and p_brand = '{brand2}'
       and p_container in ('MED BAG', 'MED BOX', 'MED PKG', 'MED PACK')
       and l_quantity >= {quantity2} and l_quantity <= {quantity2} + 10
       and p_size between 1 and 10
       and l_shipmode in ('AIR', 'AIR REG')
       and l_shipinstruct = 'DELIVER IN PERSON')
   or (p_partkey = l_partkey
       and p_brand = '{brand3}'
       and p_container in ('LG CASE', 'LG BOX', 'LG PACK', 'LG PKG')
       and l_quantity >= {quantity3} and l_quantity <= {quantity3} + 10
       and p_size between 1 and 15
       and l_shipmode in ('AIR', 'AIR REG')
       and l_shipinstruct = 'DELIVER IN PERSON')
""",
    20: """
select s_name, s_address
from supplier, nation
where s_suppkey in (
      select ps_suppkey from partsupp
      where ps_partkey in (
            select p_partkey from part where p_name like '{color}%')
        and ps_availqty > (
            select 0.5 * sum(l_quantity) from lineitem
            where l_partkey = ps_partkey
              and l_suppkey = ps_suppkey
              and l_shipdate >= date '{date}'
              and l_shipdate < date '{date}' + interval '1' year))
  and s_nationkey = n_nationkey
  and n_name = '{nation}'
order by s_name
""",
    21: """
select s_name, count(*) as numwait
from supplier, lineitem l1, orders, nation
where s_suppkey = l1.l_suppkey
  and o_orderkey = l1.l_orderkey
  and o_orderstatus = 'F'
  and l1.l_receiptdate > l1.l_commitdate
  and exists (
      select * from lineitem l2
      where l2.l_orderkey = l1.l_orderkey
        and l2.l_suppkey <> l1.l_suppkey)
  and not exists (
      select * from lineitem l3
      where l3.l_orderkey = l1.l_orderkey
        and l3.l_suppkey <> l1.l_suppkey
        and l3.l_receiptdate > l3.l_commitdate)
  and s_nationkey = n_nationkey
  and n_name = '{nation}'
group by s_name
order by numwait desc, s_name
limit 100
""",
    22: """
select cntrycode, count(*) as numcust, sum(c_acctbal) as totacctbal
from (
    select substring(c_phone, 1, 2) as cntrycode, c_acctbal
    from customer
    where substring(c_phone, 1, 2) in ({codes})
      and c_acctbal > (
          select avg(c_acctbal) from customer
          where c_acctbal > 0.00
            and substring(c_phone, 1, 2) in ({codes}))
      and not exists (
          select * from orders where o_custkey = c_custkey)
) as custsale
group by cntrycode
order by cntrycode
""",
}


def statements(qn: int, params: dict[int, dict[str, object]]) -> list[str]:
    text = TEMPLATES[qn].format(**params[qn])
    return [s.strip() for s in text.split(";") if s.strip()]
