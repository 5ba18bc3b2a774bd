"""Seeded operation lists and their expected answers.

Each workload's ``plan_*`` function turns a seed into the full list of
operations the engine process will run, in order.  The order of
operation *kinds* is fixed, so runs with different seeds do the same
kind of work; the seed picks the parameters (cut members, year ranges,
measure subsets, limits), the data, the append batches and the corpus
slices.  Every read operation carries an ``expect`` spec: DuckDB SQL
over the same parquet that returns the canonical rows of the answer,
written with the exact-decimal ``DEC()`` and key tie-break conventions
of ``__spark_entry__.oracle_sql()``.
"""

from __future__ import annotations

import itertools
import os
from urllib.parse import urlencode

import numpy as np

from __spark_entry__ import DEC

REVENUE = DEC("l_extendedprice * (1 - l_discount)")

# Sales measure name -> DuckDB aggregate over the joined lineitem rows
SALES_MEASURES = {
    "Revenue": REVENUE,
    "Quantity": DEC("l_quantity"),
    "Extended Price": DEC("l_extendedprice"),
    "Line Count": "COUNT(l_linenumber)",
    "Customer Count": "COUNT(DISTINCT o_custkey)",
    "Discount Sum": DEC("l_discount"),
}
ORDERS_MEASURES = {
    "Total Price": DEC("o_totalprice"),
    "Order Count": "COUNT(o_orderkey)",
}
# level -> (tidy key column, DuckDB key expression) per cube
SALES_LEVELS = {
    "Customer.Region": ("ID Region", "cr.r_regionkey"),
    "Customer.Nation": ("ID Nation", "cn.n_nationkey"),
    "Customer.Customer": ("ID Customer", "c.c_custkey"),
    "Supplier.Nation": ("ID Nation", "sn.n_nationkey"),
    "Part.Brand": ("ID Brand", "p.p_brand"),
    "Part.Part": ("ID Part", "p.p_partkey"),
    "Time.Year": ("ID Year", "CAST(year(l_shipdate) AS INTEGER)"),
    "Time.Quarter": ("ID Quarter", "CAST(quarter(l_shipdate) AS INTEGER)"),
    "Time.Month": ("ID Month", "CAST(month(l_shipdate) AS INTEGER)"),
    "Return Flag": ("ID Return Flag", "l_returnflag"),
    "Line Status": ("ID Line Status", "l_linestatus"),
}
ORDERS_LEVELS = {
    "Customer.Region": ("ID Region", "cr.r_regionkey"),
    "Customer.Nation": ("ID Nation", "cn.n_nationkey"),
    "Order Status": ("ID Order Status", "o_orderstatus"),
    "Time.Year": ("ID Year", "CAST(year(o_orderdate) AS INTEGER)"),
}
YEARS = list(range(1995, 2002))
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PRIOS = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
CORPUS_OPS = [
    # (query name in __spark_entry__.queries(), table it reads, key column)
    ("d01_exact_dups", "documents", "doc_id"),
    ("d03_neardup_minhash_lsh", "documents", "doc_id"),
    ("d04_neardup_simhash", "documents", "doc_id"),
    ("s01_cosine_topk", "embeddings", "vec_id"),
    ("t03_quality_score", "documents", "doc_id"),
    ("w03_session_30m", "events", "event_id"),
    ("m01_media_features", "documents", "doc_id"),
    ("d07_neardup_clusters", "documents", "doc_id"),
]


def sales_from(levels: list[str]) -> str:
    """FROM clause joining what the levels need (orders always: it carries
    the customer key of the distinct-count measure)."""
    sql = "lineitem JOIN orders ON l_orderkey = o_orderkey"
    if any(lv.startswith("Customer.") for lv in levels):
        sql += (" JOIN customer c ON o_custkey = c.c_custkey"
                " JOIN nation cn ON c.c_nationkey = cn.n_nationkey"
                " JOIN region cr ON cn.n_regionkey = cr.r_regionkey")
    if any(lv.startswith("Supplier.") for lv in levels):
        sql += (" JOIN supplier s ON l_suppkey = s.s_suppkey"
                " JOIN nation sn ON s.s_nationkey = sn.n_nationkey")
    if any(lv.startswith("Part.") for lv in levels):
        sql += " JOIN part p ON l_partkey = p.p_partkey"
    return sql


def agg_sql(cube: str, drills: list[str], measures: list[str],
            where: list[str] = (), filter_levels: list[str] = (),
            extra_keys: list[str] = ()) -> str:
    """SELECT <drill keys>, <extra keys>, <measures> grouped by keys."""
    lv, ms = ((SALES_LEVELS, SALES_MEASURES) if cube == "Sales"
              else (ORDERS_LEVELS, ORDERS_MEASURES))
    keys = [lv[d][1] for d in drills] + list(extra_keys)
    frm = (sales_from(list(drills) + list(filter_levels))
           if cube == "Sales" else
           "orders JOIN customer c ON o_custkey = c.c_custkey"
           " JOIN nation cn ON c.c_nationkey = cn.n_nationkey"
           " JOIN region cr ON cn.n_regionkey = cr.r_regionkey")
    sel = keys + [ms[m] for m in measures]
    sql = f"SELECT {', '.join(sel)} FROM {frm}"
    if where:
        sql += " WHERE " + " AND ".join(where)
    if keys:
        sql += " GROUP BY " + ", ".join(str(i + 1) for i in range(len(keys)))
    return sql


def rest(cube: str, fmt: str, **params) -> str:
    path = f"/cubes/{cube}/aggregate" + ("" if fmt == "json" else f".{fmt}")
    q = []
    for k, v in params.items():
        for x in (v if isinstance(v, list) else [v]):
            q.append((k if not isinstance(v, list) else f"{k}[]", x))
    return path + "?" + urlencode(q)


def _subsets(items: list[str], lo: int = 1) -> list[list[str]]:
    return [list(c) for n in range(lo, len(items) + 1)
            for c in itertools.combinations(items, n)]


def _read(url: str, fmt: str, sql: str, key_cols: list[str],
          measures: list[str], body: str | None = None,
          dense: bool = False) -> dict:
    return {"kind": "mdx" if body is not None else "get", "url": url,
            "body": body, "fmt": fmt,
            "expect": {"sql": sql, "key_cols": key_cols,
                       "measures": measures, "dense": dense}}


# ---------------------------------------------------------------- olap_cold

def _cold_shapes(rng: np.random.Generator):
    """One generator per headline shape; each yields distinct requests
    (as (rest_fn, mdx_fn) pairs that take a format)."""
    def totals():
        combos = [(m, y1, y2) for m in _subsets(
            ["Quantity", "Extended Price", "Line Count", "Customer Count",
             "Revenue"], 2) for y1 in YEARS for y2 in YEARS if y1 < y2]
        for m, y1, y2 in _shuffled(rng, combos):
            cut = f"([Time].[Year].[{y1}]:[Time].[Year].[{y2}])"
            sql = agg_sql("Sales", [], m,
                          [f"year(l_shipdate) BETWEEN {y1} AND {y2}"])
            yield (lambda f, m=m, cut=cut, sql=sql: _read(
                rest("Sales", f, measures=m, cut=[cut]), f, sql, [], m)), None

    def crossjoin():
        combos = [(m, b) for m in _subsets(["Revenue", "Line Count", "Quantity"])
                  for b in range(1, 26)]
        for m, b in _shuffled(rng, combos):
            d = ["Customer.Region", "Return Flag", "Time.Year"]
            sql = agg_sql("Sales", d, m, [f"p.p_brand = 'Brand#{b}'"],
                          ["Part.Brand"])
            keys = [SALES_LEVELS[x][0] for x in d]
            mdx = ("SELECT {" + ", ".join(f"[Measures].[{x}]" for x in m)
                   + "} ON COLUMNS, NON EMPTY CROSSJOIN(CROSSJOIN("
                   "[Customer].[Region].Members, [Return Flag].[Return Flag]."
                   "Members), [Time].[Year].Members) ON ROWS FROM [Sales] "
                   f"WHERE ([Part].[Brand].[Brand#{b}])")
            yield (lambda f, m=m, b=b, sql=sql, keys=keys, d=d: _read(
                rest("Sales", f, measures=m, drilldown=d,
                     cut=[f"[Part].[Brand].[Brand#{b}]"]), f, sql, keys, m)), \
                (lambda f, m=m, sql=sql, keys=keys, mdx=mdx: _read(
                    "/mdx" + ("" if f == "json" else f".{f}"), f, sql, keys,
                    m, body=mdx))

    def member_cut():
        combos = [(m, r, y) for m in _subsets(
            ["Quantity", "Line Count", "Customer Count"]) for r in range(5)
            for y in YEARS]
        for m, r, y in _shuffled(rng, combos):
            sql = agg_sql("Sales", ["Customer.Nation"], m,
                          [f"cr.r_regionkey = {r}", f"year(l_shipdate) = {y}"])
            keys = ["ID Nation"]
            mdx = ("SELECT {" + ", ".join(f"[Measures].[{x}]" for x in m)
                   + "} ON COLUMNS, NON EMPTY [Customer].[Nation].Members ON "
                   f"ROWS FROM [Sales] WHERE ([Customer].[Region].[&{r}] * "
                   f"[Time].[Year].[{y}])")
            yield (lambda f, m=m, r=r, y=y, sql=sql: _read(
                rest("Sales", f, measures=m, drilldown=["Customer.Nation"],
                     cut=[f"[Customer].[Region].[&{r}]",
                          f"[Time].[Year].[{y}]"]), f, sql, keys, m)), \
                (lambda f, m=m, sql=sql, mdx=mdx: _read(
                    "/mdx" + ("" if f == "json" else f".{f}"), f, sql, keys,
                    m, body=mdx))

    def set_cut():
        combos = [(m, a, b) for m in _subsets(["Revenue", "Quantity"])
                  for a, b in itertools.combinations(REGIONS, 2)]
        for m, a, b in _shuffled(rng, combos):
            sql = agg_sql("Sales", ["Time.Year"], m,
                          [f"cr.r_name IN ('{a}', '{b}')"], ["Customer.Region"])
            cut = f"{{[Customer].[Region].[{a}],[Customer].[Region].[{b}]}}"
            yield (lambda f, m=m, cut=cut, sql=sql: _read(
                rest("Sales", f, measures=m, drilldown=["Time.Year"],
                     cut=[cut]), f, sql, ["ID Year"], m)), None

    def range_cut():
        combos = [(m, y1, y2) for m in _subsets(["Revenue", "Line Count"])
                  for y1 in YEARS for y2 in YEARS if y1 < y2]
        for m, y1, y2 in _shuffled(rng, combos):
            sql = agg_sql("Sales", ["Time.Year", "Time.Quarter", "Time.Month"],
                          m, [f"year(l_shipdate) BETWEEN {y1} AND {y2}"])
            cut = f"([Time].[Year].[{y1}]:[Time].[Year].[{y2}])"
            # month keys repeat every year: always tidy, with parents
            yield (lambda f, m=m, cut=cut, sql=sql: _read(
                rest("Sales", "csv", measures=m, drilldown=["Time.Month"],
                     cut=[cut], parents="true"), "csv", sql,
                ["ID Year", "ID Quarter", "ID Month"], m)), None

    def descendants():
        combos = [(a, b, y) for a, b in itertools.combinations(range(25), 2)
                  for y in YEARS]
        for a, b, y in _shuffled(rng, combos):
            sql = agg_sql("Sales", ["Customer.Customer"], ["Revenue"],
                          [f"cn.n_nationkey IN ({a}, {b})",
                           f"year(l_shipdate) = {y}"])
            cut = f"{{[Customer].[Nation].[&{a}],[Customer].[Nation].[&{b}]}}"
            yield (lambda f, cut=cut, y=y, sql=sql: _read(
                rest("Sales", f, measures=["Revenue"],
                     drilldown=["Customer.Customer"],
                     cut=[cut, f"[Time].[Year].[{y}]"]), f, sql,
                ["ID Customer"], ["Revenue"])), None

    def distinct_count():
        combos = [(m, y) for m in (["Customer Count", "Line Count"],
                                   ["Customer Count", "Quantity"],
                                   ["Customer Count"])
                  for y in YEARS]
        for m, y in _shuffled(rng, combos):
            sql = agg_sql("Sales", ["Supplier.Nation"], m,
                          [f"year(l_shipdate) = {y}"])
            mdx = ("SELECT {" + ", ".join(f"[Measures].[{x}]" for x in m)
                   + "} ON COLUMNS, NON EMPTY [Supplier].[Nation].Members ON "
                   f"ROWS FROM [Sales] WHERE ([Time].[Year].[{y}])")
            yield (lambda f, m=m, y=y, sql=sql: _read(
                rest("Sales", f, measures=m, drilldown=["Supplier.Nation"],
                     cut=[f"[Time].[Year].[{y}]"]), f, sql, ["ID Nation"], m)), \
                (lambda f, m=m, sql=sql, mdx=mdx: _read(
                    "/mdx" + ("" if f == "json" else f".{f}"), f, sql,
                    ["ID Nation"], m, body=mdx))

    def lag():
        combos = [(extra, ls, rf) for extra in ([], ["Line Count"])
                  for ls in "FO" for rf in "ANR"]
        for extra, ls, rf in _shuffled(rng, combos):
            m = ["Revenue", "Revenue Prev Period"] + extra
            inner = agg_sql("Sales", ["Customer.Region", "Time.Year"],
                            ["Revenue"] + extra,
                            [f"l_linestatus = '{ls}'", f"l_returnflag = '{rf}'"])
            cols = ", ".join(f"m{i}" for i in range(len(extra)))
            sql = (f"SELECT k0, k1, rev, lag(rev) OVER (PARTITION BY k0 "
                   f"ORDER BY k1){', ' + cols if extra else ''} FROM ("
                   + inner + ") t(k0, k1, rev"
                   + "".join(f", m{i}" for i in range(len(extra))) + ")")
            yield (lambda f, m=m, ls=ls, rf=rf, sql=sql: _read(
                rest("Sales", f, measures=m,
                     drilldown=["Customer.Region", "Time.Year"],
                     cut=[f"[Line Status].[{ls}]", f"[Return Flag].[{rf}]"]),
                f, sql, ["ID Region", "ID Year"], m)), None

    def topcount():
        for m in _shuffled(rng, _subsets(
                ["Revenue", "Quantity", "Line Count", "Extended Price"])):
            top5 = ("SELECT o_custkey FROM lineitem JOIN orders ON "
                    f"l_orderkey = o_orderkey GROUP BY o_custkey ORDER BY "
                    f"{REVENUE} DESC, o_custkey LIMIT 5")
            sql = agg_sql("Sales", ["Customer.Customer"], m,
                          [f"o_custkey IN ({top5})"])
            yield (lambda f, m=m, sql=sql: _read(
                rest("Sales", f, measures=m, drilldown=["Customer.Customer"],
                     cut=["[Top5 Customers]"]), f, sql, ["ID Customer"], m)), \
                None

    def dense():
        combos = [(y, p) for y in YEARS for p in PRIOS]
        for y, p in _shuffled(rng, combos):
            m = ["Total Price", "Order Count"]
            agg = agg_sql("Orders", ["Customer.Region", "Order Status"], m,
                          [f"year(o_orderdate) = {y}",
                           f"o_orderpriority = '{p}'"])
            sql = ("WITH a(ak0, ak1, m0, m1) AS (" + agg + "), k AS ("
                   "SELECT DISTINCT cr.r_regionkey AS k0 FROM customer c "
                   "JOIN nation cn ON "
                   "c.c_nationkey = cn.n_nationkey JOIN region cr ON "
                   "cn.n_regionkey = cr.r_regionkey), s AS (SELECT DISTINCT "
                   "o_orderstatus AS k1 FROM orders) SELECT k.k0, s.k1, "
                   "a.m0, a.m1 FROM k CROSS JOIN s LEFT JOIN "
                   "a ON a.ak0 = k.k0 AND a.ak1 = s.k1")
            yield (lambda f, y=y, p=p, sql=sql, m=m: _read(
                rest("Orders", "json", measures=m,
                     drilldown=["Customer.Region", "Order Status"],
                     nonempty="false",
                     cut=[f"[Time].[Year].[{y}]",
                          f"[Order Priority].[{p}]"]),
                "json", sql, ["ID Region", "ID Order Status"], m,
                dense=True)), None

    def virtual():
        combos = [(r, y) for r in range(5) for y in YEARS]
        for r, y in _shuffled(rng, combos):
            m = ["Revenue", "Total Price", "Order Count"]
            sales = agg_sql("Sales", ["Customer.Nation"], ["Revenue"],
                            [f"cr.r_regionkey = {r}", f"year(l_shipdate) = {y}"])
            ords = agg_sql("Orders", ["Customer.Nation"],
                           ["Total Price", "Order Count"],
                           [f"cr.r_regionkey = {r}",
                            f"year(o_orderdate) = {y}"])
            sql = (f"SELECT k, rev, tp, oc FROM ({sales}) s(k, rev) FULL JOIN "
                   f"({ords}) o(k, tp, oc) USING (k)")
            mdx = ("SELECT {[Measures].[Revenue], [Measures].[Total Price], "
                   "[Measures].[Order Count]} ON COLUMNS, NON EMPTY "
                   "[Customer].[Nation].Members ON ROWS FROM [Orders and "
                   f"Sales] WHERE ([Customer].[Region].[&{r}] * "
                   f"[Time].[Year].[{y}])")
            yield (lambda f, r=r, y=y, sql=sql, m=m: _read(
                rest("Orders and Sales", f, measures=m,
                     drilldown=["Customer.Nation"],
                     cut=[f"[Customer].[Region].[&{r}]",
                          f"[Time].[Year].[{y}]"]), f, sql, ["ID Nation"], m)), \
                (lambda f, sql=sql, m=m, mdx=mdx: _read(
                    "/mdx" + ("" if f == "json" else f".{f}"), f, sql,
                    ["ID Nation"], m, body=mdx))

    def properties():
        combos = [(n, y) for n in range(25) for y in YEARS]
        for n, y in _shuffled(rng, combos):
            sql = agg_sql("Sales", ["Customer.Customer"], ["Revenue"],
                          [f"cn.n_nationkey = {n}", f"year(l_shipdate) = {y}"],
                          extra_keys=["c.c_mktsegment", "c.c_acctbal"])
            yield (lambda f, n=n, y=y, sql=sql: _read(
                rest("Sales", "csv", measures=["Revenue"],
                     drilldown=["Customer.Customer"],
                     properties=["Customer.Customer.Market Segment",
                                 "Customer.Customer.Account Balance"],
                     cut=[f"[Customer].[Nation].[&{n}]",
                          f"[Time].[Year].[{y}]"]), "csv", sql,
                ["ID Customer", "Market Segment", "Account Balance"],
                ["Revenue"])), None

    def order_limit():
        combos = [(m, o, n) for m in (["Revenue"], ["Revenue", "Quantity"],
                                      ["Revenue", "Line Count"])
                  for o in range(5) for n in range(3, 9)]
        for m, o, n in _shuffled(rng, combos):
            inner = agg_sql("Sales", ["Part.Brand"], m)
            sql = (f"SELECT * FROM ({inner}) t ORDER BY 2 DESC, 1 "
                   f"LIMIT {n} OFFSET {o}")
            yield (lambda f, m=m, o=o, n=n, sql=sql: _read(
                rest("Sales", f, measures=m, drilldown=["Part.Brand"],
                     order="Revenue", order_desc="true", offset=str(o),
                     limit=str(n)), f, sql, ["ID Brand"], m)), None

    return [totals(), crossjoin(), member_cut(), set_cut(), range_cut(),
            descendants(), distinct_count(), lag(), topcount(), dense(),
            virtual(), properties(), order_limit()]


def _shuffled(rng: np.random.Generator, items: list) -> list:
    return [items[i] for i in rng.permutation(len(items))]


def plan_olap_cold(seed: int, cycles: int) -> tuple[list, list]:
    """(first request, window requests).  The first request is a totals
    query; the window is ``cycles`` passes over the 13 headline shapes in
    a fixed order, every request distinct.  Within a
    pass, shapes that have an MDX form are posted to /mdx on a fixed
    rotation (about one request in five), and every fourth request asks
    for CSV instead of JSON."""
    rng = np.random.default_rng([seed, 1])
    shapes = _cold_shapes(rng)
    first = [next(shapes[0])[0]("json")]
    ops = []
    for c in range(cycles):
        for si, gen in enumerate(shapes):
            rest_fn, mdx_fn = next(gen)
            fmt = "csv" if (si + c) % 4 == 3 else "json"
            use_mdx = mdx_fn is not None and (si + c) % 3 != 2
            ops.append((mdx_fn if use_mdx else rest_fn)(fmt))
    return first, ops


# ----------------------------------------------------------- olap_dashboard

ROLLUPS = [("nation_year", ["Customer.Nation", "Time.Year"]),
           ("flag_year", ["Return Flag", "Time.Year"])]


def _dashboard_pool(rng: np.random.Generator) -> list[dict]:
    """20 dashboard tiles, most popular first.  The wide customer table
    leads, so cache hits do real shaping and serialization work; the next
    three (routed MDX in jsonrecords, a member listing, the table in XLSX)
    bring every other dashboard layer into one append cycle."""
    y = int(rng.integers(1995, 2001))
    y1 = int(rng.integers(1995, 1999))
    r = int(rng.integers(0, 5))
    b = int(rng.integers(1, 26))

    def agg(cube, fmt, drills, m, where=(), cut=(), filt=(), keys=None, **kw):
        sql = agg_sql(cube, drills, m, list(where), list(filt))
        lv = SALES_LEVELS if cube == "Sales" else ORDERS_LEVELS
        return _read(rest(cube, fmt, measures=m, drilldown=drills,
                          **({"cut": list(cut)} if cut else {}), **kw),
                     fmt, sql, keys or [lv[d][0] for d in drills], m)

    def members(dim, level, sql):
        return {"kind": "get", "fmt": "members",
                "url": f"/cubes/Sales/dimensions/{dim}/levels/{level}/members",
                "body": None, "expect": {"sql": sql, "key_cols": [],
                                         "measures": [], "dense": False}}

    yr = f"[Time].[Year].[{y}]"
    mdx_sql = agg_sql("Sales", ["Customer.Region"], ["Revenue"],
                      [f"year(l_shipdate) = {y}"])
    return [
        agg("Sales", "json", ["Customer.Customer"], ["Revenue"]),
        _read("/mdx.jsonrecords", "jsonrecords", mdx_sql, ["ID Region"],
              ["Revenue"],
              body="SELECT {[Measures].[Revenue]} ON COLUMNS, NON EMPTY "
                   "[Customer].[Region].Members ON ROWS FROM [Sales] "
                   f"WHERE ([Time].[Year].[{y}])"),
        members("Customer", "Nation",
                "SELECT n_nationkey, n_name FROM nation WHERE n_nationkey IN "
                "(SELECT c_nationkey FROM customer)"),
        agg("Sales", "xlsx", ["Customer.Customer"], ["Revenue"]),
        agg("Sales", "csv", ["Customer.Customer"], ["Revenue"]),
        agg("Sales", "jsonrecords", ["Part.Part"], ["Quantity"]),
        agg("Sales", "csv", ["Customer.Region"], ["Revenue", "Quantity"]),
        agg("Sales", "json", ["Customer.Nation", "Time.Year"],
            ["Revenue", "Line Count"]),
        agg("Sales", "jsonrecords", ["Customer.Nation"],
            ["Revenue", "Line Count"],
            [f"year(l_shipdate) BETWEEN {y1} AND {y1 + 2}"],
            [f"([Time].[Year].[{y1}]:[Time].[Year].[{y1 + 2}])"]),
        agg("Sales", "json", ["Part.Brand"], ["Revenue"],
            [f"year(l_shipdate) = {y}"], [yr]),
        agg("Sales", "csv", ["Time.Year"], ["Revenue", "Extended Price"]),
        members("Time", "Year",
                "SELECT DISTINCT CAST(year(l_shipdate) AS INTEGER), "
                "CAST(year(l_shipdate) AS VARCHAR) FROM lineitem"),
        agg("Sales", "json", ["Customer.Region", "Time.Year"],
            ["Quantity", "Extended Price"]),
        agg("Sales", "json", ["Customer.Nation", "Time.Year"], ["Revenue"],
            [f"cr.r_regionkey = {r}"], [f"[Customer].[Region].[&{r}]"]),
        agg("Sales", "json", ["Return Flag", "Time.Year"], ["Revenue"]),
        members("Customer", "Region",
                "SELECT r_regionkey, r_name FROM region"),
        agg("Sales", "csv", ["Time.Year"], ["Line Count"],
            [f"p.p_brand = 'Brand#{b}'"], [f"[Part].[Brand].[Brand#{b}]"],
            ["Part.Brand"]),
        agg("Sales", "jsonrecords", ["Customer.Nation"], ["Revenue"],
            [f"year(l_shipdate) = {y}"], [yr]),
        agg("Sales", "json", ["Supplier.Nation"], ["Line Count"]),
        agg("Sales", "json", ["Customer.Customer"], ["Revenue"],
            [f"cr.r_regionkey = {r}"], [f"[Customer].[Region].[&{r}]"]),
    ]


def zipf_schedule(n: int, s: float = 1.5, block: int = 40) -> list[int]:
    """One block of tile indices: Zipf(s) counts over ``n`` tiles (at
    least one each), interleaved by smooth weighted round-robin so
    popular tiles recur from the start of the block."""
    w = 1.0 / np.arange(1, n + 1) ** s
    counts = np.maximum(1, np.round(block * w / w.sum())).astype(int)
    total, cur, seq = int(counts.sum()), np.zeros(n), []
    for _ in range(total):
        cur += counts
        i = int(np.argmax(cur))
        cur[i] -= total
        seq.append(i)
    return seq


def plan_dashboard(seed: int, n_ops: int, append_every: int) -> tuple:
    """(first request, window operations).  The first request is the
    most popular tile; window reads continue the fixed Zipf-skewed
    schedule over the pool, and one operation in every ``append_every``,
    in the middle of each cycle, appends the next seeded lineitem
    batch."""
    rng = np.random.default_rng([seed, 2])
    pool = _dashboard_pool(rng)
    sched = zipf_schedule(len(pool))
    first = [dict(pool[sched[0]], tile=sched[0])]
    ops, ri, batch = [], 1, 0
    for i in range(n_ops):
        if i % append_every == append_every // 2 - 1:
            ops.append({"kind": "append", "batch": batch})
            batch += 1
        else:
            tile = sched[ri % len(sched)]
            ri += 1
            ops.append(dict(pool[tile], tile=tile))
    return first, ops


# ------------------------------------------------------------ corpus_batch

def slice_mask(ids: np.ndarray, mult: int, off: int) -> np.ndarray:
    """The slice predicate, mirrored in SQL by :func:`slice_sql`; id 7
    (the similarity query vector) is always kept."""
    return ((ids * mult + off) % 4 != 0) | (ids == 7)


def slice_sql(key: str, mult: int, off: int) -> str:
    return f"(({key} * {mult} + {off}) % 4 <> 0 OR {key} = 7)"


def plan_corpus(seed: int, cycles: int) -> tuple[list, list]:
    """(first call, window calls): one ``d01`` call, then ``cycles``
    passes over the corpus operators in a fixed order.  Every call gets
    its own slice predicate, so no two calls read the same rows."""
    rng = np.random.default_rng([seed, 3])
    n = 1 + cycles * len(CORPUS_OPS)
    mults = rng.choice(np.arange(1, 4096, 2), n, replace=False)
    calls = [CORPUS_OPS[0]] + CORPUS_OPS * cycles
    ops = [{"kind": "corpus", "query": name, "table": table, "key": key,
            "mult": int(mults[i]), "off": int(rng.integers(0, 4)),
            "slice": f"slice{i:03d}"}
           for i, (name, table, key) in enumerate(calls)]
    return ops[:1], ops[1:]


def write_slices(data_dir: str, slices_dir: str, ops: list[dict]) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq
    tables = {}
    for op in ops:
        t = tables.get(op["table"])
        if t is None:
            t = tables[op["table"]] = pq.read_table(
                os.path.join(data_dir, f"{op['table']}.parquet"))
        mask = slice_mask(t[op["key"]].to_numpy(), op["mult"], op["off"])
        out = os.path.join(slices_dir, op["slice"])
        os.makedirs(out, exist_ok=True)
        pq.write_table(t.filter(pa.array(mask)),
                       os.path.join(out, f"{op['table']}.parquet"))
