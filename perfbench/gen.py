"""Seeded input generator for the graft benchmark.

Everything the program under test reads comes from here: the fixture
tables (parquet, with the schemas FIXTURES.md describes), the `/fetch`
request mix, and the lineage-store run sequence. The same seed always
gives the same bytes.
"""
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
WORDS = ("a the row key value column table part line order customer scan "
         "filter join agg group sort hash merge window stream batch data "
         "query spark vector big small fast slow").split()
COLORS = "red blue green black white hot cold large".split()
NOUNS = "ring bolt nut gear pipe valve plate screw".split()
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]

DAY_US = 86_400_000_000


def _days(rng, n, start, end):
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return pa.array(rng.integers(lo, hi + 1, n) * DAY_US, pa.timestamp("us"))


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def tables(out, sf, seed):
    """The ten fixture tables at scale factor `sf` (lineitem = 6M x sf)."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_supp = int(150_000 * sf), max(int(10_000 * sf), 10)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_li, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = max(int(50_000 * sf), 500), max(int(20_000 * sf), 500)
    pick = lambda vals, n, p=None: pa.array(rng.choice(vals, n, p=p))
    money = lambda lo, hi, n: np.round(rng.uniform(lo, hi, n), 2)

    _write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    _write(out, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": pick(SEGMENTS, n_cust)})
    _write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": money(-999.99, 9999.99, n_supp)})
    _write(out, "part", {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{COLORS[c]} {NOUNS[k]}" for c, k in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": pick(PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 2000) * 0.1, 2)})
    _write(out, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pick(["F", "O", "P"], n_ord),
        "o_totalprice": money(1000, 500000, n_ord),
        "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": pick(PRIORITIES, n_ord)})
    _write(out, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": money(900, 105000, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": pick(["A", "N", "R"], n_li),
        "l_linestatus": pick(["F", "O"], n_li),
        "l_shipdate": _days(rng, n_li, "1995-01-02", "2001-11-04")})
    t0 = np.datetime64("2024-01-01", "us").astype(np.int64)
    _write(out, "events", {
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(np.sort(rng.integers(t0, t0 + 30 * DAY_US, n_ev)),
                       pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 1500, n_ev), pa.int64()),
        "event_type": pick(EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    # ~5 % of documents are an earlier document plus a " dup" suffix, the
    # near-duplicate shape the dedup queries look for.
    texts = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(10, 101)))))
    _write(out, "documents", {
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": pick(LANGS, n_doc, LANG_P),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    emb = rng.normal(0.0, 0.15, (n_emb, 64)).astype(np.float32)
    _write(out, "embeddings", {
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32())})


# ---------------------------------------------------------------------------
# Lineage statements
# ---------------------------------------------------------------------------

# Columns by kind, over the fixture schema: "i" integral, "d" double, "s" string.
SCHEMA = {
    "nation": {"i": ["n_nationkey", "n_regionkey"], "d": [], "s": ["n_name"]},
    "region": {"i": ["r_regionkey"], "d": [], "s": ["r_name"]},
    "customer": {"i": ["c_custkey", "c_nationkey"], "d": ["c_acctbal"],
                 "s": ["c_name", "c_mktsegment"]},
    "supplier": {"i": ["s_suppkey", "s_nationkey"], "d": ["s_acctbal"],
                 "s": ["s_name"]},
    "orders": {"i": ["o_orderkey", "o_custkey"], "d": ["o_totalprice"],
               "s": ["o_orderstatus", "o_orderpriority"]},
    "documents": {"i": ["doc_id", "n_chars"], "d": [], "s": ["lang", "source"]},
    "embeddings": {"i": ["vec_id", "label"], "d": [], "s": []},
}
ALL = {t: k["i"] + k["d"] + k["s"] for t, k in SCHEMA.items()}
# Tables with an integral and a string column: sources for the two-column
# sinks (lineage_target, lineage_target2, lineage_part).
PAIRS = [t for t in SCHEMA if SCHEMA[t]["i"] and SCHEMA[t]["s"]]


class Statements:
    """Seeded statements varied from the 43 templates of the lineage corpus
    (`LineageQueries.corpus`), one method per corpus statement, in corpus
    order, each picked with equal weight. Each keeps its corpus statement's
    construct (join kind, sink, DML, catalog) and varies table and column
    aliases, literals, which columns are projected, and, for query
    statements, 0-2 levels of subquery nesting around them. Aliases and created table names carry a
    running number, so no two generated statements are identical."""

    def __init__(self, rng):
        self.r = rng
        self.n = 0
        self.templates = [getattr(self, f"t{i:02d}") for i in range(1, 44)]

    # -- variation helpers ----------------------------------------------
    def al(self, stem):
        self.n += 1
        return f"{stem}{self.n}"

    def int_(self, lo=0, hi=500):
        return str(self.r.randint(lo, hi))

    def dbl(self, lo=0, hi=90000):
        return f"{self.r.randint(lo, hi) / 100:.2f}"

    def sub(self, cols, lo=1, hi=3):
        return self.r.sample(cols, self.r.randint(lo, min(hi, len(cols))))

    def tbl(self, t):
        """`t` or `t <alias>`, and the prefix its columns take."""
        if self.r.random() < 0.5:
            return t, ""
        a = self.al(t[0])
        return f"{t} {a}", f"{a}."

    def proj(self, prefix, cols):
        """Select items over `cols` (some renamed) and their output names."""
        items, names = [], []
        for c in cols:
            if self.r.random() < 0.4:
                n = self.al(c.split("_")[-1] + "_")
                items.append(f"{prefix}{c} AS {n}")
            else:
                n = c
                items.append(f"{prefix}{c}")
            names.append(n)
        return ", ".join(items), names

    def query(self, sql, names):
        """A query statement, wrapped in 0-2 levels of projecting subqueries."""
        for _ in range(self.r.randint(0, 2)):
            q = self.al("q")
            names = self.sub(names, 1, len(names))
            sql = f"SELECT {', '.join(f'{q}.{n}' for n in names)} FROM ({sql}) {q}"
        return sql

    def pair(self):
        """An (integral, string) select list from one table, its FROM, and
        a WHERE over it, for the two-column sinks."""
        t = self.r.choice(PAIRS)
        frm, p = self.tbl(t)
        i, s = self.r.choice(SCHEMA[t]["i"]), self.r.choice(SCHEMA[t]["s"])
        w = f"{p}{self.r.choice(SCHEMA[t]['i'])} > {self.int_(0, 50)}"
        return f"{p}{i}, {p}{s}", frm, w

    def union(self, n, op):
        tables = self.r.sample([t for t in SCHEMA if SCHEMA[t]["i"]], n)
        name = self.al("id")
        first, *rest = tables
        head = f"SELECT {self.r.choice(SCHEMA[first]['i'])} AS {name} FROM {first}"
        return self.query(" ".join([head] + [
            f"{op} SELECT {self.r.choice(SCHEMA[t]['i'])} AS {name} FROM {t}"
            for t in rest]), [name])

    # -- the 43 corpus templates ----------------------------------------
    def t01(self):  # scan + filter + project
        frm, p = self.tbl("nation")
        items, names = self.proj(p, self.sub(ALL["nation"]))
        return self.query(f"SELECT {items} FROM {frm} WHERE {p}n_regionkey = "
                          f"{self.int_(0, 4)}", names)

    def _join(self, kind, t1, t2, k1, k2, where=""):
        a, b = self.al(t1[0]), self.al(t2[0])
        i1, n1 = self.proj(f"{a}.", self.sub(ALL[t1], 1, 2))
        i2, n2 = self.proj(f"{b}.", self.sub(ALL[t2], 1, 2))
        w = f" WHERE {where.format(a=a, b=b)}" if where else ""
        return self.query(f"SELECT {i1}, {i2} FROM {t1} {a} {kind} {t2} {b} "
                          f"ON {a}.{k1} = {b}.{k2}{w}", n1 + n2)

    def t02(self):  # inner join with aliases, ON and WHERE
        return self._join("JOIN", "customer", "orders", "c_custkey", "o_custkey",
                          "{b}.o_totalprice > " + self.dbl(0, 500000))

    def t03(self):  # left outer join
        return self._join("LEFT JOIN", "nation", "region", "n_regionkey", "r_regionkey")

    def t04(self):  # distinct aggregate
        n = self.al("cnt_")
        c = self.r.choice(ALL["orders"])
        return self.query(f"SELECT count(DISTINCT {c}) AS {n} FROM orders", [n])

    def t05(self):  # CASE WHEN over two branches
        n = self.al("cls_")
        s1, s2 = self.r.sample(SCHEMA["orders"]["s"], 2)
        return self.query(f"SELECT CASE WHEN o_totalprice > {self.dbl()} THEN {s1} "
                          f"ELSE {s2} END AS {n} FROM orders", [n])

    def t06(self):  # IN + IS NOT NULL
        frm, p = self.tbl("orders")
        items, names = self.proj(p, self.sub(ALL["orders"]))
        ins = ", ".join(f"'{x}'" for x in self.r.sample(["F", "O", "P"], 2))
        return self.query(f"SELECT {items} FROM {frm} WHERE {p}o_orderstatus IN ({ins}) "
                          f"AND {p}o_orderpriority IS NOT NULL", names)

    def t07(self):  # multi-argument function
        n = self.al("tag_")
        a, b = self.r.sample(["c_name", "c_mktsegment", "c_custkey"], 2)
        sep = self.r.choice(["-", ":", "/", " "])
        return self.query(f"SELECT concat({a}, '{sep}', {b}) AS {n} FROM customer", [n])

    def t08(self):  # array subscript
        n = self.al("e")
        keep = self.sub(ALL["embeddings"], 0, 2)
        items = ", ".join(keep + [f"embedding[{self.int_(0, 63)}] AS {n}"])
        return self.query(f"SELECT {items} FROM embeddings", keep + [n])

    def t09(self):  # star expansion
        t = self.r.choice(["region", "nation"])
        frm, p = self.tbl(t)
        return self.query(f"SELECT {p}* FROM {frm}", ALL[t])

    def t10(self):  # subquery alias over a multi-table FROM
        x, k = self.al("x"), self.al("k")
        c = self.r.choice(["n_nationkey", "n_regionkey", "r_regionkey"])
        return self.query(f"SELECT {x}.{k} FROM (SELECT {c} AS {k} FROM nation JOIN region "
                          f"ON n_regionkey = r_regionkey) {x} WHERE {x}.{k} > "
                          f"{self.int_(0, 20)}", [k])

    def t11(self):  # positional union
        return self.union(2, "UNION ALL")

    def t12(self):  # literal-only items
        frm, p = self.tbl("nation")
        n1, n2 = self.al("num"), self.al("str")
        c = self.r.choice(ALL["nation"])
        word = self.r.choice(WORDS)
        return self.query(f"SELECT {p}{c}, {self.int_()} AS {n1}, '{word}' AS {n2} "
                          f"FROM {frm}", [c, n1, n2])

    def t13(self):  # CTE
        w, b = self.al("big"), self.al("b")
        cols = self.sub(ALL["orders"], 1, 3)
        keep = self.sub(cols, 1, len(cols))
        return (f"WITH {w} AS (SELECT {', '.join(cols)} FROM orders WHERE o_totalprice > "
                f"{self.dbl(0, 500000)}) SELECT {', '.join(f'{b}.{c}' for c in keep)} "
                f"FROM {w} {b}")

    def t14(self):  # INSERT sink, destination columns by ordinal
        items, frm, w = self.pair()
        return f"INSERT INTO lineage_target SELECT {items} FROM {frm} WHERE {w}"

    def t15(self):  # right outer join
        return self._join("RIGHT JOIN", "supplier", "nation", "s_nationkey", "n_nationkey")

    def t16(self):  # full outer join
        return self._join("FULL JOIN", "customer", "nation", "c_nationkey", "n_nationkey")

    def _semi(self, kind):
        items, names = self.proj("", self.sub(ALL["customer"]))
        return self.query(f"SELECT {items} FROM customer {kind} orders "
                          f"ON c_custkey = o_custkey", names)

    def t17(self):  # left semi join
        return self._semi("LEFT SEMI JOIN")

    def t18(self):  # LATERAL VIEW explode
        t, tok = self.al("t"), self.al("tok")
        keep = self.sub(["doc_id", "lang", "source"], 1, 2)
        sep = self.r.choice([" ", ",", "-"])
        return self.query(f"SELECT {', '.join(keep)}, {tok} FROM documents LATERAL VIEW "
                          f"explode(split(text, '{sep}')) {t} AS {tok}", keep + [tok])

    def t19(self):  # window function
        n = self.al("rn")
        part = self.r.choice(["o_custkey", "o_orderstatus", "o_orderpriority"])
        order = self.r.choice(["o_orderdate", "o_totalprice", "o_orderkey"])
        return self.query(f"SELECT o_orderkey, row_number() OVER (PARTITION BY {part} "
                          f"ORDER BY {order}) AS {n} FROM orders", ["o_orderkey", n])

    def t20(self):  # arithmetic and bitwise expressions
        n1, n2 = self.al("k"), self.al("k")
        c = self.r.choice(SCHEMA["orders"]["i"])
        return self.query(f"SELECT {c} + {self.int_(1, 9)} AS {n1}, {c} & "
                          f"{self.int_(1, 255)} AS {n2} FROM orders", [n1, n2])

    def t21(self):  # INSERT OVERWRITE sink
        items, frm, _ = self.pair()
        return f"INSERT OVERWRITE TABLE lineage_target SELECT {items} FROM {frm}"

    def t22(self):  # IS NULL + LIKE
        items, names = self.proj("", self.sub(ALL["orders"]))
        return self.query(f"SELECT {items} FROM orders WHERE o_orderstatus IS NULL OR "
                          f"o_orderpriority LIKE '{self.int_(1, 5)}%'", names)

    def t23(self):  # predicate subquery
        items, names = self.proj("", self.sub(ALL["orders"]))
        return self.query(f"SELECT {items} FROM orders WHERE o_custkey IN (SELECT c_custkey "
                          f"FROM customer WHERE c_mktsegment = '{self.r.choice(SEGMENTS)}')",
                          names)

    def t24(self):  # Hive multi-insert: one FROM, two sinks
        a, b = self.r.sample(["n_nationkey", "n_regionkey"], 2)
        return (f"FROM nation INSERT INTO lineage_target SELECT {a}, n_name WHERE "
                f"n_regionkey = {self.int_(0, 4)} INSERT INTO lineage_target2 SELECT {b}, "
                f"n_name WHERE n_nationkey > {self.int_(0, 24)}")

    def t25(self):  # three-branch union
        return self.union(3, "UNION ALL")

    def t26(self):  # CTAS
        items, _ = self.proj("", self.sub(ALL["region"], 1, 2))
        return (f"CREATE TABLE {self.al('lineage_ctas_')} AS SELECT {items} FROM region "
                f"WHERE r_regionkey < {self.int_(0, 5)}")

    def t27(self):  # aggregate over CASE with HAVING
        g = self.r.choice(SCHEMA["orders"]["s"])
        n = self.al("total_")
        return self.query(f"SELECT {g}, sum(CASE WHEN o_totalprice > {self.dbl()} THEN "
                          f"o_totalprice ELSE 0.0 END) AS {n} FROM orders GROUP BY {g} "
                          f"HAVING count(1) > {self.int_(0, 50)}", [g, n])

    def t28(self):  # cross join
        i1, n1 = self.proj("", self.sub(ALL["nation"], 1, 2))
        i2, n2 = self.proj("", self.sub(ALL["region"], 1, 2))
        return self.query(f"SELECT {i1}, {i2} FROM nation CROSS JOIN region", n1 + n2)

    def t29(self):  # left anti join
        return self._semi("LEFT ANTI JOIN")

    def t30(self):  # self-join with aliases
        a, b, o = self.al("a"), self.al("b"), self.al("other")
        c1, c2 = self.r.choice(ALL["nation"]), self.r.choice(ALL["nation"])
        return self.query(f"SELECT {a}.{c1}, {b}.{c2} AS {o} FROM nation {a} JOIN nation {b} "
                          f"ON {a}.n_regionkey = {b}.n_regionkey", [c1, o])

    def t31(self):  # scalar subquery in the select list
        n = self.al("max_")
        c = self.r.choice(ALL["orders"])
        k = self.r.choice(SCHEMA["customer"]["i"] + SCHEMA["customer"]["d"])
        return self.query(f"SELECT {c}, (SELECT max({k}) FROM customer) AS {n} FROM orders",
                          [c, n])

    def t32(self):  # UNION DISTINCT
        return self.union(2, "UNION")

    def t33(self):  # ORDER BY + LIMIT
        items, names = self.proj("", self.sub(ALL["customer"]))
        order = self.r.choice(["c_acctbal", "c_custkey", "c_name"])
        return self.query(f"SELECT {items} FROM customer ORDER BY {order} "
                          f"{self.r.choice(['ASC', 'DESC'])} LIMIT {self.int_(1, 50)}", names)

    def t34(self):  # INSERT with a static partition spec
        items, frm, w = self.pair()
        dt = f"2024-{self.r.randint(1, 12):02d}-{self.r.randint(1, 28):02d}"
        return f"INSERT INTO lineage_part PARTITION (dt='{dt}') SELECT {items} FROM {frm} WHERE {w}"

    def t35(self):  # query through a view
        items, names = self.proj("", self.sub(["v_key", "v_name"], 1, 2))
        return self.query(f"SELECT {items} FROM lineage_view WHERE v_key > "
                          f"{self.int_(0, 24)}", names)

    def t36(self):  # UPDATE
        return (f"UPDATE lineage_target SET tgt_name = concat(tgt_name, "
                f"'{self.r.choice(WORDS)}') WHERE tgt_key < {self.int_(0, 24)}")

    def t37(self):  # MERGE
        t, s, k, nm = self.al("t"), self.al("s"), self.al("k"), self.al("nm")
        return (f"MERGE INTO lineage_target {t} USING (SELECT n_nationkey AS {k}, n_name AS "
                f"{nm} FROM nation WHERE n_regionkey = {self.int_(0, 4)}) {s} ON "
                f"{t}.tgt_key = {s}.{k} WHEN MATCHED THEN UPDATE SET tgt_name = {s}.{nm} "
                f"WHEN NOT MATCHED THEN INSERT (tgt_key, tgt_name) VALUES ({s}.{k}, {s}.{nm})")

    def t38(self):  # the reference's smoke statement: partitions + TABLESAMPLE
        s = self.al("s")
        return (f"INSERT OVERWRITE TABLE dest1 partition (ds = '{self.int_(100, 999)}')  "
                f"SELECT {s}.* FROM srcpart TABLESAMPLE (BUCKET 1 OUT OF 1) {s} WHERE "
                f"{s}.ds='2008-04-{self.r.randint(1, 28):02d}' and "
                f"{s}.hr='{self.r.randint(0, 23)}'")

    def t39(self):  # INTERSECT
        n = self.al("k")
        return self.query(f"SELECT n_regionkey AS {n} FROM nation INTERSECT "
                          f"SELECT r_regionkey FROM region", [n])

    def t40(self):  # CREATE OR REPLACE TABLE AS SELECT
        items, _ = self.proj("", self.sub(ALL["nation"], 1, 2))
        return (f"CREATE OR REPLACE TABLE {self.al('lineage_rtas_')} AS SELECT {items} "
                f"FROM nation WHERE n_regionkey = {self.int_(0, 4)}")

    def t41(self):  # three-part catalog names
        items, names = self.proj("", self.sub(["d_key", "d_name"], 1, 2))
        return self.query(f"SELECT {items} FROM testcat.ns1.cat_docs WHERE d_key > "
                          f"{self.int_(0, 50)}", names)

    def t42(self):  # INSERT into a three-part sink
        return (f"INSERT INTO testcat.ns1.cat_sink SELECT d_key, d_name FROM "
                f"testcat.ns1.cat_docs WHERE d_key > {self.int_(0, 50)}")

    def t43(self):  # mixed catalogs under one join
        n, x = self.al("n"), self.al("x")
        c = self.r.choice(ALL["nation"])
        return self.query(f"SELECT {n}.{c}, {x}.d_name FROM nation {n} JOIN "
                          f"testcat.ns1.cat_docs {x} ON {n}.n_nationkey = {x}.d_key",
                          [c, "d_name"])

    def statement(self):
        return self.r.choice(self.templates)()


def fetch_requests(out, seed, n=8000, warmup=40):
    """`/fetch` bodies, one request per line, statements joined by "; ".
    Each request holds 1-8 statements (uniform), each from a corpus
    template picked with equal weight. No request repeats another, the
    warm-up requests included."""
    rng = random.Random(seed * 7919 + 1)
    gen = Statements(rng)

    seen = set()

    def request():
        while True:
            r = "; ".join(gen.statement() for _ in range(rng.randint(1, 8)))
            if r not in seen:
                seen.add(r)
                return r

    warm = [request() for _ in range(warmup)]
    timed = [request() for _ in range(n)]
    with open(os.path.join(out, "requests.txt"), "w") as f:
        f.write("\n".join(timed) + "\n")
    with open(os.path.join(out, "warmup.txt"), "w") as f:
        f.write("\n".join(warm) + "\n")


SLOTS, VARIANTS = 16, 3


def store_runs(out, seed, n=12):
    """Lineage-store runs, one SQL script per line. Statement slot i of
    every run is one of VARIANTS fixed statements for that slot, so runs
    overlap; a run parses slots 1..k with k in [SLOTS/2, SLOTS], so later
    runs supersede earlier ones statement by statement (latest-wins)."""
    rng = random.Random(seed * 104729 + 3)
    gen = Statements(rng)
    population = [[gen.statement() for _ in range(VARIANTS)] for _ in range(SLOTS)]
    current = [0] * SLOTS
    runs = []
    for _ in range(n):
        k = rng.randint(SLOTS // 2, SLOTS)
        for i in range(k):
            if rng.random() < 0.3:
                current[i] = rng.randrange(VARIANTS)
        runs.append("; ".join(population[i][current[i]] for i in range(k)))
    with open(os.path.join(out, "runs.txt"), "w") as f:
        f.write("\n".join(runs) + "\n")
