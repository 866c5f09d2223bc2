"""Seeded inputs and expected answers for the perfbench workloads.

Everything the engine sees is made here from ``--seed``: the parquet
tables, the operation sequence of each workload, and the answer each
operation must produce. Expected answers come from DuckDB over the same
parquet files (or, for the mix workload's writes, from a model of the
store), never from graft, and are computed before the JVM starts.

Answers are compared as ``(row count, digest)``. A row is canonicalised
as ``var=value`` pairs sorted by variable name and joined by tabs
(unbound variables are left out); a value is canonicalised by
``canon_*`` below. The digest is the sum, modulo 2**64, of the first
eight bytes (big-endian) of each row's MD5, so it ignores row order.
The Scala side (``Canon.scala``) implements the same rules.
"""
import hashlib
import math

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

MASK64 = (1 << 64) - 1

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
NATIONS = ["ALGERIA", "ARGENTINA", "BRAZIL", "CANADA", "EGYPT", "ETHIOPIA",
           "FRANCE", "GERMANY", "INDIA", "INDONESIA", "IRAN", "IRAQ", "JAPAN",
           "JORDAN", "KENYA", "MOROCCO", "MOZAMBIQUE", "PERU", "CHINA",
           "ROMANIA", "SAUDI ARABIA", "VIETNAM", "RUSSIA", "UNITED KINGDOM",
           "UNITED STATES"]
WORDS = ("data spark query join table column row scan filter group order "
         "merge sort hash value key batch stream window part line customer "
         "supplier nation region price market segment ship return flag "
         "status quantity discount tax total account balance priority clerk "
         "comment note deliver carton package brand container size type "
         "retail wholesale urgent express regular final pending special "
         "ironic quick silent bold careful blithe even odd unusual").split()
STOPWORDS = ["the", "and", "of", "to", "in", "a", "is", "that", "for", "it"]

# Sizes per workload. Kept small enough that a run (JVM start, three
# set-ups, a measured window) fits the benchmark's time budget on a
# 4-core box; the README states them next to the session's memory.
SIZES = {
    "star": {"customers": 3000, "orders": 30000, "suppliers": 200},
    "scale": {"customers": 1500, "orders": 15000, "suppliers": 100,
              "parts": 2000, "lineitems": 40000},
    "curate": {"base_docs": 120, "junk_docs": 20, "replicas": 10,
               "vectors": 1200, "dim": 64, "clusters": 40, "queries": 20,
               "k": 10},
}
SERVE_RATE = 1.0          # offered requests per second (open loop)
MIX_READS_PER_UPDATE = 3


# ------------------------------------------------------------ canonical

def canon_double(v):
    return "d%d" % math.floor(v * 100 + 0.5)


def row_key(row):
    return "\t".join("%s=%s" % (k, row[k]) for k in sorted(row)
                     if row[k] is not None)


def digest(rows):
    total = 0
    for r in rows:
        h = hashlib.md5(row_key(r).encode("utf-8")).digest()
        total = (total + int.from_bytes(h[:8], "big")) & MASK64
    return "%016x" % total


def expect(rows):
    rows = list(rows)
    return {"n": len(rows), "digest": digest(rows)}


def sql_rows(con, sql):
    cur = con.execute(sql)
    names = [d[0] for d in cur.description]
    return [dict(zip(names, r)) for r in cur.fetchall()]


# SQL fragments producing canonical strings
def sq_uri(prefix, col):
    return "'%s/' || CAST(%s AS VARCHAR)" % (prefix, col)


def sq_double(col):
    return "'d' || CAST(floor(%s * 100 + 0.5) AS BIGINT)" % col


# ------------------------------------------------------------ tables

def _unique_cents(rng, n, lo, hi):
    """n distinct two-decimal amounts in [lo, hi) (unique, so ORDER BY
    + LIMIT has one answer)."""
    cents = rng.choice(np.arange(int(lo * 100), int(hi * 100)), size=n,
                       replace=False)
    return cents.astype(np.float64) / 100.0


def star_tables(rng, customers, orders, suppliers):
    region = pa.table({
        "r_regionkey": pa.array(range(5), pa.int64()),
        "r_name": pa.array(REGIONS, pa.string())})
    nation = pa.table({
        "n_nationkey": pa.array(range(25), pa.int64()),
        "n_name": pa.array(NATIONS, pa.string()),
        "n_regionkey": pa.array(rng.integers(0, 5, 25), pa.int64())})
    ck = np.arange(customers)
    customer = pa.table({
        "c_custkey": pa.array(ck, pa.int64()),
        "c_name": pa.array(["Customer#%09d" % k for k in ck], pa.string()),
        "c_nationkey": pa.array(rng.integers(0, 25, customers), pa.int32()),
        "c_acctbal": pa.array(_unique_cents(rng, customers, -999.99, 9999.99)),
        "c_mktsegment": pa.array(
            [SEGMENTS[i] for i in rng.integers(0, 5, customers)], pa.string())})
    sk = np.arange(suppliers)
    supplier = pa.table({
        "s_suppkey": pa.array(sk, pa.int64()),
        "s_name": pa.array(["Supplier#%09d" % k for k in sk], pa.string()),
        "s_nationkey": pa.array(rng.integers(0, 25, suppliers), pa.int32()),
        "s_acctbal": pa.array(_unique_cents(rng, suppliers, -999.99, 9999.99))})
    # two thirds of the customers place orders (the TPC-H shape)
    buyers = ck[ck % 3 != 0]
    ok = np.arange(orders)
    orders_t = pa.table({
        "o_orderkey": pa.array(ok, pa.int64()),
        "o_custkey": pa.array(rng.choice(buyers, orders), pa.int64()),
        "o_orderstatus": pa.array(
            [("F", "O", "P")[i] for i in rng.integers(0, 3, orders)],
            pa.string()),
        "o_totalprice": pa.array(_unique_cents(rng, orders, 900.0, 500000.0)),
        "o_orderpriority": pa.array(
            [PRIORITIES[i] for i in rng.integers(0, 5, orders)], pa.string())})
    return {"region": region, "nation": nation, "customer": customer,
            "supplier": supplier, "orders": orders_t}


def lineitem_table(rng, n, orders, parts, suppliers):
    return pa.table({
        "l_id": pa.array(np.arange(n), pa.int64()),
        "l_orderkey": pa.array(rng.integers(0, orders, n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, parts, n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, suppliers, n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
        "l_extendedprice": pa.array(
            np.round(rng.uniform(900.0, 100000.0, n), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": pa.array(
            [("A", "N", "R")[i] for i in rng.integers(0, 3, n)], pa.string()),
        "l_linestatus": pa.array(
            [("F", "O")[i] for i in rng.integers(0, 2, n)], pa.string())})


def write_tables(tables, out_dir):
    for name, t in tables.items():
        pq.write_table(t, "%s/%s.parquet" % (out_dir, name))


def duck(tables):
    con = duckdb.connect()
    for name, t in tables.items():
        con.register(name, t)
    return con


# ------------------------------------------------------------ serve

PFX = "PREFIX gk: <urn:graft:kw/>\n"
REL = "urn:graft:rel/"


def _acct_cut(con, seg, top):
    """A balance threshold leaving about `top` customers of `seg` above."""
    return sql_rows(con, "SELECT c_acctbal AS b FROM customer WHERE "
                    "c_mktsegment = '%s' ORDER BY c_acctbal DESC LIMIT 1 "
                    "OFFSET %d" % (seg, top))[0]["b"]


SERVE_TEMPLATES = ["describe", "select_order", "group_having", "ask",
                   "construct", "optional", "graph_scope", "from_scope",
                   "supplier_join"]


def serve_op(rng, con, nations_of, n_customers, t):
    """One read request of template `t` with seed-drawn constants:
    (template, kind, query text, expected)."""
    seg = SEGMENTS[rng.integers(0, 5)]
    if t == "describe":
        k = int(rng.integers(0, n_customers))
        q = "DESCRIBE <%scustomer/%d>" % (REL, k)
        cols = [("c_name", "c_name"),
                ("c_nationkey", sq_uri("nation", "c_nationkey")),
                ("c_acctbal", sq_double("c_acctbal")),
                ("c_mktsegment", "c_mktsegment")]
        rows = sql_rows(con, " UNION ALL ".join(
            "SELECT {s} AS s, '{p}' AS p, {o} AS o, {g} AS g FROM customer "
            "WHERE c_custkey = {k}".format(
                s=sq_uri("customer", "c_custkey"), p=p, o=o,
                g=sq_uri("nation", "c_nationkey"), k=k) for p, o in cols))
        return t, "describe", q, expect(rows)
    if t == "select_order":
        x = _acct_cut(con, seg, int(rng.integers(15, 60)))
        q = PFX + ("SELECT ?c ?name ?bal WHERE {\n  ?c gk:c_mktsegment \"%s\" .\n"
                   "  ?c gk:c_acctbal ?bal .\n  ?c gk:c_name ?name .\n"
                   "  FILTER (?bal > %r)\n}\nORDER BY DESC(?bal)\nLIMIT 10"
                   % (seg, x))
        rows = sql_rows(con, (
            "SELECT {c} AS c, c_name AS name, {b} AS bal FROM customer WHERE "
            "c_mktsegment = '{seg}' AND c_acctbal > {x!r} ORDER BY c_acctbal "
            "DESC LIMIT 10").format(c=sq_uri("customer", "c_custkey"),
                                    b=sq_double("c_acctbal"), seg=seg, x=x))
        return t, "select", q, expect(rows)
    if t == "group_having":
        cut = int(sql_rows(con, (
            "SELECT median(n) AS m FROM (SELECT count(*) AS n FROM customer "
            "WHERE c_mktsegment = '%s' GROUP BY c_nationkey)") % seg)[0]["m"])
        cut += int(rng.integers(-3, 4))
        q = PFX + ("SELECT ?n (COUNT(?c) AS ?cnt) WHERE {\n"
                   "  ?c gk:c_nationkey ?n .\n  ?c gk:c_mktsegment \"%s\" .\n}\n"
                   "GROUP BY ?n\nHAVING (?cnt > %d)" % (seg, cut))
        rows = sql_rows(con, (
            "SELECT {n} AS n, CAST(count(*) AS VARCHAR) AS cnt FROM customer "
            "WHERE c_mktsegment = '{seg}' GROUP BY c_nationkey HAVING "
            "count(*) > {cut}").format(n=sq_uri("nation", "c_nationkey"),
                                       seg=seg, cut=cut))
        return t, "select", q, expect(rows)
    if t == "ask":
        k = int(rng.integers(0, n_customers))
        nat = nations_of[k] if rng.integers(0, 2) else (nations_of[k] + 1) % 25
        q = PFX + ("ASK {\n  ?c gk:c_name \"Customer#%09d\" .\n"
                   "  ?c gk:c_nationkey <%snation/%d> .\n}" % (k, REL, nat))
        return t, "ask", q, expect([{"ask": "true" if nat == nations_of[k]
                                     else "false"}])
    if t == "construct":
        x = _acct_cut(con, seg, int(rng.integers(10, 40)))
        q = PFX + ("CONSTRUCT { ?c gk:in_nation ?n . }\nWHERE {\n"
                   "  ?c gk:c_nationkey ?n .\n  ?c gk:c_mktsegment \"%s\" .\n"
                   "  ?c gk:c_acctbal ?b .\n  FILTER (?b > %r)\n}" % (seg, x))
        rows = sql_rows(con, (
            "SELECT {c} AS s, 'in_nation' AS p, {n} AS o FROM customer WHERE "
            "c_mktsegment = '{seg}' AND c_acctbal > {x!r}").format(
            c=sq_uri("customer", "c_custkey"),
            n=sq_uri("nation", "c_nationkey"), seg=seg, x=x))
        return t, "construct", q, expect(rows)
    if t == "optional":
        prio = PRIORITIES[rng.integers(0, 5)]
        x = sql_rows(con, (
            "SELECT o_totalprice AS p FROM orders WHERE o_orderpriority = '%s' "
            "ORDER BY o_totalprice DESC LIMIT 1 OFFSET %d")
            % (prio, int(rng.integers(20, 60))))[0]["p"]
        y = float(np.round(rng.uniform(0.0, 9000.0), 2))
        q = PFX + ("SELECT ?o ?price ?c ?bal WHERE {\n"
                   "  ?o gk:o_orderpriority \"%s\" .\n"
                   "  ?o gk:o_totalprice ?price .\n  ?o gk:o_custkey ?c .\n"
                   "  FILTER (?price > %r)\n"
                   "  OPTIONAL { ?c gk:c_acctbal ?bal . FILTER (?bal > %r) }\n}"
                   % (prio, x, y))
        rows = sql_rows(con, (
            "SELECT {o} AS o, {p} AS price, {c} AS c, CASE WHEN c_acctbal > "
            "{y!r} THEN {b} END AS bal FROM orders JOIN customer ON "
            "c_custkey = o_custkey WHERE o_orderpriority = '{prio}' AND "
            "o_totalprice > {x!r}").format(
            o=sq_uri("orders", "o_orderkey"), p=sq_double("o_totalprice"),
            c=sq_uri("customer", "o_custkey"), b=sq_double("c_acctbal"),
            y=y, prio=prio, x=x))
        return t, "select", q, expect(rows)
    if t == "graph_scope":
        nat = int(rng.integers(0, 25))
        x = float(np.round(rng.uniform(-500.0, 2000.0), 2))
        q = PFX + ("SELECT ?c ?seg WHERE {\n  GRAPH <%snation/%d> {\n"
                   "    ?c gk:c_mktsegment ?seg .\n    ?c gk:c_acctbal ?b .\n"
                   "    FILTER (?b < %r)\n  }\n}" % (REL, nat, x))
        rows = sql_rows(con, (
            "SELECT {c} AS c, c_mktsegment AS seg FROM customer WHERE "
            "c_nationkey = {nat} AND c_acctbal < {x!r}").format(
            c=sq_uri("customer", "c_custkey"), nat=nat, x=x))
        return t, "select", q, expect(rows)
    if t == "from_scope":
        a, b = (int(v) for v in rng.choice(25, 2, replace=False))
        x = float(np.round(rng.uniform(7000.0, 9500.0), 2))
        q = PFX + ("SELECT ?c ?name\nFROM <%snation/%d>\nFROM <%snation/%d>\n"
                   "WHERE {\n  ?c gk:c_name ?name .\n  ?c gk:c_acctbal ?b .\n"
                   "  FILTER (?b > %r)\n}" % (REL, a, REL, b, x))
        rows = sql_rows(con, (
            "SELECT {c} AS c, c_name AS name FROM customer WHERE c_nationkey "
            "IN ({a}, {b}) AND c_acctbal > {x!r}").format(
            c=sq_uri("customer", "c_custkey"), a=a, b=b, x=x))
        return t, "select", q, expect(rows)
    # supplier_join
    r = int(rng.integers(0, 5))
    q = PFX + ("SELECT ?s ?sname ?nname WHERE {\n  ?s gk:s_nationkey ?n .\n"
               "  ?n gk:n_regionkey <%sregion/%d> .\n  ?n gk:n_name ?nname .\n"
               "  ?s gk:s_name ?sname .\n}" % (REL, r))
    rows = sql_rows(con, (
        "SELECT {s} AS s, s_name AS sname, n_name AS nname FROM supplier JOIN "
        "nation ON n_nationkey = s_nationkey WHERE n_regionkey = {r}").format(
        s=sq_uri("supplier", "s_suppkey"), r=r))
    return t, "select", q, expect(rows)


ACCEPTS = ["application/sparql-results+json"] * 2 + [
    "application/sparql-results+xml", "text/tab-separated-values"]


def serve_ops(rng, con, tables, count, offset=0):
    """`count` reads; templates and Accept headers rotate in a fixed
    order (so every seed runs the same mix), constants are seed-drawn."""
    nations_of = tables["customer"].column("c_nationkey").to_pylist()
    n = tables["customer"].num_rows
    ops = []
    for i in range(offset, offset + count):
        t, kind, q, exp = serve_op(rng, con, nations_of, n,
                                   SERVE_TEMPLATES[i % len(SERVE_TEMPLATES)])
        ops.append({"template": t, "kind": kind, "text": q,
                    "accept": ACCEPTS[i % len(ACCEPTS)], "expect": exp})
    return ops


# ------------------------------------------------------------ mix

class MixModel:
    """The mutable part of the mix store: tenant graphs of `acct/*`
    subjects with `m_*` predicates. Writes touch nothing else, so the
    serve templates' DuckDB answers stay valid between writes."""

    def __init__(self, rng, ns=""):
        self.rng = rng
        self.ns = ns          # graph-name prefix (the warm-up uses its own)
        self.graphs = {}      # graph -> set of (s, p, o-canonical, o-sparql)
        self.next_acct = 0
        self.gen = 0

    def _acct_quads(self, acct):
        bal = float(np.round(self.rng.uniform(0.0, 5000.0), 2))
        seg = SEGMENTS[self.rng.integers(0, 2)]
        s = "acct/%d" % acct
        return [(s, "m_name", "Acct#%d" % acct, '"Acct#%d"' % acct),
                (s, "m_seg", seg, '"%s"' % seg),
                (s, "m_bal", canon_double(bal), repr(bal))]

    @staticmethod
    def _data_block(g, quads):
        lines = ["  GRAPH <%s%s> {" % (REL, g)]
        for s, p, _, osp in quads:
            lines.append("    <%s%s> gk:%s %s ." % (REL, s, p, osp))
        lines.append("  }")
        return "\n".join(lines)

    def live(self):
        return sorted(g for g, qs in self.graphs.items() if qs)

    def read_graph(self, g):
        q = PFX + ("SELECT ?s ?p ?o WHERE { GRAPH <%s%s> { ?s ?p ?o . } }"
                   % (REL, g))
        rows = [{"s": s, "p": p, "o": o} for s, p, o, _ in self.graphs.get(g, ())]
        return {"template": "raw_graph", "kind": "select", "text": q,
                "accept": "application/sparql-results+json",
                "expect": expect(rows)}

    def update(self, kind):
        """Apply one update to the model; returns (op, graphs to read)."""
        live = self.live()
        if kind in ("delete_data", "modify", "graph") and not live:
            kind = "insert_data"
        if kind == "insert_data":
            g = "%stenant/%d" % (self.ns, self.rng.integers(0, 4))
            quads = []
            for _ in range(int(self.rng.integers(3, 7))):
                quads += self._acct_quads(self.next_acct)
                self.next_acct += 1
            self.graphs.setdefault(g, set()).update(quads)
            text = PFX + "INSERT DATA {\n%s\n}" % self._data_block(g, quads)
            return {"kind": "insert_data", "text": text}, [g]
        if kind == "delete_data":
            g = live[self.rng.integers(0, len(live))]
            pool = sorted(self.graphs[g])
            pick = [pool[i] for i in self.rng.choice(
                len(pool), min(len(pool), int(self.rng.integers(2, 6))),
                replace=False)]
            self.graphs[g].difference_update(pick)
            text = PFX + "DELETE DATA {\n%s\n}" % self._data_block(g, pick)
            return {"kind": "delete_data", "text": text}, [g]
        if kind == "modify":
            g = live[self.rng.integers(0, len(live))]
            seg = SEGMENTS[self.rng.integers(0, 2)]
            qs = self.graphs[g]
            segs = {s for s, p, o, _ in qs if p == "m_seg" and o == seg}
            hit = {q for q in qs if q[0] in segs and q[1] == "m_bal"}
            qs.difference_update(hit)
            qs.update((q[0], "m_redacted", "true", "true") for q in hit)
            text = PFX + (
                "DELETE { GRAPH <{r}{g}> { ?a gk:m_bal ?b . } }\n"
                "INSERT { GRAPH <{r}{g}> { ?a gk:m_redacted true . } }\n"
                "WHERE { GRAPH <{r}{g}> { ?a gk:m_seg \"{seg}\" . "
                "?a gk:m_bal ?b . } }").replace("{r}", REL).replace(
                "{g}", g).replace("{seg}", seg)
            return {"kind": "modify", "text": text}, [g]
        # graph management, the q195 lifecycle as one request: copy a
        # graph, move the copy to a fresh name, drop the original
        self.gen += 1
        src = live[self.rng.integers(0, len(live))]
        copy = "%scopy/%d" % (self.ns, self.gen)
        dst = "%smoved/%d" % (self.ns, self.gen)
        self.graphs[dst] = set(self.graphs[src])
        self.graphs[src] = set()
        text = "ADD <{r}{s}> TO <{r}{c}> ;\nMOVE <{r}{c}> TO <{r}{d}> ;\n" \
               "DROP GRAPH <{r}{s}>".format(r=REL, s=src, c=copy, d=dst)
        return {"kind": "graph", "text": text}, [dst, src]


# One rotation of the mix: each update kind once, then a compaction.
MIX_KINDS = ["insert_data", "modify", "delete_data", "graph"]


def mix_warmup(rng):
    """Updates of every kind, on warm-up graphs no measured read looks
    at, so the write path is warm before timing starts."""
    model = MixModel(rng, ns="warmup-")
    ops = [model.update(k)[0] for k in MIX_KINDS]
    return ops + [{"kind": "compact"}]


def mix_ops(rng, con, tables, n_updates):
    """Closed-loop sequence of MIX_KINDS rotations: each update is
    followed by reads of the graphs it touched (read-after-write),
    topped up with serve reads to MIX_READS_PER_UPDATE reads per update;
    QuadDb.compact closes each rotation."""
    model = MixModel(rng)
    kinds = MIX_KINDS
    ops = []
    served = 0
    for i in range(n_updates):
        upd, touched = model.update(kinds[i % len(kinds)])
        ops.append(upd)
        reads = [model.read_graph(g) for g in touched]
        more = MIX_READS_PER_UPDATE - len(reads)
        reads += serve_ops(rng, con, tables, more, offset=served)
        served += more
        ops += reads
        if (i + 1) % len(MIX_KINDS) == 0:
            ops.append({"kind": "compact"})
    return ops


# ------------------------------------------------------------ scale

def scale_ops(rng, con, sz, rounds):
    """`rounds` rounds; each round runs every template once with fresh
    seed-drawn constants."""
    paths = scale_paths_expect(con)
    ops = []
    for _ in range(rounds):
        s = int(rng.integers(0, sz["suppliers"]))
        p = int(rng.integers(0, sz["parts"]))
        c = int(rng.choice(np.arange(sz["customers"])[
            np.arange(sz["customers"]) % 3 != 0]))
        nat = int(rng.integers(0, 25))
        flag = ("A", "N", "R")[rng.integers(0, 3)]
        qmin = float(rng.integers(10, 40))
        li = sq_uri("lineitem", "l_id")
        star2 = sql_rows(con, (
            "SELECT {l} AS l, {x} AS price FROM lineitem WHERE l_suppkey = {s}"
        ).format(l=li, x=sq_double("l_extendedprice"), s=s))
        star3 = sql_rows(con, (
            "SELECT {l} AS l, {q} AS q, {o} AS o FROM lineitem WHERE "
            "l_partkey = {p}").format(l=li, q=sq_double("l_quantity"),
                                      o=sq_uri("orders", "l_orderkey"), p=p))
        chain3 = sql_rows(con, (
            "SELECT {l} AS l, {o} AS o, {q} AS q FROM lineitem JOIN orders ON "
            "o_orderkey = l_orderkey WHERE o_custkey = {c}").format(
            l=li, o=sq_uri("orders", "l_orderkey"),
            q=sq_double("l_quantity"), c=c))
        chain4 = sql_rows(con, (
            "SELECT {l} AS l, l_linestatus AS st FROM lineitem JOIN supplier "
            "ON s_suppkey = l_suppkey WHERE s_nationkey = {nat} AND "
            "l_returnflag = '{f}'").format(l=li, nat=nat, f=flag))
        text = sql_rows(con, (
            "SELECT {l} AS l, {q} AS q FROM lineitem WHERE l_partkey = {p} "
            "AND l_quantity > {qmin!r}").format(
            l=li, q=sq_double("l_quantity"), p=p, qmin=qmin))
        rdfs = sql_rows(con, (
            "SELECT {c} AS x FROM customer WHERE c_nationkey = {nat} UNION ALL "
            "SELECT {s} AS x FROM supplier WHERE s_nationkey = {nat}").format(
            c=sq_uri("customer", "c_custkey"), s=sq_uri("supplier", "s_suppkey"),
            nat=nat))
        consts = {"s": s, "p": p, "c": c, "nat": nat, "flag": flag,
                  "qmin": qmin}
        for name, rows in [("star2", star2), ("star3", star3),
                           ("chain3", chain3), ("chain4", chain4),
                           ("sparql_text", text), ("dict_star3", star3),
                           ("dict_chain3", chain3), ("rdfs", rdfs)]:
            ops.append({"template": name, "consts": consts,
                        "expect": expect(rows)})
        ops.append({"template": "paths", "consts": consts, "expect": paths})
    return ops


def scale_paths_expect(con):
    """Pairs reachable in 1..3 hops over o_custkey, c_nationkey and
    n_regionkey (the k-hop Paths walk)."""
    rows = sql_rows(con, """
        WITH e AS (
          SELECT 'orders/' || o_orderkey AS src, 'customer/' || o_custkey AS dst
            FROM orders
          UNION SELECT 'customer/' || c_custkey, 'nation/' || c_nationkey
            FROM customer
          UNION SELECT 'nation/' || n_nationkey, 'region/' || n_regionkey
            FROM nation),
        h2 AS (SELECT a.src, b.dst FROM e a JOIN e b ON a.dst = b.src),
        h3 AS (SELECT a.src, b.dst FROM h2 a JOIN e b ON a.dst = b.src)
        SELECT src, dst FROM e UNION SELECT src, dst FROM h2
        UNION SELECT src, dst FROM h3""")
    return expect(rows)


# ------------------------------------------------------------ curate

def curate_tables(rng, sz):
    """Documents (the Stress replica recipe) and clustered embeddings.

    Base documents are either quality text (long, stopword-bearing, no
    punctuation) or junk (short, punctuation-heavy) that Text.isQuality
    rejects. Each base document is replicated `replicas` times: the
    first half are exact copies, the second half drop the last word.
    After the quality filter and exact dedup, every quality base doc
    leaves exactly two texts (full and dropped-word) that form exactly
    one near-duplicate pair; distinct base docs share almost no
    3-shingles (random words from a 70-word vocabulary).
    """
    docs_id, docs_text = [], []
    n_base, n_junk, reps = sz["base_docs"], sz["junk_docs"], sz["replicas"]
    half = reps // 2
    for b in range(n_base + n_junk):
        if b < n_base:
            n = int(rng.integers(40, 90))
            words = [WORDS[i] for i in rng.integers(0, len(WORDS), n)]
            for j in rng.choice(n, 3, replace=False):
                words[j] = STOPWORDS[rng.integers(0, len(STOPWORDS))]
            text = " ".join(words)
        else:
            text = "!!! ??? %s ;;; ..." % WORDS[rng.integers(0, len(WORDS))]
        dropped = text.rsplit(" ", 1)[0]
        for r in range(reps):
            docs_id.append(r * 1000000 + b)
            docs_text.append(text if r < half else dropped)
    docs = pa.table({"doc_id": pa.array(docs_id, pa.int64()),
                     "text": pa.array(docs_text, pa.string())})
    d, nv = sz["dim"], sz["vectors"]
    centres = rng.normal(0.0, 1.0, (sz["clusters"], d))
    assign = rng.integers(0, sz["clusters"], nv)
    vecs = (centres[assign] + rng.normal(0.0, 0.35, (nv, d))).astype(np.float32)
    emb = pa.table({
        "vec_id": pa.array(np.arange(nv), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32()))})
    qids = rng.choice(np.arange(16, nv), sz["queries"], replace=False)
    unit = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    sims = unit[qids] @ unit.T
    truth = []
    for qi, q in enumerate(qids):
        order = sorted(range(nv), key=lambda j: (-float(sims[qi, j]), j))
        truth.append([int(j) for j in order[:sz["k"]]])
    expected = {"quality_docs": (n_base) * reps,
                "kept_after_exact": 2 * n_base,
                "near_dup_pairs": n_base,
                "survivors": n_base,
                "query_ids": [int(q) for q in qids],
                "truth": truth, "k": sz["k"], "recall_floor": 0.7}
    return {"documents": docs, "embeddings": emb}, expected


# ------------------------------------------------------------ entry

def generate(workload, seed, out_dir, seconds):
    rng = np.random.default_rng([seed, {"serve": 1, "mix": 2, "scale": 3,
                                        "curate": 4}[workload]])
    spec = {"workload": workload, "seed": seed, "data": out_dir}
    if workload in ("serve", "mix"):
        sz = SIZES["star"]
        tables = star_tables(rng, sz["customers"], sz["orders"],
                             sz["suppliers"])
        write_tables(tables, out_dir)
        con = duck(tables)
        spec["sizes"] = dict(sz)
        spec["warmup"] = serve_ops(rng, con, tables, 9)
        if workload == "serve":
            # Poisson arrivals for twice the window; the JVM stops at the
            # window's end. A trace run replays a prefix of the same list.
            n = int(SERVE_RATE * seconds * 2) + 20
            gaps = rng.exponential(1.0 / SERVE_RATE, n)
            spec["rate"] = SERVE_RATE
            spec["due_ms"] = [float(x) for x in np.cumsum(gaps) * 1000.0]
            spec["ops"] = serve_ops(rng, con, tables, n)
        else:
            spec["warmup_updates"] = mix_warmup(rng)
            spec["ops"] = mix_ops(rng, con, tables, seconds + 10)
    elif workload == "scale":
        sz = SIZES["scale"]
        tables = star_tables(rng, sz["customers"], sz["orders"],
                             sz["suppliers"])
        tables["lineitem"] = lineitem_table(rng, sz["lineitems"], sz["orders"],
                                            sz["parts"], sz["suppliers"])
        write_tables(tables, out_dir)
        con = duck(tables)
        spec["sizes"] = dict(sz)
        spec["ops"] = scale_ops(rng, con, sz, seconds + 2)
    else:
        sz = SIZES["curate"]
        tables, expected = curate_tables(rng, sz)
        write_tables(tables, out_dir)
        spec["sizes"] = dict(sz)
        spec["expect"] = expected
    return spec

