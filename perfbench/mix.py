"""The fixed operation mixes and their DuckDB twins.

Each SPARQL text comes with SQL over a quads table ``(s, p, o, g)`` that
computes the expected answer; ``g IS NULL`` is the default graph.  The
workload seed picks FILTER constants, lookup subjects, update payloads
and the query order; it never changes data size.  Constants that must
name existing data are read from the oracle connection, never from the
program under test.
"""

from __future__ import annotations

import random


def _bgp(patterns, graph: str | None = None, table: str = "{Q}"):
    """SQL FROM/WHERE for a basic graph pattern.

    ``patterns`` holds (s, p, o) terms; a term starting with ``?`` is a
    variable.  Returns (from_sql, where_list, var -> column)."""
    froms, where, cols = [], [], {}
    gcond = "IS NULL" if graph is None else f"= '{graph}'"
    for i, pat in enumerate(patterns):
        a = f"t{i}"
        froms.append(f"{table} {a}")
        where.append(f"{a}.g {gcond}")
        for pos, term in zip("spo", pat):
            col = f"{a}.{pos}"
            if term.startswith("?"):
                if term in cols:
                    where.append(f"{col} = {cols[term]}")
                else:
                    cols[term] = col
            else:
                where.append(f"{col} = '{term}'")
    return ", ".join(froms), where, cols


def _select(patterns, out, extra_where=(), graph=None):
    """SQL projecting the ``out`` variables of a BGP; ``extra_where``
    conditions name variables as ``{var}``."""
    frm, where, cols = _bgp(patterns, graph)
    where = list(where) + [w.format(**{k[1:]: v for k, v in cols.items()}) for w in extra_where]
    proj = ", ".join(f"{cols[v]} AS {v[1:]}" for v in out)
    return f"SELECT {proj} FROM {frm} WHERE {' AND '.join(where)}"


C, O, L, N = "urn:customer#", "urn:orders#", "urn:lineitem#", "urn:nation#"
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


def selects(seed: int, con) -> list[tuple[str, str, str]]:
    """The SELECT mix: (id, sparql, oracle sql with ``{Q}`` as the table)."""
    rng = random.Random(seed * 7919 + 1)
    bal = rng.randrange(7000, 9500)
    nat = rng.randrange(25)
    seg = rng.choice(SEGMENTS)
    prio = rng.choice(PRIORITIES)
    flag = rng.choice(["A", "N", "R"])
    n_orders = con.execute("SELECT max(o_orderkey) FROM orders").fetchone()[0]
    # a price between the 90th and 98th percentile: the join keeps a few
    # percent of the orders at every scale
    tp = int(con.execute(f"SELECT quantile_disc(o_totalprice, {rng.uniform(0.9, 0.98)}) FROM orders").fetchone()[0])
    okey = con.execute(
        f"SELECT o_orderkey FROM orders WHERE o_orderkey >= {rng.randrange(1, n_orders)} "
        "ORDER BY o_orderkey LIMIT 1"
    ).fetchone()[0]
    mix = [
        (
            "star_filter",
            "SELECT ?name ?seg ?bal WHERE { "
            f"?c <{C}c_name> ?name . ?c <{C}c_mktsegment> ?seg . ?c <{C}c_acctbal> ?bal . "
            f"FILTER(?bal > {bal}) }}",
            _select(
                [("?c", f"{C}c_name", "?name"), ("?c", f"{C}c_mktsegment", "?seg"),
                 ("?c", f"{C}c_acctbal", "?bal")],
                ["?name", "?seg", "?bal"],
                [f"CAST({{bal}} AS DOUBLE) > {bal}"],
            ),
        ),
        (
            "fk_join",
            "SELECT ?tp ?cname ?nname WHERE { "
            f"?o <{O}o_custkey> ?c . ?o <{O}o_totalprice> ?tp . ?c <{C}c_name> ?cname . "
            f"?c <{C}c_nationkey> ?n . ?n <{N}n_name> ?nname . FILTER(?tp > {tp}) }}",
            _select(
                [("?o", f"{O}o_custkey", "?c"), ("?o", f"{O}o_totalprice", "?tp"),
                 ("?c", f"{C}c_name", "?cname"), ("?c", f"{C}c_nationkey", "?n"),
                 ("?n", f"{N}n_name", "?nname")],
                ["?tp", "?cname", "?nname"],
                [f"CAST({{tp}} AS DOUBLE) > {tp}"],
            ),
        ),
        (
            "group_count",
            "SELECT ?prio (COUNT(?o) AS ?cnt) WHERE { "
            f"?o <{O}o_orderpriority> ?prio . ?o <{O}o_custkey> ?c . "
            f'?c <{C}c_mktsegment> "{seg}" }} GROUP BY ?prio',
            "SELECT prio, count(*) AS cnt FROM ("
            + _select(
                [("?o", f"{O}o_orderpriority", "?prio"), ("?o", f"{O}o_custkey", "?c"),
                 ("?c", f"{C}c_mktsegment", seg)],
                ["?prio", "?o"],
            )
            + ") GROUP BY prio",
        ),
        (
            "sum_top",
            "SELECT ?ord (SUM(?qty) AS ?total) WHERE { "
            f"?li <{L}l_orderkey> ?ord . ?li <{L}l_quantity> ?qty . "
            f'?li <{L}l_returnflag> "{flag}" }} GROUP BY ?ord ORDER BY DESC(?total) ?ord LIMIT 10',
            "SELECT ord, sum(CAST(qty AS DOUBLE)) AS total FROM ("
            + _select(
                [("?li", f"{L}l_orderkey", "?ord"), ("?li", f"{L}l_quantity", "?qty"),
                 ("?li", f"{L}l_returnflag", flag)],
                ["?ord", "?qty"],
            )
            + ") GROUP BY ord ORDER BY total DESC, ord LIMIT 10",
        ),
        (
            "optional",
            "SELECT ?name ?o WHERE { "
            f"?c <{C}c_name> ?name . ?c <{C}c_nationkey> <urn:nation:{nat}> . "
            f'OPTIONAL {{ ?o <{O}o_custkey> ?c . ?o <{O}o_orderpriority> "{prio}" }} }}',
            # the engine decodes an unbound variable to "", as the reference does
            "SELECT l.name, coalesce(r.o, '') AS o FROM ("
            + _select(
                [("?c", f"{C}c_name", "?name"), ("?c", f"{C}c_nationkey", f"urn:nation:{nat}")],
                ["?c", "?name"],
            )
            + ") l LEFT JOIN ("
            + _select(
                [("?o", f"{O}o_custkey", "?c"), ("?o", f"{O}o_orderpriority", prio)],
                ["?o", "?c"],
            )
            + ") r ON l.c = r.c",
        ),
        (
            "named_graph",
            "SELECT ?name ?bal WHERE { GRAPH <urn:graph:customer> { "
            f'?c <{C}c_name> ?name . ?c <{C}c_mktsegment> "{seg}" . ?c <{C}c_acctbal> ?bal }} }}',
            _select(
                [("?c", f"{C}c_name", "?name"), ("?c", f"{C}c_mktsegment", seg),
                 ("?c", f"{C}c_acctbal", "?bal")],
                ["?name", "?bal"],
                graph="urn:graph:customer",
            ),
        ),
        (
            "point_lookup",
            f"SELECT ?p ?v WHERE {{ <urn:orders:{okey}> ?p ?v }}",
            _select([(f"urn:orders:{okey}", "?p", "?v")], ["?p", "?v"]),
        ),
    ]
    return mix


SELECT_IDS = ["star_filter", "fk_join", "group_count", "sum_top", "optional", "named_graph", "point_lookup"]
UPDATE_IDS = ["insert_data", "delete_data", "insert_where", "delete_where", "delete_insert_where"]


def pass_order(seed: int, n: int) -> list[int]:
    """The seed's order of the SELECT mix within every pass."""
    order = list(range(n))
    random.Random(seed * 104729 + 3).shuffle(order)
    return order


def updates(seed: int, con) -> list[tuple[str, str, list[str]]]:
    """The update sequence: (id, sparql, DuckDB statements on table ``q``)."""
    rng = random.Random(seed * 15485863 + 5)
    n_cust = con.execute("SELECT max(c_custkey) FROM customer").fetchone()[0]
    n_ord = con.execute("SELECT max(o_orderkey) FROM orders").fetchone()[0]
    seg = rng.choice(SEGMENTS)
    seg2 = rng.choice([s for s in SEGMENTS if s != seg])
    region = rng.randrange(5)
    to_nation = rng.randrange(25)
    prio = rng.choice(PRIORITIES)
    status = rng.choice(["F", "O"])
    tier_bal = rng.randrange(9000, 9900)

    # INSERT DATA: new customers, each with one new order
    ins = []
    for i in range(20):
        c, o = n_cust + 1 + i, n_ord + 1 + i
        nat = rng.randrange(25)
        ins += [
            (f"urn:customer:{c}", f"{C}c_name", f"Customer#new{seed}-{i}"),
            (f"urn:customer:{c}", f"{C}c_nationkey", f"urn:nation:{nat}"),
            (f"urn:customer:{c}", f"{C}c_mktsegment", rng.choice(SEGMENTS)),
            (f"urn:customer:{c}", f"{C}c_acctbal", f"{rng.randrange(100000, 999999) / 100}"),
            (f"urn:orders:{o}", f"{O}o_custkey", f"urn:customer:{c}"),
            (f"urn:orders:{o}", f"{O}o_orderpriority", rng.choice(PRIORITIES)),
        ]
    # DELETE DATA: the segment of existing customers, read from the oracle
    picks = sorted(rng.sample(range(1, n_cust + 1), 20))
    dele = [
        (f"urn:customer:{k}", f"{C}c_mktsegment", v)
        for k, v in con.execute(
            f"SELECT c_custkey, c_mktsegment FROM customer WHERE c_custkey IN ({','.join(map(str, picks))})"
        ).fetchall()
    ]

    def term(t: str) -> str:
        return f"<{t}>" if t.startswith("urn:") else f'"{t}"'

    def data(rows) -> str:
        return " ".join(f"{term(s)} {term(p)} {term(o)} ." for s, p, o in rows)

    def values(rows) -> str:
        return ", ".join("(" + ", ".join(f"'{x}'" for x in r) + ")" for r in rows)

    dflt = "g IS NULL"
    return [
        (
            "insert_data",
            f"INSERT DATA {{ {data(ins)} }}",
            [f"INSERT INTO q SELECT s, p, o, NULL FROM (VALUES {values(ins)}) v(s, p, o) "
             f"WHERE NOT EXISTS (SELECT 1 FROM q WHERE q.s = v.s AND q.p = v.p AND q.o = v.o AND q.{dflt})"],
        ),
        (
            "delete_data",
            f"DELETE DATA {{ {data(dele)} }}",
            [f"DELETE FROM q WHERE {dflt} AND (s, p, o) IN (SELECT (s, p, o) FROM (VALUES {values(dele)}) v(s, p, o))"],
        ),
        (
            "insert_where",
            f'INSERT {{ ?c <{C}c_tier> "gold" }} WHERE {{ ?c <{C}c_acctbal> ?b . FILTER(?b > {tier_bal}) }}',
            [f"INSERT INTO q SELECT DISTINCT s, '{C}c_tier', 'gold', NULL FROM q "
             f"WHERE {dflt} AND p = '{C}c_acctbal' AND CAST(o AS DOUBLE) > {tier_bal}"],
        ),
        (
            "delete_where",
            f'DELETE WHERE {{ ?o <{O}o_orderpriority> "{prio}" . ?o <{O}o_orderstatus> "{status}" }}',
            [
                "CREATE OR REPLACE TEMP TABLE hit AS SELECT a.s FROM q a, q b WHERE a.s = b.s "
                f"AND a.{dflt} AND b.{dflt} AND a.p = '{O}o_orderpriority' AND a.o = '{prio}' "
                f"AND b.p = '{O}o_orderstatus' AND b.o = '{status}'",
                f"DELETE FROM q WHERE {dflt} AND s IN (SELECT s FROM hit) AND "
                f"((p = '{O}o_orderpriority' AND o = '{prio}') OR (p = '{O}o_orderstatus' AND o = '{status}'))",
            ],
        ),
        (
            "delete_insert_where",
            f"DELETE {{ ?c <{C}c_nationkey> ?n . ?c <{C}c_mktsegment> \"{seg}\" }} "
            f"INSERT {{ ?c <{C}c_nationkey> <urn:nation:{to_nation}> . ?c <{C}c_mktsegment> \"{seg2}\" }} "
            f'WHERE {{ ?c <{C}c_mktsegment> "{seg}" . ?c <{C}c_nationkey> ?n . '
            f"?n <{N}n_regionkey> <urn:region:{region}> }}",
            [
                "CREATE OR REPLACE TEMP TABLE hit AS SELECT a.s AS c, b.o AS n FROM q a, q b, q r "
                f"WHERE a.{dflt} AND b.{dflt} AND r.{dflt} AND a.p = '{C}c_mktsegment' AND a.o = '{seg}' "
                f"AND b.s = a.s AND b.p = '{C}c_nationkey' AND r.s = b.o AND r.p = '{N}n_regionkey' "
                f"AND r.o = 'urn:region:{region}'",
                f"DELETE FROM q WHERE {dflt} AND ((p = '{C}c_nationkey' AND (s, o) IN (SELECT (c, n) FROM hit)) "
                f"OR (p = '{C}c_mktsegment' AND o = '{seg}' AND s IN (SELECT c FROM hit)))",
                f"INSERT INTO q SELECT DISTINCT c, '{C}c_nationkey', 'urn:nation:{to_nation}', NULL FROM hit "
                f"WHERE NOT EXISTS (SELECT 1 FROM q WHERE q.s = hit.c AND q.p = '{C}c_nationkey' "
                f"AND q.o = 'urn:nation:{to_nation}' AND q.{dflt})",
                f"INSERT INTO q SELECT DISTINCT c, '{C}c_mktsegment', '{seg2}', NULL FROM hit "
                f"WHERE NOT EXISTS (SELECT 1 FROM q WHERE q.s = hit.c AND q.p = '{C}c_mktsegment' "
                f"AND q.o = '{seg2}' AND q.{dflt})",
            ],
        ),
    ]


PART_OF = "urn:partOf"

# partOf over the orders -> customer -> nation -> region FK chain, closed
# transitively
RULES = [
    f"RULE :OrderOf :- CONSTRUCT {{ ?o <{PART_OF}> ?c }} WHERE {{ ?o <{O}o_custkey> ?c }}",
    f"RULE :CustomerOf :- CONSTRUCT {{ ?c <{PART_OF}> ?n }} WHERE {{ ?c <{C}c_nationkey> ?n }}",
    f"RULE :NationOf :- CONSTRUCT {{ ?n <{PART_OF}> ?r }} WHERE {{ ?n <{N}n_regionkey> ?r }}",
    f"RULE :Trans :- CONSTRUCT {{ ?x <{PART_OF}> ?z }} WHERE {{ ?x <{PART_OF}> ?y . ?y <{PART_OF}> ?z }}",
]

# DuckDB twin of RULES: the fixpoint of the chain, added to the default graph
DERIVE_SQL = [
    "CREATE OR REPLACE TEMP TABLE e AS SELECT DISTINCT s, o FROM q WHERE g IS NULL AND p IN "
    f"('{O}o_custkey', '{C}c_nationkey', '{N}n_regionkey', '{PART_OF}')",
    "CREATE OR REPLACE TEMP TABLE cl AS WITH RECURSIVE r(s, o) AS ("
    "SELECT s, o FROM e UNION SELECT r.s, e.o FROM r JOIN e ON r.o = e.s) SELECT DISTINCT s, o FROM r",
    f"CREATE OR REPLACE TEMP TABLE derived AS SELECT s, '{PART_OF}' AS p, o, NULL::VARCHAR AS g FROM cl "
    f"WHERE NOT EXISTS (SELECT 1 FROM q WHERE q.g IS NULL AND q.p = '{PART_OF}' AND q.s = cl.s AND q.o = cl.o)",
    "INSERT INTO q SELECT * FROM derived",
]
