"""Build the benchmark's inputs without the program under test.

Everything here uses DuckDB, pyarrow and numpy only, never
``kolibrie_spark``, so a parent commit and a change read byte-identical
inputs.  The relational data is DuckDB's built-in TPC-H generator (fixed
seeds, deterministic) plus a numpy-generated ``events`` table.  From it
this module writes, under ``<checkout>/.perfbench_data/<kind>-<scale>/``:

- ``<table>.parquet`` and ``quads.parquet`` (s, p, o, g): the oracle's view;
- ``dump.nq``: every quad as an N-Quads text dump (``kg-*``);
- ``stream/``: one parquet chunk of events per window slide, in mtime order,
  and ``static.parquet``, the customer quads joined to it (``stream-*``).

Data size depends on the scale only, never on the workload seed.  Inputs
are built once per checkout and reused; a ``_READY`` marker guards each
directory against a half-written build.
"""

from __future__ import annotations

import os
import shutil

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq


# scale name -> TPC-H scale factor; sf0.001 holds ~78k quads, sf0.1 100k events
SCALES = {"sf0.1": 0.1, "sf0.001": 0.001}

EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
EVENT_DAYS = 30
EVENT_EPOCH = 1704067200  # 2024-01-01T00:00:00Z, a multiple of every slide
STREAM_SLIDE = 43200  # one chunk file per 12 h slide
# written to each input directory's _READY marker: a build made with other
# generation parameters is rebuilt, never reused
FORMAT_VERSION = f"2 events={EVENT_DAYS}d slide={STREAM_SLIDE}s"

# key column and foreign keys of each relational table; an FK value
# becomes the IRI of the referenced row, so BGPs join across tables
TABLES = {
    "region": ("r_regionkey", {}),
    "nation": ("n_nationkey", {"n_regionkey": "region"}),
    "customer": ("c_custkey", {"c_nationkey": "nation"}),
    "supplier": ("s_suppkey", {"s_nationkey": "nation"}),
    "part": ("p_partkey", {}),
    "orders": ("o_orderkey", {"o_custkey": "customer"}),
    "lineitem": (
        "l_orderkey || '-' || l_linenumber",
        {"l_orderkey": "orders", "l_partkey": "part", "l_suppkey": "supplier"},
    ),
}

COLUMNS = {
    "region": "r_regionkey, r_name",
    "nation": "n_nationkey, n_name, n_regionkey",
    "customer": "c_custkey, c_name, c_nationkey, CAST(c_acctbal AS DOUBLE) AS c_acctbal, c_mktsegment",
    "supplier": "s_suppkey, s_name, s_nationkey, CAST(s_acctbal AS DOUBLE) AS s_acctbal",
    "part": "p_partkey, p_name, p_brand, p_type, p_size, CAST(p_retailprice AS DOUBLE) AS p_retailprice",
    "orders": "o_orderkey, o_custkey, o_orderstatus, CAST(o_totalprice AS DOUBLE) AS o_totalprice, "
    "o_orderdate, o_orderpriority",
    "lineitem": "l_orderkey, l_partkey, l_suppkey, l_linenumber, "
    "CAST(l_quantity AS DOUBLE) AS l_quantity, CAST(l_extendedprice AS DOUBLE) AS l_extendedprice, "
    "CAST(l_discount AS DOUBLE) AS l_discount, CAST(l_tax AS DOUBLE) AS l_tax, "
    "l_returnflag, l_linestatus, l_shipdate",
}

# tables that also live in named graphs, as in the repo's gate store
NAMED_GRAPHS = [
    ("nation", "urn:graph:nation"),
    ("nation", "urn:g1"),
    ("nation", "urn:g2"),
    ("customer", "urn:graph:customer"),
]


def data_root(checkout: str) -> str:
    return os.path.join(checkout, ".perfbench_data")


def connect(threads: int = 4) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(f"SET threads = {threads}")
    con.execute("SET memory_limit = '2GB'")
    con.execute("SET preserve_insertion_order = true")
    con.execute("SET enable_progress_bar = false")
    return con


def _table_quads_sql(table: str, cols: list[str], graph: str | None) -> str:
    key, fks = TABLES[table]
    g = "NULL" if graph is None else f"'{graph}'"
    parts = []
    for c in cols:
        if c in fks:
            obj = f"'urn:{fks[c]}:' || {c}"
        else:
            obj = f"CAST({c} AS VARCHAR)"
        parts.append(
            f"SELECT 'urn:{table}:' || {key} AS s, 'urn:{table}#{c}' AS p, "
            f"{obj} AS o, CAST({g} AS VARCHAR) AS g FROM {table}"
        )
    return " UNION ALL ".join(parts)


def _events(n: int, users: int) -> pa.Table:
    rng = np.random.default_rng(20240101)
    span = EVENT_DAYS * 86400
    et = np.sort(rng.integers(0, span, size=n)) + EVENT_EPOCH
    return pa.table(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "event_time": et.astype(np.int64),
            "user_id": rng.integers(1, users + 1, size=n).astype(np.int64),
            "event_type": pa.array(
                np.array(EVENT_TYPES)[rng.integers(0, len(EVENT_TYPES), size=n)]
            ),
        }
    )


def build_tables(con: duckdb.DuckDBPyConnection, scale: str) -> None:
    """TPC-H tables (benchmark columns only) plus ``events`` and ``quads``
    as DuckDB tables in ``con``."""
    sf = SCALES[scale]
    con.execute(f"CALL dbgen(sf={sf})")
    for t, cols in COLUMNS.items():
        con.execute(f"CREATE OR REPLACE TABLE {t}_b AS SELECT {cols} FROM {t}")
        con.execute(f"DROP TABLE {t}")
        con.execute(f"ALTER TABLE {t}_b RENAME TO {t}")
    n_cust = con.execute("SELECT count(*) FROM customer").fetchone()[0]
    ev = _events(int(round(1_000_000 * sf)), max(1, n_cust // 10))
    con.register("events_arrow", ev)
    con.execute("CREATE OR REPLACE TABLE events AS SELECT * FROM events_arrow")
    con.unregister("events_arrow")
    selects = []
    for t in TABLES:
        cols = [d[0] for d in con.execute(f"DESCRIBE {t}").fetchall()]
        selects.append(_table_quads_sql(t, cols, None))
    for t, g in NAMED_GRAPHS:
        cols = [d[0] for d in con.execute(f"DESCRIBE {t}").fetchall()]
        selects.append(_table_quads_sql(t, cols, g))
    con.execute("CREATE OR REPLACE TABLE quads AS " + " UNION ALL ".join(selects))


def _nq_term(v: str) -> str:
    return f"<{v}>" if v.startswith("urn:") else '"' + v.replace("\\", "\\\\").replace('"', '\\"') + '"'


def _write_dump(con, path: str) -> None:
    """N-Quads text of the ``quads`` table; literals are plain strings."""
    reader = con.execute("SELECT s, p, o, g FROM quads").fetch_record_batch(200_000)
    with open(path, "w", encoding="utf-8") as f:
        for batch in reader:
            d = batch.to_pydict()
            f.writelines(
                f"<{s}> <{p}> {_nq_term(o)} <{g}> .\n" if g else f"<{s}> <{p}> {_nq_term(o)} .\n"
                for s, p, o, g in zip(d["s"], d["p"], d["o"], d["g"])
            )


def _write_stream(con, path: str) -> None:
    """One parquet chunk per slide, named and mtime-ordered by slide, so a
    file source with maxFilesPerTrigger=1 replays slides in order."""
    os.makedirs(path)
    tbl = con.execute(
        f"SELECT 'urn:customer:' || user_id AS s, event_type AS o, event_time, "
        f"(event_time - {EVENT_EPOCH}) // {STREAM_SLIDE} AS k FROM events ORDER BY event_id"
    ).fetch_arrow_table()
    ks = tbl.column("k").to_numpy()
    n = int(ks.max()) + 1
    for k in range(n):
        chunk = tbl.filter(pc.equal(tbl.column("k"), k)).drop_columns(["k"])
        f = os.path.join(path, f"w{k:03d}.parquet")
        pq.write_table(chunk, f)
        os.utime(f, (k * 1000, k * 1000))


def _ensure(checkout: str, name: str, scale: str, build) -> str:
    root = os.path.join(data_root(checkout), f"{name}-{scale}")
    marker = os.path.join(root, "_READY")
    if os.path.exists(marker):
        with open(marker) as f:
            if f.read().strip() == FORMAT_VERSION:
                return root
    shutil.rmtree(root, ignore_errors=True)
    tmp = root + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    con = connect()
    try:
        build_tables(con, scale)
        for t in list(COLUMNS) + ["events", "quads"]:
            con.execute(f"COPY {t} TO '{tmp}/{t}.parquet' (FORMAT PARQUET)")
        build(con, tmp)
    finally:
        con.close()
    with open(os.path.join(tmp, "_READY"), "w") as f:
        f.write(FORMAT_VERSION)
    os.rename(tmp, root)
    return root


def ensure_kg(checkout: str, scale: str) -> str:
    """Inputs of the write-side workload: the N-Quads dump and its tables."""
    return _ensure(checkout, "kg", scale, lambda con, d: _write_dump(con, os.path.join(d, "dump.nq")))


def ensure_stream(checkout: str, scale: str) -> str:
    """Inputs of the stream workload: slide chunks and the static store."""

    def build(con, d):
        _write_stream(con, os.path.join(d, "stream"))
        con.execute(
            f"COPY (SELECT s, p, o, g FROM quads WHERE p LIKE 'urn:customer#%' AND g IS NULL) "
            f"TO '{d}/static.parquet' (FORMAT PARQUET)"
        )

    return _ensure(checkout, "stream", scale, build)


def oracle(root: str, threads: int = 4) -> duckdb.DuckDBPyConnection:
    """DuckDB connection with views over a built input directory."""
    con = connect(threads)
    for t in list(COLUMNS) + ["events", "quads"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{root}/{t}.parquet'")
    return con
