"""The workloads, each driven from one closed-loop client thread through
the package's public API.

``kg_maintain``: one pass loads an N-Quads dump with
``QuadStore.load_distributed``, runs the seeded SPARQL Update sequence,
registers the partOf rules and materializes them, runs the SELECT mix over
the mutated store and exports it with ``export_zst``.

``rsp_live``: one pass replays the event chunks through a live
``readStream`` file source (``maxFilesPerTrigger=1``) into an ISTREAM
sliding-window query joined to a static customer store, started with
``compile_structured(...).start`` and drained.

Each workload first runs untimed warm-up passes that make the same calls,
then timed passes until the run's seconds are used up.  Every operation's
output is checked against DuckDB answers computed before Spark starts; a
mismatch or an exception counts as a failed operation and the run goes on.
"""

from __future__ import annotations

import glob
import os
import random
import shutil
import sys
import time
import traceback
from dataclasses import dataclass, field

import mix
import prepare


@dataclass
class Config:
    scale: str
    warmup_passes: int
    warmup_chunks: int = 0  # rsp_live: chunks replayed by each warm-up pass
    max_chunks: int = 0  # rsp_live: chunks replayed by a timed pass, 0 = all


CONFIGS = {
    "kg_maintain": Config(scale="sf0.001", warmup_passes=1),
    "rsp_live": Config(scale="sf0.1", warmup_passes=1, warmup_chunks=4, max_chunks=12),
}
SMOKE = {
    "kg_maintain": Config(scale="sf0.001", warmup_passes=0),
    "rsp_live": Config(scale="sf0.001", warmup_passes=0, max_chunks=4),
}


@dataclass
class Run:
    """What one workload run measured."""

    passes: list = field(default_factory=list)  # seconds of each timed pass
    ops: list = field(default_factory=list)  # seconds of each timed request
    attempted: int = 0
    failed: int = 0
    checking: bool = False  # warm-up passes skip the output checks

    def check(self, what: str, ok) -> None:
        """Count one checked operation; ``ok`` is a callable, evaluated
        only when checking, so warm-up passes launch no check jobs."""
        if not self.checking:
            return
        passed = ok()
        self.attempted += 1
        if not passed:
            self.failed += 1
            print(f"check failed: {what}", file=sys.stderr, flush=True)

    def error(self, what: str) -> None:
        self.attempted += 1
        self.failed += 1
        print(f"operation failed: {what}\n{traceback.format_exc()}", file=sys.stderr, flush=True)


def _cell(v):
    if v is None:
        return None
    try:
        return round(float(v), 4)
    except (TypeError, ValueError):
        return str(v)


def normalize(rows) -> list[tuple]:
    """Rows as a sorted list of tuples whose numeric cells, typed or
    lexical, compare as rounded floats."""
    return sorted((tuple(_cell(c) for c in r) for r in rows), key=repr)


# ---------------------------------------------------------------- kg_maintain

def kg_expect(root: str, seed: int) -> dict:
    """Texts of the seed's mix and DuckDB's answer for every check."""
    con = prepare.oracle(root)
    try:
        sel = mix.selects(seed, con)
        ups = mix.updates(seed, con)
        con.execute("CREATE TABLE q AS SELECT * FROM quads")

        def count() -> int:
            return con.execute("SELECT count(*) FROM q").fetchone()[0]

        loaded = count()
        after = {}
        for uid, _, sqls in ups:
            for s in sqls:
                con.execute(s)
            after[uid] = count()
        before_rules = count()
        for s in mix.DERIVE_SQL:
            con.execute(s)
        final = count()
        answers = {qid: normalize(con.execute(sql.format(Q="q")).fetchall()) for qid, _, sql in sel}
    finally:
        con.close()
    return {
        "dump": os.path.join(root, "dump.nq"),
        "selects": [(qid, text) for qid, text, _ in sel],
        "order": mix.pass_order(seed, len(sel)),
        "updates": [(uid, text) for uid, text, _ in ups],
        "loaded": loaded,
        "after": after,
        "derived": final - before_rules,
        "final": final,
        "answers": answers,
    }


def _timed(ops: list, name: str, fn):
    t0 = time.perf_counter()
    out = fn()
    ops.append((name, time.perf_counter() - t0))
    return out


def _select(ctx, eng, qid: str, text: str, ops: list):
    """One SELECT from query text to all rows on the driver.  Traced, the
    same calls are split into build (``query()``), plan and execution."""
    tr = ctx.tracer
    with tr.span(f"sparql.q.{qid}"):
        t0 = time.perf_counter()
        with tr.span("sparql.build"):
            df = eng.query(text)
        if tr.enabled:
            with tr.span("sparql.plan"):
                df._jdf.queryExecution().executedPlan()
        with tr.span("sparql.exec"):
            rows = df.collect()
        ops.append((f"select.{qid}", time.perf_counter() - t0))
    return rows


def _exported_quads(out_dir: str) -> int:
    """Lines in the exported zstd files, read back by DuckDB."""
    con = prepare.connect()
    try:
        return con.execute(
            f"SELECT count(*) FROM read_csv('{out_dir}/*.zst', columns={{'line': 'VARCHAR'}}, "
            "delim='\x1f', quote='', escape='', header=false, compression='zstd')"
        ).fetchone()[0]
    finally:
        con.close()


def kg_pass(ctx, exp: dict, run: Run) -> list:
    """One load -> update -> reason -> select -> export pass; returns the
    (operation, seconds) list.  Checks run between operations, untimed."""
    from kolibrie_spark import QuadStore, SparqlEngine

    tr, ops = ctx.tracer, []
    store = QuadStore(ctx.spark)
    eng = SparqlEngine(ctx.spark, store)
    if tr.enabled:
        replace = store.replace_quads

        def traced_replace(*a, **kw):
            with tr.span("store.replace"):
                return replace(*a, **kw)

        store.replace_quads = traced_replace

    def step(what: str, fn):
        try:
            fn()
        except Exception:
            run.error(what)

    def load():
        with tr.span("rdfio.load"):
            n = _timed(ops, "load", lambda: store.load_distributed(exp["dump"]))
        run.check("load: parsed quads", lambda: n == exp["loaded"])
        run.check("load: stored quads", lambda: store.quads.count() == exp["loaded"])
        ctx.count("rdfio.quads_in", n)

    step("load", load)
    for uid, text in exp["updates"]:
        def update(uid=uid, text=text):
            with tr.span(f"sparql.update.{uid}"):
                _timed(ops, f"update.{uid}", lambda: eng.update(text))
            run.check(f"update {uid}: quads after", lambda: store.quads.count() == exp["after"][uid])

        step(f"update {uid}", update)

    def reason():
        def go():
            for r in mix.RULES:
                eng.register_rule(r)
            return eng.materialize()

        with tr.span("reasoner.materialize"):
            derived = _timed(ops, "materialize", go)
        run.check("materialize: derived quads", lambda: derived == exp["derived"])
        run.check("materialize: quads after", lambda: store.quads.count() == exp["final"])
        ctx.count("reasoner.derived_quads", derived)

    step("materialize", reason)
    rows_out = 0
    for i in exp["order"]:
        qid, text = exp["selects"][i]

        def select(qid=qid, text=text):
            nonlocal rows_out
            rows = _select(ctx, eng, qid, text, ops)
            rows_out += len(rows)
            run.check(f"select {qid}: answer", lambda: normalize(rows) == exp["answers"][qid])

        step(f"select {qid}", select)
    ctx.count("sparql.rows_out", rows_out)

    def export():
        out = ctx.scratch("export")
        with tr.span("rdfio.export"):
            manifest = _timed(ops, "export", lambda: store.export_zst(out))
        rows = sum(m["rows"] for m in manifest)
        run.check("export: manifest rows", lambda: rows == exp["final"])
        run.check("export: reloaded quads", lambda: _exported_quads(out) == exp["final"])
        ctx.count("store.quads", rows)
        ctx.count("rdfio.bytes_out", sum(m["bytes"] for m in manifest))

    step("export", export)
    ctx.count("rdfio.bytes_in", os.path.getsize(exp["dump"]))
    return ops


# ------------------------------------------------------------------- rsp_live

W_RANGE = 2 * prepare.STREAM_SLIDE  # RANGE > STEP: each event is in two windows


def rsp_expect(root: str, seed: int) -> dict:
    """The seed's query and, per micro-batch k, the ISTREAM emission of the
    window that closes at the start of chunk k: the window's distinct
    bindings minus those of the window one slide earlier."""
    seg = random.Random(seed * 31 + 7).choice(mix.SEGMENTS)
    src = os.path.join(root, "stream")
    n = len(glob.glob(os.path.join(src, "*.parquet")))
    s, w, e0 = prepare.STREAM_SLIDE, W_RANGE, prepare.EVENT_EPOCH
    con = prepare.oracle(root)
    try:
        rows = con.execute(
            "WITH e AS (SELECT 'urn:customer:' || user_id AS u, event_type AS t, event_time AS et FROM events), "
            f"seg AS (SELECT 'urn:customer:' || c_custkey AS u FROM customer WHERE c_mktsegment = '{seg}'), "
            f"ks AS (SELECT unnest(range(0, {n})) AS k), "
            "r AS (SELECT DISTINCT k, e.u, e.t FROM ks, e JOIN seg USING (u) "
            f"WHERE e.et >= {e0} + k * {s} - {w} AND e.et < {e0} + k * {s}) "
            "SELECT k, u, t FROM r WHERE NOT EXISTS "
            "(SELECT 1 FROM r p WHERE p.k = r.k - 1 AND p.u = r.u AND p.t = r.t)"
        ).fetchall()
    finally:
        con.close()
    emissions = {k: [] for k in range(n)}
    for k, u, t in rows:
        emissions[k].append((u, t))
    return {
        "src": src,
        "static": os.path.join(root, "static.parquet"),
        "chunks": sorted(glob.glob(os.path.join(src, "*.parquet"))),
        "query": "REGISTER ISTREAM <out> AS SELECT * "
        f"FROM NAMED WINDOW :w ON :ev [RANGE {w} STEP {s}] "
        f'WHERE {{ WINDOW :w {{ ?u <t> ?t }} ?u <urn:customer#c_mktsegment> "{seg}" }}',
        "emissions": {k: normalize(v) for k, v in emissions.items()},
    }


def _chunk_dir(ctx, exp: dict, n: int) -> str:
    """A source directory holding the first ``n`` chunks, mtimes kept."""
    if n >= len(exp["chunks"]):
        return exp["src"]
    d = ctx.scratch(f"src{n}", fresh=False)
    if not os.listdir(d):
        for f in exp["chunks"][:n]:
            shutil.copy2(f, d)
    return d


def rsp_pass(ctx, exp: dict, run: Run, n_chunks: int) -> tuple[float, list]:
    """One live stream from ``start()`` to drained; returns its wall time
    and the ``triggerExecution`` seconds of each micro-batch."""
    from pyspark.sql import functions as F

    from kolibrie_spark.streaming.structured import compile_structured

    spark, tr = ctx.spark, ctx.tracer
    src = _chunk_dir(ctx, exp, n_chunks)
    base = ctx.scratch("stream")
    results = os.path.join(base, "results")
    with tr.span("streaming.compile"):
        q = compile_structured(spark, exp["query"], static_store=ctx.static)
    batch = [-1]
    process = q.process_batch

    def process_batch(events):
        batch[0] += 1
        with tr.span("streaming.process_batch"):
            return process(events)

    def sink(out_df):
        with tr.span("streaming.sink"):
            out_df.withColumn("k", F.lit(batch[0])).write.mode("append").parquet(results)

    q.process_batch = process_batch
    q.sink = sink
    stream = (
        spark.readStream.schema("s string, o string, event_time long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .select(
            "s",
            F.lit("t").alias("p"),
            "o",
            F.lit(None).cast("string").alias("g"),
            F.lit("ev").alias("stream"),
            "event_time",
        )
    )
    t0 = time.perf_counter()
    sq = q.start(stream, os.path.join(base, "ckpt"))
    try:
        sq.processAllAvailable()
        wall = time.perf_counter() - t0
        # micro-batches that ran; idle triggers report no addBatch phase
        progress = [p for p in sq.recentProgress if "addBatch" in p["durationMs"]]
    finally:
        sq.stop()
    batches = len(progress)
    run.check("stream: one micro-batch per chunk file", lambda: n_chunks <= batches <= n_chunks + 1)
    got = {k: [] for k in range(batches)}
    if run.checking and os.path.exists(results):
        for r in spark.read.parquet(results).select("k", "u", "t").collect():
            got.setdefault(r.k, []).append((r.u, r.t))
    for k in range(batches):
        # a trailing batch past the replayed chunks reads nothing and fires nothing
        want = exp["emissions"][k] if k < n_chunks else []
        run.check(f"stream: emission of batch {k}", lambda: normalize(got[k]) == want)
    triggers = [p["durationMs"]["triggerExecution"] / 1000 for p in progress]
    ctx.count("streaming.batches", batches)
    ctx.count("streaming.events_in", sum(p["numInputRows"] for p in progress))
    ctx.count("streaming.rows_out", sum(len(v) for v in got.values()))
    ctx.count("streaming.trigger_s", sum(triggers))
    return wall, triggers
