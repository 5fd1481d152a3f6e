"""The three workloads. Each is one closed loop with one client, driven
from the benchmark process, and checks every result it gets.

- ``point_oltp``: an order table served over the wire; point reads and
  point DML on a log with about one event per key.
- ``history_travel``: an account table with a deep, snapshotted history,
  served over the wire; time travel, drift, patches and maintenance.
- ``analytics_batch``: registry queries built, planned and executed
  in-process, no wire and no event-log writes.
"""

from __future__ import annotations

import datetime as dt
import itertools
import os
import random
import shutil
import time
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import datagen
from perfbench.harness import (
    Recorder,
    SparkJobs,
    batch_entries,
    closed_loop,
    dir_bytes,
    expect,
    layer_metrics,
)
from perfbench.model import INSERT, PATCH, ShadowTable
from perfbench.stats import median
from perfbench.trace import Tracer, install_engine_spans

# Set-up is repeated into fresh state and its median reported, except for
# history_travel, whose deep-history build is too long to repeat in a run.
SETUP_REPS = {"point_oltp": 3, "history_travel": 1, "analytics_batch": 3}

# point_oltp: an sf0.01-sized order table, one Insert event per key.
OLTP_ORDERS = 15_000
OLTP_COLS = {
    "o_orderkey": "bigint",
    "o_custkey": "bigint",
    "o_orderstatus": "string",
    "o_totalprice": "double",
    "o_orderpriority": "string",
}
OLTP_INSERT_ROWS = 100
OLTP_RANGE = 1_000

# history_travel: one Insert per user, then PATCH_BATCHES transactional
# batches; each batch holds PATCH_DEPTH statements, statement i carrying
# every user's i-th next event from the clickstream. A checkpoint follows
# batch SNAPSHOT_AFTER, so the log has history on both sides of it.
HIST_USERS = 1_500
HIST_EVENTS = 30_000
PATCH_BATCHES = 2
PATCH_DEPTH = 3
SNAPSHOT_AFTER = 1
HIST_COLS = {
    "user_id": "bigint",
    "tier": "int",
    "last_type": "string",
    "last_value": "double",
    "last_k": "int",
}
LOOP_PATCH_KEYS = 8


# analytics_batch: registry queries at sf0.01. A subset of bench.py's
# HEADLINE list, one or two per operator family, sized so a pass fits the
# run; the iterative families (LSH, components, pagerank, k-means, BPE)
# are left to bench.py.
ANALYTICS_SF = 0.01
ANALYTICS_QUERIES = [
    "q1_pricing_summary",
    "join_multi_chain",
    "window_agg_frames",
    "orderby_limit_offset",
    "events_reconstruct_current",
    "dedup_exact",
    "sim_cosine_topk",
    "text_token_df",
]


@dataclass
class Ctx:
    spark: object
    seed: int
    seconds: float
    trace: bool
    workdir: str
    layers: dict = field(default_factory=dict)


@dataclass
class Outcome:
    setup_s: list[float]
    timed: Recorder
    warm: Recorder  # each distinct op of the cycle once, before the timed loop
    cycle: list[str]  # statement kinds of one op cycle, in order
    traced: Recorder | None = None
    extra: dict = field(default_factory=dict)
    checks: Recorder | None = None  # checks outside the loop, if any

    def recorders(self) -> list[Recorder]:
        return [r for r in (self.checks, self.warm, self.timed, self.traced) if r is not None]


# -- typed comparison of wire text ------------------------------------------------


def _conv(sql_type: str, text):
    if text is None:
        return None
    if sql_type in ("bigint", "int"):
        return int(text)
    if sql_type == "double":
        return float(text)
    return text


def _row(types: list[str], row) -> tuple:
    return tuple(_conv(t, v) for t, v in zip(types, row))


# -- served plumbing ----------------------------------------------------------------


class Served:
    """A session served over the wire the way ``cli serve`` serves it by
    default: trust mode on loopback, warm Python workers, no result cache
    (the FAIR scheduler is chosen when the Spark session starts)."""

    def __init__(self, session):
        from driftdb_spark.client import DriftClient
        from driftdb_spark.server import PgWireServer

        self.server = PgWireServer(session, warm_workers=True).start()
        self.client = DriftClient(*self.server.address, timeout=120.0)

    def query(self, sql: str):
        return self.client.query(sql)

    def close(self) -> None:
        try:
            self.client.close()
        finally:
            self.server.stop()


def _timed_setups(workload: str, build) -> tuple[list[float], object]:
    """Run ``build(rep)`` into fresh state, SETUP_REPS times; return the
    times and the last build's result (the one the loop runs against)."""
    times, last = [], None
    for rep in range(SETUP_REPS[workload]):
        if last is not None:
            last[0].close()
        t0 = time.perf_counter()
        last = build(rep)
        times.append(time.perf_counter() - t0)
    return times, last


def _cycle_loop(
    ctx: Ctx, cycle, jobs: SparkJobs | None, bind=lambda rec: rec, epilogue=(), rewarm=()
):
    """Run each distinct op of the cycle once as warm-up, then each distinct
    op of ``rewarm`` once more (checked, not timed), loop the cycle for the
    timed window, then run the ``epilogue`` ops once (checked, not timed;
    traced in a traced run). Returns ``(warm, timed, traced, post,
    labels)``, where ``post`` holds an untraced run's epilogue and
    ``labels`` are the statement kinds of one full cycle, in order.
    ``bind`` is called with the recorder each op runs under."""
    warm = Recorder()
    op_labels = {}
    for op in dict.fromkeys(cycle):
        n = len(warm.sequence)
        op(bind(warm))
        op_labels[op] = warm.sequence[n:]
    for op in dict.fromkeys(rewarm):
        op(bind(warm))
    labels = [lb for op in cycle for lb in op_labels[op]]
    stream = (lambda rec, op=op: op(bind(rec)) for op in itertools.cycle(cycle))
    after = [lambda rec, op=op: op(bind(rec)) for op in epilogue]
    return (warm, *_loop_phases(ctx, stream, jobs, after), labels)


def _loop_phases(ctx: Ctx, ops, jobs: SparkJobs | None, epilogue):
    """The timed loop. In a traced run a seeded coin picks, per statement,
    whether it runs traced, so the traced and untraced samples share the
    same stretch of JVM warm-up and the difference is the tracing cost."""
    if not ctx.trace:
        rec, post = Recorder(), Recorder()
        closed_loop(rec, ops, ctx.seconds)
        for op in epilogue:
            op(post)
        return rec, None, post
    plain = Recorder()
    tracer = Tracer()
    traced = Recorder(tracer=tracer, jobs=jobs)
    coin = random.Random(ctx.seed)
    install_engine_spans(tracer)
    try:
        deadline = time.perf_counter() + ctx.seconds
        for op in ops:
            if time.perf_counter() >= deadline:
                break
            tracer.enabled = coin.random() < 0.5
            op(traced if tracer.enabled else plain)
        ctx.layers["overhead"] = overhead(plain, traced)  # timed window only
        tracer.enabled = True
        for op in epilogue:
            op(traced)
    finally:
        tracer.enabled = False
        tracer.uninstall()
    ctx.layers.update(layer_metrics(traced, tracer, jobs))
    return plain, traced, None


def overhead(plain: Recorder, traced: Recorder) -> float:
    """Traced minus untraced latency, as a share of untraced, over the
    statement kinds both ran, weighted by the traced statement counts."""
    num = den = 0.0
    for label, vals in traced.by_label.items():
        base = plain.by_label.get(label)
        if base:
            num += len(vals) * (median(vals) - median(base))
            den += len(vals) * median(base)
    return num / den if den else 0.0


def _job_group_capture(jobs: SparkJobs):
    """Record the job group the server's handler pins its statements to."""
    from driftdb_spark import server

    original = server._Handler._set_job_group

    def set_job_group(handler):
        original(handler)
        jobs.group = handler.job_group

    server._Handler._set_job_group = set_job_group
    return lambda: setattr(server._Handler, "_set_job_group", original)


def _write_bytes_probe(ctx: Ctx, storage: str, rec_holder: list):
    """In traced runs, measure the bytes each write adds under the table
    directories against the bytes of its statement."""

    def probe(served_query, sql):
        if not ctx.trace or rec_holder[0] is None or rec_holder[0].tracer is None:
            return served_query(sql)
        before = dir_bytes(storage)
        out = served_query(sql)
        rec_holder[0].write_bytes.append((dir_bytes(storage) - before, len(sql.encode())))
        return out

    return probe


def _scanned_rows(df) -> int:
    """Input rows of the plan's scans, from EXPLAIN ANALYZE."""
    from driftdb_spark.plans.stats import explain_analyze

    nodes = explain_analyze(df)
    return sum(nd["metrics"].get("numOutputRows", 0) for nd in nodes if "Scan" in nd["node"])


def _rows_scanned(spark, storage: str, sqls: list[str]) -> float | None:
    """Scan input rows per row returned for point reads (one row each),
    running the same statements in-process."""
    from driftdb_spark.sql_frontend import DriftSession

    sess = DriftSession(spark, storage)
    return median([_scanned_rows(sess.sql(sql)) for sql in sqls])


def _disk_per_row(storage: str, live_rows: int) -> float:
    return dir_bytes(storage) / max(live_rows, 1)


def _log_entries(storage: str, tables: list[str]) -> int:
    return sum(batch_entries(os.path.join(storage, t)) for t in tables)


def _served_layers(ctx: Ctx, storage: str, traced: Recorder | None, tables: list[str]) -> None:
    """Storage metrics of a traced run. Log entries are counted as the
    timed window left them (before any compaction after it)."""
    if traced is None:
        return
    added = sum(b for b, _ in traced.write_bytes)
    user = sum(u for _, u in traced.write_bytes)
    ctx.layers["storage"] = {
        "storage.batch_entries": ctx.layers.get("entries", _log_entries(storage, tables)),
        "storage.bytes_written_per_user_byte": added / user if user else 0.0,
    }


# -- point_oltp ---------------------------------------------------------------------


def point_oltp(ctx: Ctx) -> Outcome:
    spark = ctx.spark
    rng = random.Random(ctx.seed)
    import numpy as np

    orders = datagen.orders_table(np.random.default_rng(ctx.seed), OLTP_ORDERS, 1_500)
    orders = orders.select(list(OLTP_COLS))
    src = os.path.join(ctx.workdir, "input", "orders.parquet")
    os.makedirs(os.path.dirname(src), exist_ok=True)
    pq.write_table(orders, src)
    base_rows = orders.to_pylist()
    types = list(OLTP_COLS.values())[1:]

    def build(rep: int):
        from driftdb_spark.sql_frontend import DriftSession

        storage = os.path.join(ctx.workdir, f"store{rep}")
        sess = DriftSession(spark, storage)
        sess.create_table("ev_orders", dict(OLTP_COLS), pk="o_orderkey")
        sess.insert_checked("ev_orders", spark.read.parquet(src))
        return Served(sess), storage

    jobs = SparkJobs(spark.sparkContext) if ctx.trace else None
    restore = _job_group_capture(jobs) if jobs else (lambda: None)
    try:
        setup_s, (served, storage) = _timed_setups("point_oltp", build)
    except Exception:
        restore()
        raise
    model = ShadowTable("o_orderkey")
    model.publish([(INSERT, r["o_orderkey"], r, 0) for r in base_rows])
    keys = [r["o_orderkey"] for r in base_rows]
    next_key = [OLTP_ORDERS + 1000]
    holder: list = [None]
    write = _write_bytes_probe(ctx, storage, holder)

    def cur(k):
        return model.state().get(str(k))

    def ping(rec):
        def check(res):
            expect(res.rows == [("1",)], f"SELECT 1 returned {res.rows}")

        rec.run("ping", lambda: served.query("SELECT 1"), check)

    def point(rec, k=None):
        k = rng.choice(keys) if k is None else k
        sql = (
            "SELECT o_custkey, o_orderstatus, o_totalprice, o_orderpriority "
            f"FROM ev_orders WHERE o_orderkey = {k}"
        )

        def check(res):
            row = cur(k)
            want = [tuple(row[c] for c in list(OLTP_COLS)[1:])]
            got = [_row(types, r) for r in res.rows]
            expect(got == want, f"key {k}: got {got}, want {want}")

        rec.run("point_read", lambda: served.query(sql), check, label="point")

    def range_agg(rec, lo=None, hi=None):
        if lo is None:
            lo = rng.randrange(0, OLTP_ORDERS - OLTP_RANGE)
            hi = lo + OLTP_RANGE - 1
        sql = (
            "SELECT count(*), sum(o_custkey), max(o_totalprice) FROM ev_orders "
            f"WHERE o_orderkey BETWEEN {lo} AND {hi}"
        )

        def check(res):
            rows = [r for r in model.state().values() if lo <= r["o_orderkey"] <= hi]
            want = (
                len(rows),
                sum(r["o_custkey"] for r in rows) if rows else None,
                max(r["o_totalprice"] for r in rows) if rows else None,
            )
            got = _row(["bigint", "bigint", "double"], res.rows[0])
            expect(got == want, f"range {lo}-{hi}: got {got}, want {want}")

        rec.run("scan_read", lambda: served.query(sql), check, label="range_agg")

    def update(rec):
        k = rng.choice(keys)
        price = round(rng.uniform(1000.0, 500000.0), 2)
        status = rng.choice("FOP")
        sql = (
            f"UPDATE ev_orders SET o_totalprice = {price:.2f}, "
            f"o_orderstatus = '{status}' WHERE o_orderkey = {k}"
        )
        if rec.run("write", lambda: write(served.query, sql), label="update") is not None:
            model.publish(
                [(PATCH, k, {"o_orderkey": k, "o_totalprice": price, "o_orderstatus": status}, 0)]
            )
        point(rec, k)  # read the write back

    def insert(rec):
        lo = next_key[0]
        next_key[0] += OLTP_INSERT_ROWS
        rows = []
        for k in range(lo, lo + OLTP_INSERT_ROWS):
            rows.append(
                {
                    "o_orderkey": k,
                    "o_custkey": rng.randrange(1_500),
                    "o_orderstatus": "O",
                    "o_totalprice": round(rng.uniform(1000.0, 500000.0), 2),
                    "o_orderpriority": rng.choice(datagen.PRIORITIES),
                }
            )
        values = ", ".join(
            f"({r['o_orderkey']}, {r['o_custkey']}, '{r['o_orderstatus']}', "
            f"{r['o_totalprice']:.2f}, '{r['o_orderpriority']}')"
            for r in rows
        )
        sql = f"INSERT INTO ev_orders VALUES {values}"
        if rec.run("write", lambda: write(served.query, sql), label="insert") is not None:
            model.publish([(INSERT, r["o_orderkey"], r, 0) for r in rows])
            keys.extend(r["o_orderkey"] for r in rows)
        range_agg(rec, lo, lo + OLTP_INSERT_ROWS - 1)  # read the batch back

    cycle = [ping, point, ping, range_agg, ping, point, update, ping, point, ping, range_agg, insert]

    def bind(recorder):
        holder[0] = recorder
        return recorder

    try:
        warm, timed, traced, _, labels = _cycle_loop(ctx, cycle, jobs, bind)
        extra = {"disk_bytes_per_live_row": _disk_per_row(storage, len(model.state()))}
        if ctx.trace:
            _served_layers(ctx, storage, traced, ["ev_orders"])
            ctx.layers["rows_scanned"] = _rows_scanned(
                spark,
                storage,
                [
                    "SELECT o_custkey FROM ev_orders WHERE o_orderkey = "
                    f"{rng.choice(keys)}"
                    for _ in range(3)
                ],
            )
    finally:
        served.close()
        restore()
    return Outcome(setup_s, timed, warm, labels, traced, extra)


# -- history_travel -------------------------------------------------------------------


def _utc_now() -> str:
    time.sleep(0.003)
    stamp = dt.datetime.now(dt.timezone.utc).strftime("%Y-%m-%d %H:%M:%S.%f")
    time.sleep(0.003)
    return stamp


def history_travel(ctx: Ctx) -> Outcome:
    import numpy as np

    spark = ctx.spark
    rng = random.Random(ctx.seed)
    nrng = np.random.default_rng(ctx.seed)
    ev = datagen.events_table(nrng, HIST_EVENTS, HIST_USERS).to_pylist()
    queues: dict[int, list[dict]] = {}
    for e in ev:
        queues.setdefault(e["user_id"], []).append(e)
    users = sorted(queues)
    inputs = os.path.join(ctx.workdir, "input")
    os.makedirs(inputs, exist_ok=True)
    base = [
        {"user_id": u, "tier": u % 4, "last_type": "none", "last_value": 0.0, "last_k": 0}
        for u in users
    ]
    pq.write_table(
        pa.Table.from_pylist(base, schema=pa.schema(
            [("user_id", pa.int64()), ("tier", pa.int32()), ("last_type", pa.string()),
             ("last_value", pa.float64()), ("last_k", pa.int32())]
        )),
        os.path.join(inputs, "base.parquet"),
    )
    batches: list[list[list[dict]]] = []  # batch -> stmt -> patch rows
    pos = {u: 0 for u in users}
    for _b in range(PATCH_BATCHES):
        stmts = []
        for _i in range(PATCH_DEPTH):
            rows = []
            for u in users:
                if pos[u] < len(queues[u]):
                    e = queues[u][pos[u]]
                    pos[u] += 1
                    rows.append(
                        {
                            "user_id": u,
                            "last_type": e["event_type"],
                            "last_value": e["value"],
                            "last_k": int(e["props"].split(":")[1].strip(" }")),
                        }
                    )
            stmts.append(rows)
        batches.append(stmts)
    patch_schema = pa.schema(
        [("user_id", pa.int64()), ("last_type", pa.string()), ("last_value", pa.float64()),
         ("last_k", pa.int32())]
    )
    for b, stmts in enumerate(batches):
        for i, rows in enumerate(stmts):
            pq.write_table(
                pa.Table.from_pylist(rows, schema=patch_schema),
                os.path.join(inputs, f"patch-{b}-{i}.parquet"),
            )
    stamps: dict[int, str] = {}

    def build(rep: int):
        from driftdb_spark.sql_frontend import DriftSession

        storage = os.path.join(ctx.workdir, f"store{rep}")
        sess = DriftSession(spark, storage)
        sess.create_table("acct", dict(HIST_COLS), pk="user_id")
        sess.insert_checked("acct", spark.read.parquet(os.path.join(inputs, "base.parquet")))
        stamps[0] = _utc_now()
        log = sess.table("acct")
        for b in range(PATCH_BATCHES):
            txn = log.begin()
            for i in range(PATCH_DEPTH):
                txn.patch(spark.read.parquet(os.path.join(inputs, f"patch-{b}-{i}.parquet")))
            txn.commit()
            stamps[b + 1] = _utc_now()
            if b + 1 == SNAPSHOT_AFTER:
                sess.sql("CHECKPOINT TABLE acct")
        return Served(sess), storage

    jobs = SparkJobs(spark.sparkContext) if ctx.trace else None
    restore = _job_group_capture(jobs) if jobs else (lambda: None)
    try:
        setup_s, (served, storage) = _timed_setups("history_travel", build)
    except Exception:
        restore()
        raise

    model = ShadowTable("user_id")
    model.publish([(INSERT, r["user_id"], r, 0) for r in base])
    for b, stmts in enumerate(batches):
        model.publish([(PATCH, r["user_id"], r, i) for i, rows in enumerate(stmts) for r in rows])
        if b + 1 == SNAPSHOT_AFTER:
            model.checkpoint()
    types = list(HIST_COLS.values())[1:]
    cols = ", ".join(list(HIST_COLS)[1:])
    holder: list = [None]
    write = _write_bytes_probe(ctx, storage, holder)

    def want_row(state, u):
        row = state.get(str(u))
        return [] if row is None else [tuple(row[c] for c in list(HIST_COLS)[1:])]

    def ping(rec):
        rec.run("ping", lambda: served.query("SELECT 1"),
                lambda res: expect(res.rows == [("1",)], f"SELECT 1 returned {res.rows}"))

    turn = {"before": 0, "after": 0, "agg": 0, "ts": 0}
    tag = [""]  # label suffix of the statement kinds

    def rotate(name: str, pool: list[int]) -> int:
        """Targets rotate through the boundaries in a fixed order, so every
        run reads the same mix of history depths; the seed picks the keys."""
        turn[name] += 1
        return pool[turn[name] % len(pool)]

    def asof_point(rec, side: str):
        if side == "before":
            b = rotate("before", list(range(SNAPSHOT_AFTER))) if SNAPSHOT_AFTER > 1 else 0
        else:
            b = rotate("after", list(range(SNAPSHOT_AFTER, len(model.batches))))
        u = rng.choice(users)
        n = model.batches[b][1]
        sql = f"SELECT {cols} FROM acct FOR SYSTEM_TIME AS OF @SEQ:{n} WHERE user_id = {u}"

        def check(res):
            got = [_row(types, r) for r in res.rows]
            want = want_row(model.state(b), u)
            expect(got == want, f"@SEQ:{n} user {u}: got {got}, want {want}")

        rec.run("point_read", lambda: served.query(sql), check, label=f"asof_point_{side}{tag[0]}")

    def agg_sql(clause: str) -> str:
        return f"SELECT count(*), sum(tier), sum(last_k), max(last_value) FROM acct{clause}"

    def agg_check(b, what):
        def check(res):
            rows = list(model.state(b).values())
            want = (
                len(rows),
                sum(r["tier"] for r in rows) if rows else None,
                sum(r["last_k"] for r in rows) if rows else None,
                max(r["last_value"] for r in rows) if rows else None,
            )
            got = _row(["bigint", "bigint", "bigint", "double"], res.rows[0])
            expect(got == want, f"{what}: got {got}, want {want}")

        return check

    def asof_agg(rec):
        b = rotate("agg", list(range(len(model.batches))))
        n = model.batches[b][1]
        rec.run("scan_read", lambda: served.query(agg_sql(f" FOR SYSTEM_TIME AS OF @SEQ:{n}")),
                agg_check(b, f"agg @SEQ:{n}"), label=f"asof_agg{tag[0]}")

    def ts_point(rec):
        b = rotate("ts", sorted(b for b in stamps if model.resolvable_ts_batch(b)))
        u = rng.choice(users)
        sql = f"SELECT {cols} FROM acct FOR SYSTEM_TIME AS OF '{stamps[b]}' WHERE user_id = {u}"

        def check(res):
            got = [_row(types, r) for r in res.rows]
            want = want_row(model.state(b), u)
            expect(got == want, f"AS OF '{stamps[b]}' user {u}: got {got}, want {want}")

        rec.run("point_read", lambda: served.query(sql), check, label=f"asof_ts_point{tag[0]}")

    def drift(rec):
        u = rng.choice(users)
        sql = (
            "SELECT sequence, event_type FROM acct FOR SYSTEM_TIME ALL "
            f"WHERE pk = '{u}' ORDER BY sequence"
        )

        def check(res):
            want = model.history(u)
            got = [(int(s), k) for s, k in res.rows]
            expect([k for _s, k in got] == [k for _b, k in want],
                   f"drift {u}: kinds {[k for _s, k in got]} vs {[k for _b, k in want]}")
            for (s, _k), (b, _kk) in zip(got, want):
                lo, hi = model.batches[b]
                expect(lo <= s <= hi, f"drift {u}: sequence {s} outside batch {b} [{lo}, {hi}]")

        rec.run("scan_read", lambda: served.query(sql), check, label=f"drift{tag[0]}")

    def cur_point(rec, u=None):
        u = rng.choice(users) if u is None else u
        sql = f"SELECT {cols} FROM acct WHERE user_id = {u}"

        def check(res):
            got = [_row(types, r) for r in res.rows]
            want = want_row(model.state(), u)
            expect(got == want, f"current user {u}: got {got}, want {want}")

        rec.run("point_read", lambda: served.query(sql), check, label=f"point{tag[0]}")

    def cur_agg(rec):
        rec.run("scan_read", lambda: served.query(agg_sql("")),
                agg_check(None, "current agg"), label="agg")

    def patch(rec):
        keys = rng.sample(users, LOOP_PATCH_KEYS)
        k = rng.randrange(100)
        sql = (
            f"UPDATE acct SET last_value = last_value + 1.5, last_k = {k} "
            f"WHERE user_id IN ({', '.join(map(str, keys))})"
        )
        if rec.run("write", lambda: write(served.query, sql), label="patch") is not None:
            state = model.state()
            model.publish(
                [
                    (PATCH, u, {"user_id": u, "last_value": state[str(u)]["last_value"] + 1.5,
                                "last_k": k}, 0)
                    for u in keys
                ]
            )
            stamps[len(model.batches) - 1] = _utc_now()
        cur_point(rec, keys[0])  # read the write back

    def checkpoint(rec):
        if rec.run("maint", lambda: served.query("CHECKPOINT TABLE acct"), label="checkpoint") is not None:
            model.checkpoint()

    def vacuum(rec):
        ctx.layers.setdefault("entries", _log_entries(storage, ["acct"]))
        if rec.run("maint", lambda: served.query("VACUUM acct"), label="vacuum") is not None:
            model.compact()
        tag[0] = "_compacted"  # later reads go to the compacted log

    # The two aggregates run twice a pass: they are the slow scan reads, and
    # scan_read_ms needs as many samples of them as point_read_ms has of its
    # four point-read kinds.
    reads = [
        ping,
        lambda r: asof_point(r, "before"),
        asof_agg,
        lambda r: asof_point(r, "after"),
        ping,
        cur_agg,
        ts_point,
        ping,
        drift,
        asof_agg,
        cur_point,
        ping,
        cur_agg,
    ]
    # Two read passes per patch: a patch and its read-back take a third of
    # a pass-and-patch cycle, and the reads need the samples.
    cycle = reads + reads + [patch]
    # Maintenance runs once, after the timed window: compaction folds the
    # deep history away, and a checkpoint per cycle would leave a snapshot
    # next to every batch. The reads after it check what history answers.
    # A traced run patches first: the window holds about one patch, which
    # the coin may leave untraced, and the write layers need a sample.
    epilogue = [checkpoint, vacuum, lambda r: asof_point(r, "before"), ts_point, drift]
    if ctx.trace:
        epilogue.insert(0, patch)

    def bind(recorder):
        holder[0] = recorder
        return recorder

    try:
        # Served read latencies still fall by a tenth from the first pass
        # over the statement kinds to the second (JIT), so the reads are
        # warmed twice.
        warm, timed, traced, post, labels = _cycle_loop(
            ctx, cycle, jobs, bind, epilogue, rewarm=reads
        )
        extra = {"disk_bytes_per_live_row": _disk_per_row(storage, len(model.state()))}
        if ctx.trace:
            _served_layers(ctx, storage, traced, ["acct"])
            n = model.batches[SNAPSHOT_AFTER][1]
            ctx.layers["rows_scanned"] = _rows_scanned(
                spark,
                storage,
                [
                    f"SELECT last_k FROM acct FOR SYSTEM_TIME AS OF @SEQ:{n} "
                    f"WHERE user_id = {rng.choice(users)}"
                    for _ in range(3)
                ],
            )
    finally:
        served.close()
        restore()
    return Outcome(setup_s, timed, warm, labels, traced, extra, post)


# -- analytics_batch ------------------------------------------------------------------


def _norm_cell(v):
    import decimal
    import math

    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v + 0.0)
    if isinstance(v, decimal.Decimal):
        return repr(float(v))
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm_cell(x) for x in v) + "]"
    return repr(v)


def result_digest(columns: list[str], rows) -> tuple[int, str]:
    """Row count and an order-insensitive hash of the rows, columns taken
    in name order (the comparison the engine's oracle tests make)."""
    import hashlib

    order = sorted(range(len(columns)), key=lambda i: columns[i].lower())
    norm = sorted(repr(tuple(_norm_cell(r[i]) for i in order)) for r in rows)
    return len(norm), hashlib.sha256("\n".join(norm).encode()).hexdigest()


def analytics_batch(ctx: Ctx) -> Outcome:
    import duckdb
    from pyspark.sql import functions as F

    from driftdb_spark.catalog import load_tables
    from driftdb_spark.registry import oracle_map, query_map

    spark = ctx.spark
    rng = random.Random(ctx.seed)
    qmap, oracles = query_map(), oracle_map()
    missing = [q for q in ANALYTICS_QUERIES if q not in qmap]
    if missing:
        raise KeyError(f"queries not in the registry: {missing}")
    tables = datagen.tpch_tables(ctx.seed, ANALYTICS_SF)
    orders = {r["o_orderkey"]: r for r in tables["orders"].select(
        ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority"]
    ).to_pylist()}
    data = datagen.write_tables(tables, os.path.join(ctx.workdir, "sf", "data0"))

    def build(rep: int):
        # a fresh copy per rep, so the catalog load is never a memo hit
        d = os.path.join(ctx.workdir, "sf", f"rep{rep}")
        shutil.copytree(data, d)
        t0 = time.perf_counter()
        load_tables(spark, d)
        return time.perf_counter() - t0, d

    setup_s = []
    for rep in range(SETUP_REPS["analytics_batch"]):
        s, data_dir = build(rep)
        setup_s.append(s)
    load_tables(spark, data_dir)

    checks = Recorder()
    duck = duckdb.connect()
    try:
        for name in tables:
            duck.sql(
                f"CREATE VIEW {name} AS SELECT * FROM "
                f"'{os.path.join(data_dir, name + '.parquet')}'"
            )
        for q in ANALYTICS_QUERIES:

            def collect(q=q):
                df = qmap[q](spark, data_dir)
                return df.columns, df.collect()

            def check(res, q=q):
                cols, rows = res
                if q not in oracles:
                    return
                rel = duck.sql(oracles[q])
                want = result_digest([c.lower() for c in rel.columns], rel.fetchall())
                got = result_digest([c.lower() for c in cols], [tuple(r) for r in rows])
                expect(got == want, f"{q}: spark (rows, hash) {got} != oracle {want}")

            checks.run("scan_read", collect, check, label=q)
    finally:
        duck.close()

    order_df = load_tables(spark, data_dir, register=False)["orders"]
    lookup_cols = ["o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority"]
    sc = spark.sparkContext
    group = "perfbench-analytics"
    jobs = SparkJobs(sc) if ctx.trace else None
    if jobs is not None:
        jobs.group = group
    sc.setJobGroup(group, "perfbench analytics_batch")
    detail: dict[str, list[float]] = {}

    def note(name, ms):
        detail.setdefault(name, []).append(ms)

    def headline(q):
        def run_query(tracing: bool):
            t0 = time.perf_counter()
            df = qmap[q](spark, data_dir)
            if tracing:
                t1 = time.perf_counter()
                df._jdf.queryExecution().executedPlan()  # noqa: SLF001 — plan now, to time it
                t2 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            if tracing:
                t3 = time.perf_counter()
                note("registry.build_ms", (t1 - t0) * 1000)
                note("spark.plan_ms", (t2 - t1) * 1000)
                note(f"registry.{q}.exec_ms", (t3 - t2) * 1000)

        def op(rec):
            rec.run("scan_read", lambda: run_query(rec.jobs is not None), label=q)

        return op

    def ping(rec):
        rec.run("ping", lambda: spark.sql("SELECT 1").collect(),
                lambda rows: expect([tuple(r) for r in rows] == [(1,)], f"SELECT 1 gave {rows}"))

    def point(rec):
        k = rng.randrange(len(orders))

        def check(rows):
            want = [tuple(orders[k][c] for c in lookup_cols)]
            got = [tuple(r) for r in rows]
            expect(got == want, f"order {k}: got {got}, want {want}")

        rec.run(
            "point_read",
            lambda: order_df.filter(F.col("o_orderkey") == k).select(*lookup_cols).collect(),
            check,
            label="order_lookup",
        )

    cycle = []
    for q in ANALYTICS_QUERIES:
        cycle += [headline(q), ping, point]

    # a traced run ends with one traced pass, so every query has a layer split
    epilogue = [headline(q) for q in ANALYTICS_QUERIES] if ctx.trace else []
    warm, timed, traced, _, labels = _cycle_loop(ctx, cycle, jobs, epilogue=epilogue)
    if ctx.trace:
        ctx.layers["analytics"] = {k: median(v) for k, v in detail.items()}
        k = rng.randrange(len(orders))
        ctx.layers["rows_scanned"] = _scanned_rows(order_df.filter(F.col("o_orderkey") == k))
    return Outcome(setup_s, timed, warm, labels, traced, {}, checks)


WORKLOADS = {
    "point_oltp": point_oltp,
    "history_travel": history_travel,
    "analytics_batch": analytics_batch,
}

