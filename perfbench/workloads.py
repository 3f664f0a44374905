"""The benchmark workloads.

Each workload is a closed loop with one client: the next operation starts
only after the previous one returned.  A run first executes a fixed list
of golden HiveQL statements untimed, so the JVM's start-up costs (class
loading, JIT of the engine's own code) do not land on measured
operations, then runs the workload's operations while the ``--seconds``
window is open.

Every timed operation is the first execution of its plan in the session:
a new statement for ``hiveql_interactive``; the first pass over a fixed
list for ``warehouse_batch``, whose window is stretched until that pass
is complete.  Later passes still run and are checked, but only the first
is timed, so every run times the same set of operations.  Outputs are
checked against an independent DuckDB or NumPy answer after the window
closes, so checking costs no measured time.

An operation is the unit ``op_p50_ms`` and ``cpu_ms_per_op`` are taken
over: a statement (``hiveql_interactive``); a report query, transaction,
snapshot read, Initiator check or curation step (``warehouse_batch``).
``cpu_ms_per_op`` is the CPU time the client process and its JVM, less
the JVM's JIT compiler threads, used during the timed operations, divided
by their number.
"""

from __future__ import annotations

import datetime as dt
import itertools
import json
import os
import random
import statistics
import time
from collections.abc import Callable, Iterable
from dataclasses import dataclass, field

import numpy as np

import oracle

HERE = os.path.dirname(os.path.abspath(__file__))

#: Generated input sizes per workload (keyword arguments of gen.write_dataset).
SIZES = {
    "hiveql_interactive": {"sf": 0.001},
    "warehouse_batch": {
        "sf": 0.01,
        "fact_files": 4,
        "n_docs": 2000,
        "n_vecs": 600,
        "near_dup_rate": 0.05,
        "exact_dup_rate": 0.03,
    },
}

#: Whole statement decks every hiveql_interactive window covers.
HIVEQL_DECKS = 1

#: The relational headline queries of the repository's older bench.py.
REPORT_QUERIES = [
    "q01_pricing_summary",
    "q03_shipping_priority",
    "q10_broadcast_region_revenue",
    "q116_local_supplier_volume",
    "q129_waiting_orders",
    "q24_count_distinct",
    "q29_grouping_sets",
    "q40_row_number_topk",
    "q79_cte",
    "q142_asof_join",
    "q144_time_rollup",
]


@dataclass
class Context:
    spark: object
    engine: object
    tracer: object
    data_dir: str
    work_dir: str
    manifest: dict
    seed: int
    seconds: float
    window_end: Callable[[], None]  # called once, when the measured window closes
    cpu: Callable[[], float]  # CPU seconds used so far by the client and its JVM, JIT threads excluded
    phases: dict[str, float] = field(default_factory=dict)  # untimed phases, seconds


@dataclass
class Outcome:
    """What a workload hands back to the harness."""

    op_ms: list[float] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    window_s: float = 0.0
    work_per_s: float = 0.0  # statements or operations per second
    cpu_s: float = 0.0  # CPU seconds of the timed operations (client and JVM)
    named: dict[str, tuple | list] = field(default_factory=dict)  # name -> (value, unit, ...)
    layer: dict[str, float] = field(default_factory=dict)
    rows_returned: int = 0
    info: dict = field(default_factory=dict)


def _p50(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


TAIL_LADDER = (99.0, 95.0, 90.0, 75.0, 50.0)


def tail(xs: list[float], unit: str = "ms") -> list:
    """[value, unit, percentile, n]: the highest ladder percentile with at
    least ten samples beyond it (nearest rank); the maximum when there
    are too few samples for any."""
    s = sorted(xs)
    n = len(s)
    for p in TAIL_LADDER:
        rank = max(1, -(-int(p * n) // 100))
        if n - rank >= 10:
            return [s[rank - 1], unit, f"p{p:g}", f"n={n}"]
    return [s[-1] if s else 0.0, unit, "max", f"n={n}"]


def _decks() -> dict:
    """The golden corpus split into a fixed warm-up list and measured decks."""
    with open(os.path.join(HERE, "golden", "decks.json")) as f:
        return json.load(f)


def _golden(name: str) -> str:
    with open(os.path.join(HERE, "golden", name)) as f:
        return f.read()


def warm_up(ctx: Context) -> list[tuple[str, str, list | None, list | None]]:
    """Run the fixed warm-up statements once, untimed, and return
    (name, text, columns, rows) for each; columns and rows are None when
    the statement raised.  The list is the same for every workload and
    seed: what the JVM has compiled before the window opens must not
    depend on the seed."""
    done = []
    for name in _decks()["warmup"]:
        sql = _golden(name)
        try:
            df = ctx.engine.sql(oracle.spark_compat(sql))
            done.append((name, sql, df.columns, df.collect()))
        except Exception:  # counted where the warm-up is checked (hiveql_interactive)
            done.append((name, sql, None, None))
    return done


def closed_loop(
    ctx: Context, ops: Iterable, step: Callable[[object], None], min_ops: int = 0
) -> tuple[float, list]:
    """Warm up, then call ``step(op)`` for operations from ``ops`` while
    the window is open and until at least ``min_ops`` ran.  Returns the
    window length in seconds and the warm-up results."""
    t0 = time.perf_counter()
    warm = warm_up(ctx)
    ctx.phases["warmup_s"] = time.perf_counter() - t0
    it = iter(ops)
    n = 0
    start = time.perf_counter()
    while time.perf_counter() - start < ctx.seconds or n < min_ops:
        step(next(it))
        n += 1
    window = time.perf_counter() - start
    ctx.window_end()
    return window, warm


def _mismatch(out: Outcome, what: str, n: int = 1) -> None:
    out.failed += n
    out.info.setdefault("mismatches", []).append(what)


# ----------------------------------------------------------- hiveql_interactive
def hiveql_interactive(ctx: Context) -> Outcome:
    """Golden HiveQL statements through ``HiveEngine.sql`` then ``collect``.

    Six of the 422 statements are the warm-up list; the other 416 are
    dealt into 17 fixed decks of 24-25 by latency rank, so each deck is a
    cross-section of the corpus.  The window walks the decks in their
    fixed order, each in seeded order, running every statement once, and
    lasts at least ``HIVEQL_DECKS`` whole decks.  Every seed starts at the
    first deck: which statements a run times must not depend on the seed,
    or the spread between seeds would measure the decks, not the engine
    (the seed still draws the data and the order)."""
    decks = _decks()["decks"]
    rnd = random.Random(ctx.seed)

    def walk():
        for j in itertools.count():
            deck = list(decks[j % len(decks)])
            rnd.shuffle(deck)
            yield from deck

    out = Outcome()
    results: list[tuple[str, str, list, list]] = []
    tr = ctx.tracer

    def step(name: str) -> None:
        sql = _golden(name)
        c0 = ctx.cpu()
        t0 = time.perf_counter()
        rows = cols = None
        try:
            with tr.op(f"hq-{out.attempted}", name):
                with tr.span("session.sql"):
                    df = ctx.engine.sql(oracle.spark_compat(sql))
                with tr.span("exec.action"):
                    rows = df.collect()
                cols = df.columns
        except Exception as exc:  # a failed statement is counted, not fatal
            out.info.setdefault("errors", []).append(f"{name}: {type(exc).__name__}")
        out.attempted += 1
        if rows is None:
            out.failed += 1
            return
        out.op_ms.append((time.perf_counter() - t0) * 1000.0)
        out.cpu_s += ctx.cpu() - c0
        out.rows_returned += len(rows)
        results.append((name, sql, cols, rows))

    whole = sum(len(decks[j]) for j in range(HIVEQL_DECKS))
    out.window_s, warm = closed_loop(ctx, walk(), step, min_ops=whole)
    t_check = time.perf_counter()
    out.work_per_s = len(out.op_ms) / out.window_s

    # the untimed warm-up statements are checked too, so every run checks
    # everything it executed
    out.attempted += len(warm)
    out.failed += sum(1 for w in warm if w[3] is None)
    con = oracle.connect(ctx.data_dir)
    for name, sql, cols, rows in results + [w for w in warm if w[3] is not None]:
        rel = con.execute(oracle.duck_compat(sql))
        if not oracle.same_result(rows, cols, rel.fetchall(), [d[0] for d in rel.description]):
            _mismatch(out, name)
    con.close()
    ctx.phases["check_s"] = time.perf_counter() - t_check

    sql_ms = tr.durations("session.sql")
    out.named["stmt_p50_ms"] = (_p50(out.op_ms), "ms")
    out.named["stmt_tail_ms"] = tail(out.op_ms)
    out.named["stmts_per_s"] = (out.work_per_s, "1/s")
    out.layer.update(
        {
            "session.sql_call_p50_ms": _p50(sql_ms),
            "session.sql_call_sum_ms": sum(sql_ms),
            "session.sql_call_share": sum(sql_ms) / sum(out.op_ms) if out.op_ms else 0.0,
        }
    )
    return out


# ---------------------------------------------------------- reports and ETL
ACID_KINDS = ("merge", "update", "delete", "insert")


class ChangeStream:
    """Seeded ACID change stream over the orders table.  Transactions
    cycle through MERGE, UPDATE, DELETE and INSERT in that fixed order, so
    every run has the same mix; the seed draws the keys and values.  Each
    touches ``batch`` keys.  Live keys are tracked so updates and deletes
    always hit existing rows and inserts always use fresh keys."""

    def __init__(self, seed: int, keys: np.ndarray, batch: int):
        self.rng = np.random.default_rng(seed + 7919)
        self.live = set(keys.tolist())
        self.next_key = int(keys.max()) + 1
        self.batch = batch
        self.n = 0

    def _fresh(self, n: int) -> list[int]:
        ks = list(range(self.next_key, self.next_key + n))
        self.next_key += n
        return ks

    def _existing(self, n: int) -> list[int]:
        pool = np.fromiter(self.live, dtype=np.int64)
        return sorted(self.rng.choice(pool, size=n, replace=False).tolist())

    def _row(self, key: int) -> tuple:
        r = self.rng
        return (
            key,
            int(r.integers(0, 1500)),
            "FOP"[int(r.integers(0, 3))],
            round(float(r.uniform(1000.0, 500000.0)), 2),
            dt.datetime(1995, 1, 1) + dt.timedelta(days=int(r.integers(0, 2405))),
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"][int(r.integers(0, 5))],
        )

    def next(self) -> dict:
        kind = ACID_KINDS[self.n % len(ACID_KINDS)]
        self.n += 1
        n = self.batch
        if kind == "merge":
            keys = self._existing(n // 2) + self._fresh(n - n // 2)
            self.live.update(keys)
            return {"kind": kind, "rows": [self._row(k) for k in keys]}
        if kind == "insert":
            keys = self._fresh(n)
            self.live.update(keys)
            return {"kind": kind, "rows": [self._row(k) for k in keys]}
        keys = self._existing(n)
        if kind == "delete":
            self.live.difference_update(keys)
        return {"kind": kind, "keys": keys}


def _du(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def _parquet_glob(data_dir: str, table: str) -> str:
    path = os.path.join(data_dir, f"{table}.parquet")
    return os.path.join(path, "*.parquet") if os.path.isdir(path) else path


def _report_pass(ctx: Context, out: Outcome):
    """Run the report queries through the registry; returns the step
    function for one query and the closure that checks them all."""
    from apache_hive_2_1_1_src_spark.queries import all_oracles, all_queries

    registry = all_queries()
    tr = ctx.tracer
    first: dict[str, tuple] = {}
    runs: dict[str, int] = {}
    wrong = [0]

    def run_query(name: str) -> float | None:
        def run():
            with tr.span("queries.build"):
                df = registry[name](ctx.spark, ctx.data_dir)
            with tr.span("exec.action"):
                return df.collect(), df.columns

        out.attempted += 1
        t0 = time.perf_counter()
        try:
            with tr.op(f"wr-{out.attempted}", name):
                rows, cols = run()
        except Exception as exc:
            out.failed += 1
            out.info.setdefault("errors", []).append(f"{name}: {type(exc).__name__}")
            return None
        ms = (time.perf_counter() - t0) * 1000.0
        out.rows_returned += len(rows)
        runs[name] = runs.get(name, 0) + 1
        if name not in first:
            first[name] = (rows, cols)
        elif not oracle.same_result(rows, cols, *first[name]):
            wrong[0] += 1
        return ms

    def check() -> None:
        """Repeats agree with the first answer, the first with DuckDB."""
        out.failed += wrong[0]
        oracles = all_oracles()
        con = oracle.connect(ctx.data_dir)
        for name, (rows, cols) in first.items():
            rel = con.execute(oracles[name])
            if not oracle.same_result(rows, cols, rel.fetchall(), [d[0] for d in rel.description]):
                _mismatch(out, name, runs[name])
        con.close()

    return run_query, check


#: keys each transaction touches, as a share of the table's rows; after
#: the DELETE, tombstones reach the Initiator's 10% major-compaction
#: threshold, so every timed pass includes one major compaction
ACID_BATCH_SHARE = 0.04


def _etl_cycles(ctx: Context, out: Outcome):
    """ETL on an ``operators.acid.AcidTable`` built from the generated
    orders table.  Returns ``cycle(timed)``, which runs one transaction
    (MERGE, UPDATE, DELETE and INSERT in turn, seeded keys and values),
    a snapshot-read report and the compaction Initiator check
    (``maybe_compact``), and ``finish()``, which runs ``clean()``, replays
    the applied stream in DuckDB and fills the ACID metrics."""
    from pyspark.sql import functions as F

    from apache_hive_2_1_1_src_spark.operators.acid import AcidTable

    spark, tr = ctx.spark, ctx.tracer
    base_df = spark.read.parquet(os.path.join(ctx.data_dir, "orders.parquet"))
    schema = base_df.schema
    cols = [f.name for f in schema.fields]
    root = os.path.join(ctx.work_dir, "acid_orders")
    table = AcidTable.create(spark, root, base_df, "o_orderkey")
    base_bytes = _du(root)
    n_rows = ctx.manifest["rows"]["orders"]
    stream = ChangeStream(ctx.seed, np.arange(n_rows), batch=int(n_rows * ACID_BATCH_SHARE))
    key = F.col("o_orderkey")

    txn_ms: list[float] = []
    read_ms: list[float] = []
    initiator_ms: list[float] = []
    compact_ms: dict[str, list[float]] = {"minor": [], "major": []}
    applied: list[tuple[dict, list | None]] = []  # (transaction, snapshot read after it)
    live_deltas: list[int] = []
    txn_delta_bytes = 0
    seq = itertools.count()

    def timed(name: str, fn):
        """Run ``fn`` as one traced operation; returns (result, ms)."""
        t0 = time.perf_counter()
        with tr.op(f"acid-{next(seq)}", name):
            res = fn()
        return res, (time.perf_counter() - t0) * 1000.0

    def stage(txn, op: dict) -> None:
        if op["kind"] == "merge":
            txn.merge(
                spark.createDataFrame(op["rows"], schema),
                when_matched_update={
                    "o_totalprice": F.col("src_o_totalprice"),
                    "o_orderstatus": F.col("src_o_orderstatus"),
                },
            )
        elif op["kind"] == "insert":
            txn.insert(spark.createDataFrame(op["rows"], schema))
        elif op["kind"] == "update":
            txn.update(key.isin(op["keys"]), {"o_totalprice": F.col("o_totalprice") + F.lit(1.5)})
        else:
            txn.delete(key.isin(op["keys"]))

    def transaction(op: dict):
        with tr.span("operators.acid.begin"):
            txn = table.begin()
        with tr.span("operators.acid.stage"):
            stage(txn, op)
        with tr.span("operators.acid.commit"):
            return txn.commit()

    def snapshot_read():
        return (
            table.read()
            .groupBy("o_orderstatus")
            .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("o_totalprice"), 2).alias("total"))
            .collect()
        )

    def cycle(timed_pass: bool) -> None:
        nonlocal txn_delta_bytes
        op = stream.next()
        out.attempted += 3
        try:
            wid, t_ms = timed("operators.acid.txn", lambda: transaction(op))
        except Exception as exc:
            # a failed transaction never entered the log: the replay skips it
            out.failed += 3
            out.info.setdefault("errors", []).append(f"{op['kind']}: {type(exc).__name__}")
            return
        snap = table.snapshot()
        live_deltas.append(len(snap.deltas))
        if tr.enabled:
            d = dict(snap.deltas).get(wid)
            txn_delta_bytes += _du(os.path.join(root, d)) if d else 0
        try:
            rows, r_ms = timed("operators.acid.read", snapshot_read)
            kind, c_ms = timed("operators.acid.initiator", table.maybe_compact)
        except Exception as exc:
            out.failed += 2
            out.info.setdefault("errors", []).append(f"read/initiator: {type(exc).__name__}")
            applied.append((op, None))
            return
        applied.append((op, rows))
        out.rows_returned += len(rows)
        (compact_ms[kind] if kind else initiator_ms).append(c_ms)
        if timed_pass:
            txn_ms.append(t_ms)
            read_ms.append(r_ms)
            out.op_ms += [t_ms, r_ms, c_ms]

    def finish() -> None:
        # write and space amplification, outside the window
        bytes_before_clean = _du(root)
        c0 = time.perf_counter()
        with tr.span("operators.acid.clean"):
            table.clean()
        clean_ms = (time.perf_counter() - c0) * 1000.0
        fresh = os.path.join(ctx.work_dir, "acid_fresh_base")
        table.read().write.mode("overwrite").parquet(fresh)
        space_amp = _du(root) / max(1, _du(fresh))

        # replay the applied stream in DuckDB, check every snapshot read
        import duckdb
        import pyarrow as pa

        con = duckdb.connect()
        con.execute(
            f"CREATE TABLE t AS SELECT * FROM read_parquet('{_parquet_glob(ctx.data_dir, 'orders')}')"
        )
        for j, (op, rows) in enumerate(applied):
            if op["kind"] in ("merge", "insert"):
                src = pa.table({c: [r[i] for r in op["rows"]] for i, c in enumerate(cols)})
                con.register("src", src)
                if op["kind"] == "merge":
                    con.execute(
                        "UPDATE t SET o_totalprice = src.o_totalprice, "
                        "o_orderstatus = src.o_orderstatus FROM src "
                        "WHERE t.o_orderkey = src.o_orderkey"
                    )
                    con.execute(
                        "INSERT INTO t SELECT * FROM src "
                        "WHERE o_orderkey NOT IN (SELECT o_orderkey FROM t)"
                    )
                else:
                    con.execute("INSERT INTO t SELECT * FROM src")
                con.unregister("src")
            else:
                keys = ",".join(str(x) for x in op["keys"])
                if op["kind"] == "update":
                    con.execute(
                        f"UPDATE t SET o_totalprice = o_totalprice + 1.5 WHERE o_orderkey IN ({keys})"
                    )
                else:
                    con.execute(f"DELETE FROM t WHERE o_orderkey IN ({keys})")
            if rows is not None:
                rel = con.execute(
                    "SELECT o_orderstatus, COUNT(*) AS n, ROUND(SUM(o_totalprice), 2) AS total "
                    "FROM t GROUP BY o_orderstatus"
                )
                if not oracle.same_result(
                    rows, ["o_orderstatus", "n", "total"], rel.fetchall(), [d[0] for d in rel.description]
                ):
                    _mismatch(out, f"snapshot read after transaction {j}")
        # the final snapshot, as written for space_amp, equals the replay
        # row for row (the values went through the same float additions)
        con.execute("SET TimeZone = 'UTC'")
        sel = ", ".join(f"CAST({c} AS TIMESTAMP)" if c == "o_orderdate" else c for c in cols)
        spark_rows = f"SELECT {sel} FROM read_parquet('{fresh}/*.parquet')"
        replay_rows = f"SELECT {sel} FROM t"
        differ = con.execute(
            f"SELECT (SELECT COUNT(*) FROM ({spark_rows} EXCEPT ALL {replay_rows})) "
            f"+ (SELECT COUNT(*) FROM ({replay_rows} EXCEPT ALL {spark_rows}))"
        ).fetchone()[0]
        out.attempted += 1
        if differ:
            _mismatch(out, f"final snapshot: {differ} rows differ")
        con.close()

        n_compactions = len(compact_ms["minor"]) + len(compact_ms["major"])
        out.named.update(
            {
                "txn_p50_ms": (_p50(txn_ms), "ms"),
                "txn_tail_ms": tail(txn_ms),
                "snapshot_read_p50_ms": (_p50(read_ms), "ms"),
                "space_amp": (space_amp, "ratio"),
            }
        )
        out.layer.update(
            {
                "operators.acid.begin_ms": _p50(tr.durations("operators.acid.begin")),
                "operators.acid.stage_ms": _p50(tr.durations("operators.acid.stage")),
                "operators.acid.commit_ms": _p50(tr.durations("operators.acid.commit")),
                "operators.acid.read_ms": _p50(read_ms),
                "operators.acid.live_deltas": statistics.fmean(live_deltas) if live_deltas else 0.0,
                "operators.acid.initiator_ms": _p50(initiator_ms),
                "operators.acid.compact_minor_ms": _p50(compact_ms["minor"]),
                "operators.acid.compact_major_ms": _p50(compact_ms["major"]),
                "operators.acid.compactions": float(n_compactions),
                "operators.acid.clean_ms": clean_ms,
                "operators.acid.bytes_written_per_user_byte": (
                    (bytes_before_clean - base_bytes) / txn_delta_bytes if txn_delta_bytes else 0.0
                ),
            }
        )
        out.info.update(
            {
                "transactions": len(applied),
                "batch_keys": stream.batch,
                "compactions": {k: len(v) for k, v in compact_ms.items()},
            }
        )

    return cycle, finish


# ----------------------------------------------------------------- curation
TOPK_QUERIES = 32
TOPK_K = 5


def _shingles(text: str) -> set[str]:
    words = text.lower().split()
    if len(words) < 3:
        return {" ".join(words)}
    return {" ".join(words[j : j + 3]) for j in range(len(words) - 2)}


def _curation_steps(ctx: Context, out: Outcome):
    """The corpus-curation steps over the generated documents and vectors.
    Returns their names, ``run(name)`` (runs one step, returns its wall
    time in ms or None when it raised) and ``finish()``, which checks the
    outputs and fills the pipeline metrics."""
    from pyspark.sql import functions as F

    from apache_hive_2_1_1_src_spark.pipeline import curation, dedup, similarity, text

    spark, tr = ctx.spark, ctx.tracer
    docs = spark.read.parquet(os.path.join(ctx.data_dir, "documents.parquet"))
    emb = spark.read.parquet(os.path.join(ctx.data_dir, "embeddings.parquet"))
    queries = emb.filter(F.col("vec_id") < TOPK_QUERIES)
    steps = {
        "pipeline.dedup.exact": lambda: dedup.exact_dedup(docs),
        "pipeline.dedup.minhash": lambda: dedup.minhash_dedup(docs),
        "pipeline.curation.funnel": lambda: curation.corpus_pipeline(docs),
        "pipeline.text.tfidf": lambda: text.tfidf_top_terms(docs, k=3),
        "pipeline.similarity.topk": lambda: similarity.brute_force_topk(emb, queries, k=TOPK_K),
    }
    first: dict[str, tuple] = {}
    runs: dict[str, int] = {}
    wrong = [0]
    step_ms: dict[str, float] = {}

    def run(name: str) -> float | None:
        t0 = time.perf_counter()
        out.attempted += 1
        try:
            with tr.op(f"cc-{out.attempted}", name):
                df = steps[name]()
                rows = df.collect()
            cols = df.columns
        except Exception as exc:
            out.failed += 1
            out.info.setdefault("errors", []).append(f"{name}: {type(exc).__name__}")
            return None
        ms = (time.perf_counter() - t0) * 1000.0
        step_ms.setdefault(name, ms)
        out.rows_returned += len(rows)
        runs[name] = runs.get(name, 0) + 1
        if name not in first:
            first[name] = (rows, cols)
        elif not oracle.same_result(rows, cols, *first[name]):
            wrong[0] += 1
        return ms

    def finish() -> None:
        out.failed += wrong[0]
        n_docs = ctx.manifest["rows"]["documents"]
        suite_s = sum(step_ms.values()) / 1000.0
        docs_per_s = n_docs / suite_s if len(step_ms) == len(steps) else 0.0
        con = oracle.connect(ctx.data_dir)

        def check(name: str, sql: str) -> None:
            if name in first:
                rel = con.execute(sql)
                if not oracle.same_result(*first[name], rel.fetchall(), [d[0] for d in rel.description]):
                    _mismatch(out, name, runs[name])

        check(
            "pipeline.dedup.exact",
            "SELECT md5(text) AS content_hash, MIN(doc_id) AS canonical_id, "
            "COUNT(*) AS n_copies FROM documents GROUP BY 1",
        )
        check(
            "pipeline.text.tfidf",
            r"""
            WITH w AS (SELECT doc_id AS id,
                              unnest(regexp_split_to_array(lower(text), '\s+')) AS term
                       FROM documents),
            tf AS (SELECT id, term, COUNT(*) AS tf FROM w WHERE term <> '' GROUP BY 1, 2),
            df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
            n AS (SELECT COUNT(*) AS n FROM documents),
            s AS (SELECT id, term, ROUND(tf * ln(n.n / df), 6) AS tfidf
                  FROM tf JOIN df USING (term), n),
            r AS (SELECT *, row_number() OVER (PARTITION BY id ORDER BY tfidf DESC, term) AS rn
                  FROM s)
            SELECT id AS doc_id, term, tfidf, CAST(rn AS INTEGER) AS rn FROM r WHERE rn <= 3
            """,
        )
        texts = dict(con.execute("SELECT doc_id, text FROM documents").fetchall())
        found: set[tuple[int, int]] = set()
        if "pipeline.dedup.minhash" in first:
            for r in first["pipeline.dedup.minhash"][0]:
                a, b = _shingles(texts[r["id_a"]]), _shingles(texts[r["id_b"]])
                jac = round(len(a & b) / len(a | b), 6)
                if abs(jac - r["jaccard"]) > 1e-6 or jac < 0.4:
                    _mismatch(out, f"pair {r['id_a']},{r['id_b']}")
                found.add((min(r["id_a"], r["id_b"]), max(r["id_a"], r["id_b"])))
        if "pipeline.similarity.topk" in first:
            vecs = con.execute("SELECT vec_id, embedding FROM embeddings ORDER BY vec_id").fetchall()
            ids = [i for i, _ in vecs]
            mat = np.array([v for _, v in vecs], dtype=np.float32).astype(np.float64)
            norms = np.sqrt((mat * mat).sum(axis=1))
            want = []
            for q in range(TOPK_QUERIES):
                cos = (mat @ mat[q]) / (norms * norms[q])
                order = sorted(
                    (j for j in range(len(ids)) if ids[j] != q), key=lambda j: (-cos[j], ids[j])
                )
                want += [(q, ids[j], round(float(cos[j]), 4)) for j in order[:TOPK_K]]
            if not oracle.same_result(
                *first["pipeline.similarity.topk"], want, ["query_id", "neighbor_id", "cos"]
            ):
                _mismatch(out, "pipeline.similarity.topk", runs["pipeline.similarity.topk"])
        if "pipeline.curation.funnel" in first:
            canon = {
                r[0]
                for r in con.execute("SELECT MIN(doc_id) FROM documents GROUP BY md5(text)").fetchall()
            }
            if not {r["doc_id"] for r in first["pipeline.curation.funnel"][0]} <= canon:
                _mismatch(out, "pipeline.curation.funnel", runs["pipeline.curation.funnel"])
        con.close()

        planted = {(min(a, b), max(a, b)) for a, b in ctx.manifest["near_dup_pairs"]}
        recall = len(planted & found) / len(planted) if planted else 1.0
        out.named["curation_docs_per_s"] = (docs_per_s, "1/s")
        out.named["dedup_recall"] = (recall, "ratio")
        for name in steps:
            out.layer[f"{name}_ms"] = step_ms.get(name, 0.0)
        if tr.enabled:
            # the candidate count is an extra action, so it is only taken when tracing
            n_cand = dedup.minhash_lsh_candidates(docs).count()
            n_ver = len(first.get("pipeline.dedup.minhash", ([], None))[0])
            out.layer["pipeline.dedup.candidate_pairs"] = float(n_cand)
            out.layer["pipeline.dedup.verified_share"] = n_ver / n_cand if n_cand else 0.0
        out.info.update(
            {
                "documents": n_docs,
                "planted_near_dup_pairs": len(planted),
                "near_dup_rate": ctx.manifest["near_dup_rate"],
                "exact_dup_copies": ctx.manifest["exact_dup_copies"],
            }
        )

    return list(steps), run, finish


# -------------------------------------------------------------- warehouse_batch
def warehouse_batch(ctx: Context) -> Outcome:
    """Report queries, ACID ETL and corpus curation in one pass.

    A pass interleaves the 11 relational headline queries (``queries``
    registry, DataFrame API, no ``HiveEngine.sql``), four ETL cycles on an
    ACID copy of the orders table (``_etl_cycles``) and the five curation
    steps (``_curation_steps``), so each layer's operations are spread
    over the pass.  Passes repeat in the same order; the first is timed."""
    out = Outcome()
    t_prep = time.perf_counter()
    run_query, check_queries = _report_pass(ctx, out)
    cycle, finish_etl = _etl_cycles(ctx, out)
    steps, run_step, finish_curation = _curation_steps(ctx, out)
    ctx.phases["prepare_s"] = time.perf_counter() - t_prep
    queries = iter(REPORT_QUERIES)
    curation = iter(steps)
    plan: list[tuple[str, str | None]] = []
    for _ in range(4):
        plan += [("report", q) for q in itertools.islice(queries, 3)]
        plan += [("etl", None), ("curation", next(curation))]
    plan += [("report", q) for q in queries] + [("curation", s) for s in curation]
    query_ms: list[float] = []
    pass_s = [0.0]

    def ops():
        for n in itertools.count():
            for kind, name in plan:
                yield n, kind, name

    def step(op) -> None:
        n, kind, name = op
        c0 = ctx.cpu()
        t0 = time.perf_counter()
        if kind == "etl":
            cycle(n == 0)
        else:
            ms = run_query(name) if kind == "report" else run_step(name)
            if n == 0 and ms is not None:
                (query_ms if kind == "report" else out.op_ms).append(ms)
        if n == 0:
            pass_s[0] += time.perf_counter() - t0
            out.cpu_s += ctx.cpu() - c0

    out.window_s, _ = closed_loop(ctx, ops(), step, min_ops=len(plan))
    t_check = time.perf_counter()
    check_queries()
    finish_etl()
    finish_curation()
    ctx.phases["check_s"] = time.perf_counter() - t_check
    out.op_ms += query_ms
    out.work_per_s = len(out.op_ms) / pass_s[0]
    out.named["report_suite_s"] = (sum(query_ms) / 1000.0, "s")
    out.named["report_query_p50_ms"] = (_p50(query_ms), "ms")
    out.layer["queries.build_ms"] = _p50(ctx.tracer.durations("queries.build"))
    out.info["first_pass_s"] = pass_s[0]
    return out


WORKLOADS = {
    "hiveql_interactive": hiveql_interactive,
    "warehouse_batch": warehouse_batch,
}
