"""lake_refresh: the write path, one increment per op.

Setup lands the orders before ``START`` and a customer snapshot, runs the
medallion refresh once over them, creates the DeltaLiteTable of orders
with a first CDC commit of those orders, and reads once; this also warms
every code path an increment takes.  Every later increment's inputs come
from the seed (``generate``): the next ``SLICE_DAYS`` of orders, a customer
snapshot in which ``CHANGE_SHARE`` of the keys change a tracked column,
and a CDC batch of ``CDC_UPDATES`` status updates on ``CDC_KEYS``
existing keys (so keys repeat inside a batch) plus the slice's new
orders.  Each increment lands its inputs (untimed), then times

* refresh: ``MedallionPipeline`` bronze ingest -> silver -> SCD2
  customer dim -> gold fact -> DQ batch;
* CDC commit: ``upsert_stream_to_delta_lite`` with ``availableNow``,
  from ``start()`` to ``awaitTermination()``;
* read: one fixed aggregate over the Delta table and the gold fact,
  right after the commit (the first read of the new Delta version).

The op count is fixed by ``--seconds`` and every run starts from fresh
state: the Delta read slows as merges pile up live files, so a run of
fixed duration would report a figure that depends on host speed.
"""

from __future__ import annotations

import os
import random
import sys
import time
import traceback
from dataclasses import dataclass, field
from datetime import datetime, timedelta

from metrics import median, tail_report

START = datetime(2000, 1, 1)
SLICE_DAYS = 14
CHANGE_SHARE = 0.02
CDC_UPDATES = 1000
CDC_KEYS = 700
STATUSES = ("F", "O", "P")
# CDC event times start after every order date and rise by one second
# per change, so last-writer-wins by timestamp has no ties.
CDC_EPOCH = datetime(2002, 1, 1)
TRACKED = ["c_acctbal", "c_mktsegment"]
# Seconds one timed increment takes on a quiet 4-core host; sets how
# many increments a run of --seconds makes.
NOMINAL_INCREMENT_S = 10.0
# The first increment is the first to close out SCD2 versions and to
# merge into existing Delta files, and it runs 20-40% slower than later
# ones; a median over three or more increments leaves it out.
MIN_INCREMENTS = 3
# A run must end within 180 s; a CDC commit normally takes ~3 s.
STREAM_TIMEOUT_S = 60


@dataclass
class Increment:
    cutoff: datetime  # orders before this date have landed after the increment
    orders: dict  # column -> list: the slice of new orders
    customers: dict  # column -> list: the full snapshot, snap_ts = cutoff
    cdc: dict  # column -> list: status updates and the slice's inserts
    changed: set = field(default_factory=set)


def increments_for(seconds: int) -> int:
    return max(MIN_INCREMENTS, int(seconds // NOMINAL_INCREMENT_S))


def _rows_between(orders: dict, lo: datetime, hi: datetime) -> dict:
    keep = [i for i, d in enumerate(orders["o_orderdate"]) if lo <= d < hi]
    return {c: [v[i] for i in keep] for c, v in orders.items()}


def generate(seed: int, orders: dict, customers: dict, n: int):
    """Initial orders, initial snapshot and ``n`` increments from ``seed``.

    ``orders`` and ``customers`` are the base tables as column -> list.
    The same seed and tables give the same inputs.
    """
    rng = random.Random(seed)
    initial = _rows_between(orders, datetime.min, START)
    snapshot0 = snapshot = dict(customers, snap_ts=[START] * len(customers["c_custkey"]))
    segments = sorted(set(customers["c_mktsegment"]))
    live = {
        k: [initial[c][i] for c in ("o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate")]
        for i, k in enumerate(initial["o_orderkey"])
    }
    keys = list(initial["o_orderkey"])
    seq = 0
    out = []
    cutoff = START
    for _ in range(n):
        lo, cutoff = cutoff, cutoff + timedelta(days=SLICE_DAYS)
        new = _rows_between(orders, lo, cutoff)

        snap = {c: list(v) for c, v in snapshot.items()}
        snap["snap_ts"] = [cutoff] * len(snap["c_custkey"])
        changed = set()
        for i in rng.sample(range(len(snap["c_custkey"])), round(CHANGE_SHARE * len(snap["c_custkey"]))):
            if rng.random() < 0.5:
                snap["c_acctbal"][i] = round(rng.uniform(-999.99, 9999.99), 2)
            else:
                snap["c_mktsegment"][i] = rng.choice(
                    [s for s in segments if s != snap["c_mktsegment"][i]])
            changed.add(snap["c_custkey"][i])
        snapshot = snap

        rows = []
        pool = rng.sample(keys, min(CDC_KEYS, len(keys)))
        for _ in range(CDC_UPDATES):
            k = rng.choice(pool)
            live[k][1] = rng.choice(STATUSES)
            seq += 1
            rows.append((k, *live[k], CDC_EPOCH + timedelta(seconds=seq)))
        for i, k in enumerate(new["o_orderkey"]):
            live[k] = [new[c][i] for c in ("o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate")]
            keys.append(k)
            seq += 1
            rows.append((k, *live[k], CDC_EPOCH + timedelta(seconds=seq)))
        rng.shuffle(rows)  # file order is not timestamp order
        cdc = dict(zip(CDC_COLUMNS, map(list, zip(*rows))))
        out.append(Increment(cutoff, new, snapshot, cdc, changed))
    return initial, snapshot0, out


CDC_COLUMNS = ("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate", "cdc_ts")


def _write(cols: dict, path: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.table({c: v for c, v in cols.items()}), path)


def _read_base(data_dir: str) -> tuple[dict, dict]:
    import pyarrow.parquet as pq

    orders = pq.read_table(f"{data_dir}/orders.parquet").sort_by(
        [("o_orderdate", "ascending"), ("o_orderkey", "ascending")])
    customers = pq.read_table(f"{data_dir}/customer.parquet").sort_by("c_custkey")
    return orders.to_pydict(), customers.to_pydict()


class Lake:
    """The medallion lake and the Delta table one run grows."""

    def __init__(self, ctx):
        from data_lakehouse_platform_spark.plans.medallion import MedallionPipeline

        self.spark, self.tracer = ctx.spark, ctx.tracer
        self.root = os.path.join(ctx.work, "lake")
        self.landing = os.path.join(self.root, "landing")
        for d in ("orders", "customer", "cdc"):
            os.makedirs(os.path.join(self.landing, d))
        self.pipe = MedallionPipeline(self.spark, os.path.join(self.root, "medallion"))
        self.delta_path = os.path.join(self.root, "delta_orders")
        self.checkpoint = os.path.join(self.root, "cdc_checkpoint")
        self.dq_failures = 0

    def land(self, tag: str, orders: dict, customers: dict, cdc: dict) -> None:
        for name, cols in (("orders", orders), ("customer", customers), ("cdc", cdc)):
            _write(cols, f"{self.landing}/{name}/{tag}.parquet")

    def refresh(self) -> int:
        from pyspark.sql import functions as F

        from data_lakehouse_platform_spark.operators.quality import DQCheck

        spark, pipe, span = self.spark, self.pipe, self.tracer.span
        with span("plans.bronze_ingest"):
            rows = pipe.bronze_ingest(
                spark.read.parquet(f"{self.landing}/orders"), "orders", "o_orderdate")
        with span("plans.bronze_ingest"):
            rows += pipe.bronze_ingest(
                spark.read.parquet(f"{self.landing}/customer"), "customer", "snap_ts")
        with span("plans.silver_transform"):
            pipe.silver_transform("orders", lambda df: df.filter(F.col("o_totalprice") >= 0)
                                  .withColumn("o_orderstatus", F.upper(F.trim("o_orderstatus"))))
        with span("plans.silver_transform"):
            pipe.silver_transform("customer", lambda df: df.join(
                df.agg(F.max("snap_ts").alias("snap_ts")), "snap_ts"))
        with span("plans.gold_scd2"):
            pipe.gold_scd2("dim_customer", "c_custkey", TRACKED, "snap_ts", source_table="customer")
        with span("plans.gold_fact"):
            pipe.gold_fact("fact_orders", lambda s, p: p.read("silver", "orders").join(
                F.broadcast(p.read("gold", "dim_customer").filter("is_current").select(
                    F.col("c_custkey").alias("o_custkey"), F.col("row_key").alias("customer_key"))),
                "o_custkey",
            ).select("o_orderkey", "customer_key", "o_orderstatus", "o_totalprice", "o_orderdate"))
        with span("plans.validate"):
            dq = pipe.validate("gold", [
                DQCheck("fact_orders", "null_count", "customer_key", max_null_rate=0.0),
                DQCheck("fact_orders", "unique", "o_orderkey"),
                DQCheck("fact_orders", "min", "o_totalprice", min_value=0.0),
                DQCheck("dim_customer", "unique", "row_key"),
                DQCheck("dim_customer", "cross_field", "end_after_start",
                        predicate="end_ts IS NULL OR end_ts >= start_ts"),
            ]).collect()
        self.dq_failures = sum(not r["passed"] for r in dq)
        return rows

    def commit(self):
        from pyspark.sql.types import (DoubleType, LongType, StringType, StructField,
                                       StructType, TimestampNTZType)

        from data_lakehouse_platform_spark.streaming.pipelines import upsert_stream_to_delta_lite

        schema = StructType([
            StructField("o_orderkey", LongType()), StructField("o_custkey", LongType()),
            StructField("o_orderstatus", StringType()), StructField("o_totalprice", DoubleType()),
            StructField("o_orderdate", TimestampNTZType()), StructField("cdc_ts", TimestampNTZType()),
        ])
        with self.tracer.span("streaming.cdc_commit") as s:
            q = upsert_stream_to_delta_lite(
                self.spark.readStream.schema(schema).parquet(f"{self.landing}/cdc"),
                self.delta_path, ["o_orderkey"], "cdc_ts", self.checkpoint)
            try:
                if not q.awaitTermination(STREAM_TIMEOUT_S):
                    raise TimeoutError(f"CDC stream still running after {STREAM_TIMEOUT_S} s")
            finally:
                q.stop()
            if s is not None:
                s.groups.append(str(q.runId))
        if q.exception() is not None:
            raise RuntimeError(f"CDC stream failed: {q.exception()}")
        return q

    def read(self) -> None:
        from pyspark.sql import functions as F

        from data_lakehouse_platform_spark.sources.delta_lite import DeltaLiteTable

        with self.tracer.span("sources.delta_read"):
            DeltaLiteTable(self.delta_path).read(self.spark).groupBy("o_orderstatus").agg(
                F.count(F.lit(1)), F.sum("o_totalprice")).collect()
        with self.tracer.span("plans.read_fact"):
            self.pipe.read("gold", "fact_orders").groupBy(F.year("o_orderdate")).agg(
                F.count(F.lit(1))).collect()


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(r, f)) for r, _, fs in os.walk(path) for f in fs)


def run(ctx) -> dict:
    spark, tracer, tally = ctx.spark, ctx.tracer, ctx.tally
    n_timed = increments_for(ctx.seconds)
    initial, snapshot0, incs = generate(ctx.seed, *_read_base(ctx.data_dir), n_timed)
    lake = Lake(ctx)

    lake.land("0000", initial, snapshot0, {
        **{c: initial[c] for c in CDC_COLUMNS[:-1]},
        "cdc_ts": [CDC_EPOCH] * len(initial["o_orderkey"]),
    })
    lake.refresh()
    lake.commit()
    lake.read()
    spark.catalog.clearCache()
    problems = ["DQ checks failed on the initial load"] if lake.dq_failures else []
    ctx.setup_done()

    times = {"refresh": [], "cdc": [], "read": []}
    traced, untraced = [], []
    ops = []
    for i, inc in enumerate(incs):
        lake.land(f"{i + 1:04d}", inc.orders, inc.customers, inc.cdc)
        op = tally.attempt()
        ops.append(op)
        on = ctx.trace and i % 2 == 0
        tracer.enabled, tracer.op = on, op
        bytes_before = _dir_bytes(lake.delta_path) if on else 0
        try:
            t0 = time.perf_counter()
            rows = lake.refresh()
            t1 = time.perf_counter()
            q = lake.commit()
            t2 = time.perf_counter()
            lake.read()
            t3 = time.perf_counter()
        except Exception:
            traceback.print_exc()
            tally.fail(op)
            continue
        finally:
            tracer.enabled = False
            spark.catalog.clearCache()
        if lake.dq_failures:
            print(f"DQ checks failed in increment {i + 1}", file=sys.stderr)
            tally.fail(op)
        times["refresh"].append(t1 - t0)
        times["cdc"].append(t2 - t1)
        times["read"].append(t3 - t2)
        if on:
            traced.append(_increment_layers(ctx, lake, op, q, rows, t2 - t1, t3 - t0,
                                            _dir_bytes(lake.delta_path) - bytes_before))
        elif ctx.trace:
            untraced.append(t3 - t0)

    problems += check_lake(ctx, lake, incs)
    for p in problems:
        print(f"CHECK FAILED lake_refresh: {p}", file=sys.stderr)
    if problems:
        tally.fail(*ops)

    if not times["refresh"]:
        return {}
    metrics = {
        "refresh_p50_s": median(times["refresh"]),
        "cdc_commit_p50_s": median(times["cdc"]),
        "read_p50_s": median(times["read"]),
    }
    metrics["pass_s"] = sum(metrics.values())
    for phase, values in times.items():
        metrics.update(tail_report(f"{phase}_s", values))
        metrics[f"{phase}_s_samples"] = values
    if ctx.trace and traced:
        metrics.update({k: median([t[k] for t in traced]) for k in traced[0] if k != "wall"})
        metrics["trace.overhead_s"] = (
            median([t["wall"] for t in traced]) - median(untraced) if untraced else 0.0)
    return metrics


def _increment_layers(ctx, lake, op, q, rows, cdc_s, wall, bytes_written) -> dict:
    from data_lakehouse_platform_spark.sources.delta_lite import DeltaLiteTable

    spans = lake.tracer.op_spans(op)
    engine = lake.tracer.resolve(op)
    dur = lambda n: sum(s.duration for s in spans if s.name == n)  # noqa: E731
    progress = q.recentProgress
    ms = lambda k: sum(p["durationMs"].get(k, 0) for p in progress) / 1000.0  # noqa: E731
    input_rows = sum(p["numInputRows"] for p in progress)
    table = DeltaLiteTable(lake.delta_path)
    return {
        "wall": wall,
        "plans.bronze_ingest_s": dur("plans.bronze_ingest"),
        "plans.bronze_rows": rows,
        "plans.silver_transform_s": dur("plans.silver_transform"),
        "plans.gold_scd2_s": dur("plans.gold_scd2"),
        "plans.gold_fact_s": dur("plans.gold_fact"),
        "plans.validate_s": dur("plans.validate"),
        "plans.jobs": sum(len(s.jobs) for s in spans if s.name.startswith("plans.")),
        "streaming.trigger_s": ms("triggerExecution"),
        "streaming.add_batch_s": ms("addBatch"),
        "streaming.query_planning_s": ms("queryPlanning"),
        "streaming.wal_commit_s": ms("walCommit"),
        "streaming.overhead_s": cdc_s - ms("triggerExecution"),
        "streaming.input_rows": input_rows,
        "sources.delta_read_s": median([s.duration for s in spans if s.name == "sources.delta_read"]),
        "sources.delta_live_files": table.files_matching(ctx.spark, "true")[1],
        "sources.delta_versions": len(table.all_versions()),
        "sources.delta_bytes_written": bytes_written,
        "sources.delta_bytes_per_row": bytes_written / max(1, input_rows),
        "spark.plan_s": 0.0,
        **{f"spark.{k}": v for k, v in engine.items()},
    }


def check_lake(ctx, lake: Lake, incs: list[Increment]) -> list[str]:
    """Compare the lake with an independent DuckDB computation over the
    same generated inputs; returns what did not hold."""
    import duckdb

    from data_lakehouse_platform_spark.sources.delta_lite import DeltaLiteTable

    con = duckdb.connect()
    med = lake.pipe.path
    problems = []

    def count(sql: str) -> int:
        return con.execute(sql).fetchone()[0]

    cols = "o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate"
    bronze = f"SELECT {cols} FROM read_parquet('{med('bronze', 'orders')}/*.parquet')"
    source = (f"SELECT {cols} FROM read_parquet('{ctx.data_dir}/orders.parquet') "
              f"WHERE o_orderdate < TIMESTAMP '{incs[-1].cutoff}'")
    if count(f"SELECT count(*) FROM (({bronze}) EXCEPT ALL ({source}))") or count(
            f"SELECT count(*) FROM (({source}) EXCEPT ALL ({bronze}))"):
        problems.append("bronze orders differ from the source rows up to the last cutoff")

    dim = f"read_parquet('{med('gold', 'dim_customer')}/*.parquet')"
    snaps = f"read_parquet('{lake.landing}/customer/*.parquet')"
    if count(f"SELECT count(*) FROM (SELECT c_custkey FROM {dim} WHERE is_current "
             f"GROUP BY 1 HAVING count(*) <> 1)") or count(
            f"SELECT count(DISTINCT c_custkey) FROM {dim}") != count(
            f"SELECT count(*) FROM (SELECT c_custkey FROM {dim} WHERE is_current)"):
        problems.append("dim does not have exactly one current row per key")
    last = f"(SELECT c_custkey, c_acctbal, c_mktsegment FROM {snaps} WHERE snap_ts = TIMESTAMP '{incs[-1].cutoff}')"
    cur = f"(SELECT c_custkey, c_acctbal, c_mktsegment FROM {dim} WHERE is_current)"
    if count(f"SELECT count(*) FROM ({last} EXCEPT ALL {cur})") or count(
            f"SELECT count(*) FROM ({cur} EXCEPT ALL {last})"):
        problems.append("current dim rows differ from the last snapshot")
    # A key changes when its tracked columns differ from the previous
    # snapshot; each change must have closed out exactly one version.
    changes = (f"SELECT c_custkey, count(*) n FROM (SELECT c_custkey, "
               f"(c_acctbal, c_mktsegment) IS DISTINCT FROM lag((c_acctbal, c_mktsegment)) "
               f"OVER (PARTITION BY c_custkey ORDER BY snap_ts) AND snap_ts > TIMESTAMP '{START}' AS ch "
               f"FROM {snaps}) WHERE ch GROUP BY 1")
    closed = (f"SELECT c_custkey, count(*) n FROM {dim} WHERE NOT is_current "
              f"AND end_ts IS NOT NULL GROUP BY 1")
    if count(f"SELECT count(*) FROM (({changes}) EXCEPT ALL ({closed}))") or count(
            f"SELECT count(*) FROM (({closed}) EXCEPT ALL ({changes}))"):
        problems.append("changed keys are not closed out once per change")

    con.register("delta", DeltaLiteTable(lake.delta_path).read(lake.spark).toArrow())
    history = f"SELECT * FROM read_parquet('{lake.landing}/cdc/*.parquet')"
    expected = (f"SELECT {cols}, cdc_ts FROM (SELECT *, row_number() OVER (PARTITION BY o_orderkey "
                f"ORDER BY cdc_ts DESC) rn FROM ({history})) WHERE rn = 1")
    actual = f"SELECT {cols}, cdc_ts FROM delta"
    if count(f"SELECT count(*) FROM (({expected}) EXCEPT ALL ({actual}))") or count(
            f"SELECT count(*) FROM (({actual}) EXCEPT ALL ({expected}))"):
        problems.append("Delta table differs from last-writer-wins over the load and CDC batches")
    con.close()
    return problems
