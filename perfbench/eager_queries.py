"""eager_queries: passes over a fixed list of build-heavy registry queries.

One op = call the query's unwrapped registry builder (``__wrapped__``,
without the total-order sort the registry adds for grading), materialize
the result with a ``noop`` write, then ``clearCache()`` outside the timed
region.  The seed sets the order of the queries within each pass.

Over 90% of each op is the builder call: the eager jobs it launches while
the DataFrame is constructed (NTILE cut passes, stats collects, seed
collects) and the driver-side work of planning and launching them.

Setup runs ``WARMUP_PASSES`` untimed passes of the op.  In the last, each
query's result is also sorted by the registry's total order and compared,
on value and emitted order, with a digest of the DuckDB oracle's answer
(``oracle_digests.json``, made by ``make_digests.py``).
"""

from __future__ import annotations

import json
import os
import random
import sys
import time
import traceback

from metrics import median, pass_seconds, self_times, tail_report

QUERIES = ("ntile_customer_deciles", "kmeans_cells", "rfm_segments")
# Seconds one timed pass takes on a quiet 4-core host; sets how many
# passes a run of --seconds makes.  The count depends on --seconds only,
# never on how fast this host happens to be.
NOMINAL_PASS_S = 6.0
MIN_PASSES = 2
# The first pass of a process runs cold (JIT, codegen), about three times
# slower than a warm one, and the second still 20-50% slower, by an
# amount that varies from run to run: both are untimed.
WARMUP_PASSES = 2

DIGESTS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "oracle_digests.json")


def arrow_digest(table) -> dict:
    """Digest of a result (a pyarrow Table) on value and emitted order.

    Columns are compared as a set, as the registry's oracle contract
    does; timestamps compare as UTC wall-clock values.  DuckDB renders
    every value as text (doubles in shortest round-trip form), so the
    Spark result and the oracle's are rendered by the same code.
    """
    import duckdb
    import pyarrow as pa

    columns = sorted(table.column_names)
    arrays = {}
    for name in columns:
        col = table.column(name)
        if pa.types.is_timestamp(col.type):
            col = col.cast(pa.timestamp("us"))
        arrays[name] = col
    arrays["__pos"] = pa.array(range(table.num_rows), pa.int64())
    con = duckdb.connect()
    try:
        con.register("result", pa.table(arrays))
        fields = ", ".join(f'"{c}" := "{c}"' for c in columns)
        sha = con.execute(
            f"SELECT sha256(coalesce(string_agg(CAST(struct_pack({fields}) AS VARCHAR), "
            f"chr(10) ORDER BY __pos), '')) FROM result"
        ).fetchone()[0]
    finally:
        con.close()
    return {"rows": table.num_rows, "sha256": sha}


def passes_for(seconds: int) -> int:
    return max(MIN_PASSES, int(seconds // NOMINAL_PASS_S))


def pass_orders(names: tuple[str, ...], passes: int, seed: int) -> list[list[str]]:
    rng = random.Random(seed)
    out = []
    for _ in range(passes):
        order = list(names)
        rng.shuffle(order)
        out.append(order)
    return out


def run(ctx) -> dict:
    from data_lakehouse_platform_spark.queries import _ordered_build, all_queries

    spark, tracer, tally = ctx.spark, ctx.tracer, ctx.tally
    registry = all_queries()
    with open(DIGESTS) as fh:
        expected = json.load(fh)["digests"]

    orders = pass_orders(QUERIES, WARMUP_PASSES + passes_for(ctx.seconds), ctx.seed)
    bad_checks = set()
    for p, order in enumerate(orders[:WARMUP_PASSES]):
        for name in order:
            df = registry[name].build.__wrapped__(spark, ctx.data_dir)
            df.write.format("noop").mode("overwrite").save()
            if p == WARMUP_PASSES - 1:
                ordered = _ordered_build(lambda *_: df)(spark, ctx.data_dir)
                got = arrow_digest(ordered.toArrow())
                if got != expected[name]:
                    bad_checks.add(name)
                    print(f"CHECK FAILED {name}: got {got}, oracle {expected[name]}",
                          file=sys.stderr)
            spark.catalog.clearCache()
    ctx.setup_done()

    samples: dict[str, list[float]] = {n: [] for n in QUERIES}
    builds: dict[str, list[float]] = {n: [] for n in QUERIES}
    traced: dict[str, list[dict]] = {n: [] for n in QUERIES}
    untraced: dict[str, list[float]] = {n: [] for n in QUERIES}
    ops: dict[str, list[int]] = {n: [] for n in QUERIES}
    position = {n: i for i, n in enumerate(QUERIES)}
    for p, order in enumerate(orders[WARMUP_PASSES:]):
        for name in order:
            op = tally.attempt()
            ops[name].append(op)
            # Traced runs trace every other op of each query, so each
            # query has traced and untraced samples from the same run.
            on = ctx.trace and (position[name] + p) % 2 == 0
            tracer.enabled, tracer.op = on, op
            builder = registry[name].build.__wrapped__
            try:
                t0 = time.perf_counter()
                with tracer.span("queries.build"):
                    df = builder(spark, ctx.data_dir)
                built = time.perf_counter() - t0
                if on:
                    with tracer.span("spark.plan"):
                        df._jdf.queryExecution().executedPlan()
                with tracer.span("spark.execute"):
                    df.write.format("noop").mode("overwrite").save()
                dt = time.perf_counter() - t0
            except Exception:
                tally.fail(op)
                traceback.print_exc()
                continue
            finally:
                tracer.enabled = False
                spark.catalog.clearCache()
            samples[name].append(dt)
            builds[name].append(built)
            if on:
                traced[name].append(_op_layers(tracer, op, dt))
            elif ctx.trace:
                untraced[name].append(dt)
    for name in bad_checks:
        tally.fail(*ops[name])

    if any(not v for v in samples.values()):
        return {}
    metrics = phase_metrics(samples, builds)
    metrics.update(tail_report("op_s", [t for v in samples.values() for t in v]))
    metrics.update({f"{n}_s_samples": v for n, v in samples.items()})
    if ctx.trace:
        metrics.update(_pass_layers(traced, untraced))
    return metrics


def phase_metrics(samples: dict[str, list[float]], builds: dict[str, list[float]]) -> dict:
    """End-to-end figures of a run from each query's op and build times.

    The three phase names are the lake's; on this workload the
    "refresh" of a result is its builder call (the DataFrame rebuilt over
    the current tables, eager jobs included), its "commit" is the
    materialization, and a "read" is one whole query.
    """
    return {
        "pass_s": pass_seconds(samples),
        "refresh_p50_s": pass_seconds(builds),
        "cdc_commit_p50_s": pass_seconds(
            {n: [op - b for op, b in zip(samples[n], builds[n])] for n in samples}),
        "read_p50_s": median([median(v) for v in samples.values()]),
    }


def _op_layers(tracer, op: int, wall: float) -> dict:
    spans = tracer.op_spans(op)
    engine = tracer.resolve(op)
    own = self_times(spans)
    by = lambda n: [s for s in spans if s.name == n]  # noqa: E731
    catalog = by("catalog.load_table")
    build = by("queries.build")
    return {
        "wall": wall,
        "catalog.load_table_calls": len(catalog),
        "catalog.load_table_s": sum(s.duration for s in catalog),
        "catalog.load_table_jobs": sum(len(s.jobs) for s in catalog),
        "queries.build_s": sum(own[s.id] for s in build),
        "queries.eager_jobs": sum(len(s.jobs) for s in build),
        "spark.plan_s": sum(s.duration for s in by("spark.plan")),
        **{f"spark.{k}": v for k, v in engine.items()},
    }


def _pass_layers(traced: dict[str, list[dict]], untraced: dict[str, list[float]]) -> dict:
    """Per-layer figures for one pass: per query, the median over its
    traced ops; summed over the queries (the worst task is a max)."""
    out: dict[str, float] = {}
    for name, recs in traced.items():
        if not recs:
            continue
        for key in recs[0]:
            if key == "wall":
                continue
            v = median([r[key] for r in recs])
            if key == "spark.max_task_input_records":
                out[key] = max(out.get(key, 0), v)
            else:
                out[key] = out.get(key, 0) + v
    both = [n for n in traced if traced[n] and untraced[n]]
    out["trace.overhead_s"] = sum(
        median([r["wall"] for r in traced[n]]) - median(untraced[n]) for n in both
    )
    return out
