"""batch_analytics: passes over registry queries with the noop sink.

Drives ``queries.QUERIES`` on seeded event / document / embedding
tables written inside the run's work directory. Set-up is a cold pass
that runs the queries side by side and collects every result, then a
warm-up pass; each timed pass runs the queries one after another into
the ``noop`` sink. After timing, each collected result is checked
against its DuckDB oracle (``queries.ORACLES``) by row count, column
names and an order-insensitive value hash; an empty result fails the
check.
"""

from __future__ import annotations

import hashlib
import math
import os
import statistics
import time
from concurrent.futures import ThreadPoolExecutor

from perfbench import common, gen

# query -> the operators module doing its work: one query per module.
# protocol_replay is timed by live_sync, whose check replays its polls
# with it.
QUERIES = {
    "stream_replay": "stream_ops",
    "exact_dedup": "dedup",
    "similarity_topk": "similarity",
    "text_stats": "text",
}
# Three of the four queries run wholly in the JVM (similarity_topk
# scores in a Python worker): one task slot per core.
CORES_PER_TASK = 1
PER_LAYER = (
    *(f"operators.{m}.{q}_s" for q, m in QUERIES.items()),
    *(f"operators.{m}.stages" for m in sorted(set(QUERIES.values()))),
    "session.spark_start_s", "session.first_batch_ms", "trace.overhead_pct",
)
# Sized so that close to half of a warm pass is work that grows with the
# input rather than Spark's fixed cost per query. On 4 cores a warm
# pass over these four queries takes about 3.4 s on sf0.01-sized tables
# (10k events, 500 docs, 200 vectors), nearly all of it fixed cost, and
# about 6 s at these sizes: the events at 1.5x, the documents at 8x
# and the vectors at 10x the row counts of sf0.1, events per user as in
# sf0.1. Larger inputs would not fit two timed passes and the set-up
# in the run-time budget of the benchmark.
TABLE_SIZES = {"n_events": 150_000, "n_users": 2_250, "n_docs": 40_000, "n_vecs": 20_000}
MIN_PASSES = 2  # timed passes, however short the window


def _registry():
    """Every registered query and its oracle, through the repository's
    query entry module (``__spark_entry__``)."""
    import __spark_entry__ as entry

    return entry.queries(), entry.oracle_sql()


def _norm(v):
    """One value of an object column, as engine-neutral text."""
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "\0null"
    if hasattr(v, "tolist"):
        v = v.tolist()
    if isinstance(v, (list, tuple)):
        return repr(tuple(_norm(x) for x in v))
    if isinstance(v, float) and v.is_integer():
        return repr(int(v))
    return repr(v)


def result_digest(pdf) -> tuple[int, tuple, str]:
    """(rows, sorted column names, order-insensitive value hash) of a
    pandas frame. Values are normalised the way the repository's own
    oracle tests compare them: timestamps to microseconds, numbers by
    value whatever their type, lists element-wise. The hash is over the
    sorted per-row hashes, so row order does not matter."""
    import pandas as pd

    cols = sorted(pdf.columns)
    norm = {}
    for c in cols:
        s = pdf[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            s = s.astype("datetime64[us]").astype("int64")
        if pd.api.types.is_bool_dtype(s) or pd.api.types.is_numeric_dtype(s):
            s = s.astype("float64")
        else:
            s = s.map(_norm).astype(str)
        norm[c] = s
    rows = pd.util.hash_pandas_object(pd.DataFrame(norm), index=False).to_numpy()
    rows.sort()
    return len(rows), tuple(cols), hashlib.sha256(rows.tobytes()).hexdigest()


def _run_pass(spark, registry, data_dir, tracer, clock, label) -> dict:
    """One pass over QUERIES into the noop sink; {query: seconds}."""
    from goeventstream_spark.operators import clear_shared_caches

    times = {}
    for name, module in QUERIES.items():
        clear_shared_caches()  # outside the timing
        spark.sparkContext.setJobGroup(f"{label}:{name}", name)
        t0 = time.perf_counter()
        registry[name](spark, data_dir).write.format("noop").mode("overwrite").save()
        t1 = time.perf_counter()
        times[name] = t1 - t0
        tracer.add(f"operators.{module}.{name}", clock.wall(t0), clock.wall(t1),
                   trace=label)
    return times


def _stage_count(spark, group: str) -> int:
    st = spark.sparkContext.statusTracker()
    stages = set()
    for jid in st.getJobIdsForGroup(group):
        info = st.getJobInfo(jid)
        if info is not None:
            stages.update(info.stageIds)
    return len(stages)


def _oracle_digests(data_dir: str, oracles: dict) -> dict:
    import duckdb

    con = duckdb.connect()
    try:
        for t in ("events", "documents", "embeddings"):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')"
            )
        return {name: result_digest(con.execute(oracles[name]).fetchdf()) for name in QUERIES}
    finally:
        con.close()


def _check(results: dict, oracles: dict, data_dir: str) -> list:
    """Compare each collected result with its oracle; returns the
    mismatched or empty ones."""
    with ThreadPoolExecutor(max_workers=1) as pool:
        oracle_f = pool.submit(_oracle_digests, data_dir, oracles)
        got = {name: result_digest(pdf) for name, pdf in results.items()}
        want = oracle_f.result()
    return [
        (name, got[name][:2], want[name][:2])
        for name in QUERIES
        if got[name][0] == 0 or got[name] != want[name]
    ]


def _cold_pass(spark, registry, data_dir) -> tuple[dict, float]:
    """Every query's first run, all at the same time (a cold run spends
    much of its time in one thread, planning and generating code), its
    result collected; returns ({query: pandas frame}, wall seconds)."""
    from goeventstream_spark.operators import clear_shared_caches

    clear_shared_caches()
    t0 = time.perf_counter()
    with ThreadPoolExecutor(max_workers=len(QUERIES)) as pool:
        futures = {n: pool.submit(lambda n: registry[n](spark, data_dir).toPandas(), n)
                   for n in QUERIES}
        results = {n: f.result() for n, f in futures.items()}
    return results, time.perf_counter() - t0


def run(ctx) -> dict:
    spark = ctx.spark
    registry, oracles = _registry()
    data_dir = os.path.join(ctx.work, "tables")
    gen.write_tables(gen.batch_tables(ctx.seed, **TABLE_SIZES), data_dir)

    # Set-up, not timed: the cold pass, whose results the check after
    # timing uses, then a warm-up pass like the timed ones (a query's
    # second run is still up to 1.4x slower than its later ones).
    results, cold_s = _cold_pass(spark, registry, data_dir)
    warm = _run_pass(spark, registry, data_dir, common.Tracer(False), ctx.clock, "warm")
    ready = time.perf_counter()
    ctx.note(f"cold pass {cold_s:.2f}s, warm-up pass {sum(warm.values()):.2f}s; measuring")

    # As many passes as the warm-up pass says fit in the window, rather
    # than filling it: passes still speed up one after another, so runs
    # must time the same number. A traced run alternates untraced and
    # traced passes, so it runs an even number.
    n_passes = max(MIN_PASSES, round(ctx.seconds / sum(warm.values())))
    if ctx.trace:
        n_passes += n_passes % 2
    passes = []  # (traced, {query: seconds})
    cpu_before = common.tree_cpu()
    for i in range(n_passes):
        traced = ctx.trace and i % 2 == 1
        tracer = ctx.tracer if traced else common.Tracer(False)
        times = _run_pass(spark, registry, data_dir, tracer, ctx.clock, f"pass{i}")
        passes.append((traced, times))
        ctx.note(f"pass {i}: {sum(times.values()):.2f}s "
                 + " ".join(f"{n}={t:.2f}" for n, t in times.items()))
    cpu_ms = common.cpu_ms_between(cpu_before, common.tree_cpu())
    last_group = f"pass{n_passes - 1}"

    # correctness, outside the timed region
    bad = _check(results, oracles, data_dir)
    ctx.note(f"batch_analytics: {len(QUERIES)} queries checked, mismatched or empty: {bad}")

    plain = [sum(t.values()) for traced, t in passes if not traced]
    # an op is one query: everything the run did while timing, over the
    # queries run
    metrics = {"cpu_ms_per_op": cpu_ms / (len(QUERIES) * n_passes)}
    ctx.note(f"batch_analytics: mean query {1000.0 * statistics.fmean(plain) / len(QUERIES):.0f} ms, "
             f"cpu_ms_per_op {metrics['cpu_ms_per_op']:.0f}")
    layer = {}
    if ctx.trace:
        traced_passes = [t for traced, t in passes if traced]
        traced_s = statistics.fmean([sum(t.values()) for t in traced_passes])
        for name, module in QUERIES.items():
            layer[f"operators.{module}.{name}_s"] = statistics.median(
                [t[name] for t in traced_passes]
            )
        for module in sorted(set(QUERIES.values())):
            layer[f"operators.{module}.stages"] = sum(
                _stage_count(spark, f"{last_group}:{n}")
                for n, m in QUERIES.items() if m == module
            )
        layer["session.first_batch_ms"] = cold_s * 1000.0  # the cold pass
        layer["trace.overhead_pct"] = 100.0 * (
            traced_s / statistics.fmean(plain) - 1.0
        )
    return {
        "ready": ready,
        "metrics": metrics,
        "layer": layer,
        "attempted": len(QUERIES) * len(passes),
        "failed": 0,
        "correct": not bad,
    }
