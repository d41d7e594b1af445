"""The benchmark's workloads.

``vessel_lookups``: set-up builds silver and gold from raw AIS CSV with
the program's own ingest and ``refresh_gold`` (the reference's headline
silver-to-gold batch, measured as ``input_rows_per_s``); the timed region
is one closed-loop client sending track exports, hourly-cell reads and
pair-history reads. ``corpus_prep``: repeated ``prep-corpus`` batches
over generated documents; it touches no AIS layer, so an AIS change must
read "no change" here.

The traced run (``--trace 1``) runs every timed operation twice, spans
off and on, then a staged pass that calls each operator of the lazy
plans directly, forced by a no-op write, to give per-operator self times.
"""

from __future__ import annotations

import itertools
import os
import shutil
import sys
import time
import traceback
from dataclasses import dataclass

import numpy as np

import gen
from harness import Env, Result, data_files, measure, tree_bytes
from stats import describe, median
from tracing import EventLog

LOOKUP_ROWS = 30_000
CORPUS_DOCS = 2_000
WARMUP_DOCS = 200
TOKENS_PER_SHARD = 20_000
SPLITS = {"train": 90, "val": 5, "test": 5}
#: One cycle of the lookup mix: 40% track exports, 30% hourly reads,
#: 30% pair-history reads. A fixed cycle keeps the mix identical across
#: seeds, so only cohorts and windows vary.
MIX = ("tracks", "hours", "pairs", "tracks", "hours", "tracks", "pairs", "hours", "pairs", "tracks")
ZIPF_S = 1.1
#: Cohort sizes (1-20 vessels) and window lengths (1 h - 1 day) cycle
#: through fixed lists, so every seed asks for the same amount of work and
#: only which vessels, days and hours vary.
COHORTS = (1, 12, 4, 20, 7, 2, 16, 9, 5, 14, 3)
WINDOWS = (24, 1, 6, 12, 3, 18, 2, 8, 24, 4, 10, 16, 1)

END_TO_END = {
    "setup_s": "s",
    "input_rows_per_s": "rows/s",
    "input_rows_per_cpu_s": "rows/cpu_s",
    "stored_bytes_per_input_byte": "bytes/byte",
    "request_ms_mix_p50": "ms",
    "request_cpu_ms": "ms",
}

#: Per-layer metric -> unit. A layer a workload never calls reports 0.
PER_LAYER = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "session.peak_rss_mb": "MiB",
    "ingest.self_s": "s",
    "ingest.cpu_s": "s",
    "ingest.raw_scan_passes": "count",
    "ingest.kept_row_share": "share",
    "ingest.silver_bytes_per_input_byte": "bytes/byte",
    "ingest.silver_files": "count",
    "rollup.self_s": "s",
    "rollup.rows_in_per_row_out": "rows/row",
    "pairs.self_s": "s",
    "pairs.shuffle_bytes": "bytes",
    "pairs.pair_days": "count",
    "pairs.trimmed_cell_windows": "count",
    "checks.self_s": "s",
    "refresh.self_s": "s",
    "refresh.jobs": "count",
    "refresh.silver_scans": "count",
    "refresh.spill_bytes": "bytes",
    "refresh.gold_bytes_per_input_byte": "bytes/byte",
    "refresh.gold_files": "count",
    "refresh.staged_gap_s": "s",
    "tracks.plan_ms": "ms",
    "tracks.files_read_per_request": "count",
    "tracks.bytes_read_per_row_returned": "bytes/row",
    "tracks.jobs_per_request": "count",
    "gold_read.plan_ms": "ms",
    "gold_read.files_read_per_request": "count",
    "gold_read.bytes_read_per_row_returned": "bytes/row",
    "gold_read.jobs_per_request": "count",
    "export_tracks_ms_p50": "ms",
    "vessel_hours_ms_p50": "ms",
    "vessel_pairs_ms_p50": "ms",
    "text.clean_self_s": "s",
    "text.scrub_self_s": "s",
    "text.filter_self_s": "s",
    "text.kept_doc_share": "share",
    "dedup.self_s": "s",
    "dedup.duplicate_share": "share",
    "shard.self_s": "s",
    "shard.fill_ratio": "share",
    "prep.staged_gap_s": "s",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.shuffle_write_bytes": "bytes",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.busy_share": "share",
    "spark.task_retries": "count",
    "failed_op_share": "share",
    "trace.overhead_share": "share",
}

UNITS = {**END_TO_END, **PER_LAYER}


def _noop(df) -> None:
    """Force a plan without keeping its output."""
    df.write.format("noop").mode("overwrite").save()


def _guard(res: Result, what: str, fn, *args):
    """Run one operation; an exception counts it as failed."""
    try:
        return fn(*args)
    except Exception:  # noqa: BLE001 -- a failed operation is a result, not a crash
        traceback.print_exc(file=sys.stderr)
        res.op(False, f"{what} raised")
        return None


def _duck(env: Env):
    import duckdb

    con = duckdb.connect(config={"threads": 2, "memory_limit": "1GB"})
    con.execute(f"SET temp_directory='{env.path('duckdb')}'")
    return con


def _load_oracle(con, silver_root: str, gold_root: str) -> None:
    """Read the built tables into DuckDB once; every request's oracle
    query then runs in memory over the same rows."""
    con.execute(
        f"""CREATE TABLE silver AS SELECT mmsi, event_ts, lat, lon
            FROM read_parquet('{silver_root}/**/*.parquet', hive_partitioning = true, union_by_name = true)"""
    )
    con.execute(
        f"""CREATE TABLE hourly AS SELECT mmsi, hour_ts, h3_index, message_count, avg_lat, avg_lon, dt, hour_part
            FROM read_parquet('{gold_root}/uid_hourly_h3/**/*.parquet', hive_partitioning = true)"""
    )
    con.execute(f"CREATE TABLE pairs_total AS SELECT * FROM read_parquet('{gold_root}/pairs_total/*.parquet')")


def _silver_cols(silver):
    """Column resolution exactly as the package CLI's ``refresh``."""
    from knot_another_pipeline_spark.schema import (
        ID_ALIASES,
        LAT_ALIASES,
        LON_ALIASES,
        SOG_ALIASES,
        TIMESTAMP_ALIASES,
        resolve_column,
    )

    return {
        "uid_col": resolve_column(silver, *ID_ALIASES) or "mmsi",
        "ts_col": resolve_column(silver, "event_ts", *TIMESTAMP_ALIASES) or "event_ts",
        "lat_col": resolve_column(silver, *LAT_ALIASES) or "latitude",
        "lon_col": resolve_column(silver, *LON_ALIASES) or "longitude",
        "sog_col": resolve_column(silver, *SOG_ALIASES) or "sog",
    }


# ---------------------------------------------------------------- lookups


def build_tables(env: Env, raw_dir: str, silver_root: str, gold_root: str):
    """The package CLI's ``ingest`` then ``refresh``: raw CSV -> silver ->
    gold with checks on. Returns the reconciliation rows."""
    from knot_another_pipeline_spark.plans.gold_refresh import refresh_gold
    from knot_another_pipeline_spark.sources.ingest import (
        read_csv_auto,
        read_silver,
        to_silver,
        write_silver,
    )

    spark, tr = env.spark, env.tracer
    with tr.span("ingest"):
        write_silver(to_silver(read_csv_auto(spark, raw_dir)), silver_root)
    with tr.span("refresh"):
        silver = read_silver(spark, silver_root)
        result = refresh_gold(spark, silver, output_root=gold_root, **_silver_cols(silver))
        return result.report.collect()


@dataclass
class Request:
    kind: str
    cohort: list[str]
    day: str
    h0: int
    h1: int


def requests(seed: int, meta: gen.AisMeta):
    """Endless seeded request stream. Vessel popularity is Zipf over
    ranks; the planted co-moving vessels rank first, so pair-history
    reads often find history."""
    rng = np.random.default_rng([seed, 3])
    ranked = [v for pair in meta.planted_pairs for v in pair]
    ranked += [v for v in meta.vessels if v not in set(ranked)]
    w = 1.0 / np.arange(1, len(ranked) + 1) ** ZIPF_S
    w /= w.sum()
    for kind, k, hours in zip(itertools.cycle(MIX), itertools.cycle(COHORTS), itertools.cycle(WINDOWS)):
        cohort = [ranked[i] for i in rng.choice(len(ranked), k, replace=False, p=w).tolist()]
        h0 = int(rng.integers(0, 25 - hours))
        day = f"2025-01-0{int(rng.integers(1, gen.AIS_DAYS + 1))}"
        yield Request(kind, cohort, day, h0, h0 + hours - 1)


def run_request(env: Env, req: Request, silver_root: str, gold_root: str) -> list[tuple]:
    """One client request through the package's public read path."""
    from pyspark.sql import functions as F

    from knot_another_pipeline_spark.operators.tracks import export_tracks
    from knot_another_pipeline_spark.sources.formats import read_table
    from knot_another_pipeline_spark.sources.ingest import read_silver

    spark = env.spark
    if req.kind == "tracks":
        silver = read_silver(spark, silver_root)
        c = _silver_cols(silver)
        out = export_tracks(
            silver,
            uid_col=c["uid_col"],
            ts_col=c["ts_col"],
            lat_col=c["lat_col"],
            lon_col=c["lon_col"],
            uids=req.cohort,
            start=f"{req.day} {req.h0:02d}:00:00",
            stop=f"{req.day} {req.h1:02d}:59:59",
        )
    elif req.kind == "hours":
        out = (
            read_table(spark, f"{gold_root}/uid_hourly_h3")
            .filter(
                (F.col("dt") == F.lit(req.day).cast("date"))
                & F.col("hour_part").between(req.h0, req.h1)
                & F.col("mmsi").isin(req.cohort)
            )
            .select("mmsi", "hour_ts", "h3_index", "message_count", "avg_lat", "avg_lon")
        )
    else:
        out = read_table(spark, f"{gold_root}/pairs_total").filter(
            F.col("uid_a").isin(req.cohort) | F.col("uid_b").isin(req.cohort)
        ).select(
            "uid_a", "uid_b", "total_days_observed", "days_with_gto_above_0_4",
            "max_gto", "min_gto", "avg_gto", "median_gto",
        )
    return [tuple(r) for r in out.collect()]


def oracle(con, req: Request) -> list[tuple]:
    """The same request answered by DuckDB over the same rows."""
    ids = ", ".join(f"'{u}'" for u in req.cohort)
    if req.kind == "tracks":
        sql = f"""
            SELECT mmsi, event_ts, lat, lon FROM silver
            WHERE mmsi IN ({ids})
              AND event_ts BETWEEN TIMESTAMP '{req.day} {req.h0:02d}:00:00'
                               AND TIMESTAMP '{req.day} {req.h1:02d}:59:59'
              AND lat BETWEEN -90 AND 90 AND lon BETWEEN -180 AND 180"""
    elif req.kind == "hours":
        sql = f"""
            SELECT mmsi, hour_ts, h3_index, message_count, avg_lat, avg_lon FROM hourly
            WHERE dt = DATE '{req.day}' AND hour_part BETWEEN {req.h0} AND {req.h1}
              AND mmsi IN ({ids})"""
    else:
        sql = f"""
            SELECT uid_a, uid_b, total_days_observed, days_with_gto_above_0_4,
                   max_gto, min_gto, avg_gto, median_gto FROM pairs_total
            WHERE uid_a IN ({ids}) OR uid_b IN ({ids})"""
    return con.execute(sql).fetchall()


def _same_rows(a: list[tuple], b: list[tuple]) -> bool:
    key = lambda r: tuple("" if v is None else str(v) for v in r)  # noqa: E731
    return sorted(a, key=key) == sorted(b, key=key)


def check_build(res: Result, con, meta: gen.AisMeta, report) -> int:
    """Reconciliation passes, silver and rollup counts match the
    generator, every planted pair reaches ``pairs_total``. Returns the
    silver row count."""
    problems = [f"reconciliation {r['check_name']} failed" for r in report if not r["passed"]]
    silver_rows = con.execute("SELECT count(*) FROM silver").fetchone()[0]
    if silver_rows != meta.valid_rows:
        problems.append(f"silver rows {silver_rows} != generated valid rows {meta.valid_rows}")
    msgs = {r["check_name"]: r["observed"] for r in report}.get("sum_message_count_matches_silver")
    if msgs != meta.gold_rows:
        problems.append(f"hourly message_count sum {msgs} != generated in-range rows {meta.gold_rows}")
    found = set(con.execute("SELECT uid_a, uid_b FROM pairs_total").fetchall())
    missing = [p for p in meta.planted_pairs if tuple(p) not in found]
    if missing:
        problems.append(f"planted pairs missing from pairs_total: {missing}")
    res.op(not problems, "; ".join(problems))
    return silver_rows


def closed_loop(env: Env, seconds: float, items, run_one, min_items: int = 1) -> dict[bool, list]:
    """One client, back to back, until ``seconds`` of operation time and
    at least ``min_items`` items.

    ``run_one(item)`` performs and checks one operation and returns its
    wall seconds and its sample, which is None when it failed. On the
    traced run every item runs twice, spans off and on, in alternating
    order so warm-up trends cancel; the two sample lists give the tracing
    overhead. Returns samples keyed by traced-or-not."""
    runs: dict[bool, list] = {False: [], True: []}
    budget = seconds * (2 if env.trace else 1)
    busy = 0.0
    for i, item in enumerate(items):
        if busy >= budget and i >= min_items:
            break
        modes = ((False, True) if i % 2 == 0 else (True, False)) if env.trace else (False,)
        for traced in modes:
            env.tracer.enabled = traced
            wall_s, sample = run_one(item)
            env.note_rss()
            busy += wall_s
            if sample is not None:
                runs[traced].append(sample)
    env.tracer.enabled = env.trace
    return runs


def lookup_loop(env: Env, res: Result, con, meta, silver_root, gold_root) -> dict[bool, list]:
    """Closed loop over the seeded request stream; each result is checked
    against the DuckDB oracle outside the timed request. A sample is
    (wall_s, cpu_s, kind, rows, span)."""

    def one(req: Request):
        with env.tracer.span("tracks" if req.kind == "tracks" else "gold_read") as sp, measure() as m:
            rows = _guard(res, f"{req.kind} request", run_request, env, req, silver_root, gold_root)
        if rows is None:
            return m.wall_s, None
        want = oracle(con, req)
        ok = res.op(_same_rows(rows, want), f"{req.kind} request {req} differs from oracle")
        return m.wall_s, (m.wall_s, m.cpu_s, req.kind, len(rows), sp) if ok else None

    return closed_loop(env, env.seconds, requests(env.seed, meta), one, min_items=len(MIX))


def vessel_lookups(env: Env) -> Result:
    res = Result(UNITS)
    meta = gen.cached("ais", env.seed, LOOKUP_ROWS, env.cache)
    raw_dir = os.path.dirname(meta.files[0])
    silver_root, gold_root = env.path("silver"), env.path("gold")

    t0 = time.perf_counter()
    env.start_session()
    start_s = time.perf_counter() - t0
    # The build runs on a fresh JVM, as the CLI's ingest and refresh do;
    # a warm-up build was measured to make it no steadier.
    t1 = time.perf_counter()
    env.spark.range(100_000).selectExpr("sum(id)").collect()
    warm_s = time.perf_counter() - t1
    with measure() as build:
        report = _guard(res, "table build", build_tables, env, raw_dir, silver_root, gold_root)
    if report is None:
        return res
    con = _duck(env)
    # untimed warm-up of the read path: one cycle of the mix (request
    # latency still falls over the first few track exports on a new JVM;
    # half a cycle left the request medians half again as spread)
    t2 = time.perf_counter()
    for req in itertools.islice(requests(env.seed + 1, meta), len(MIX)):
        run_request(env, req, silver_root, gold_root)
    warm_s += time.perf_counter() - t2
    setup_s = time.perf_counter() - t0

    _load_oracle(con, silver_root, gold_root)
    silver_rows = check_build(res, con, meta, report)
    env.quiesce()

    runs = lookup_loop(env, res, con, meta, silver_root, gold_root)
    done = runs[env.trace]
    if not done:
        res.op(False, "no request completed")
        return res

    res.put("setup_s", setup_s)
    res.put("input_rows_per_s", meta.raw_rows / build.wall_s)
    res.put("input_rows_per_cpu_s", meta.raw_rows / build.cpu_s)
    stored = tree_bytes(silver_root) + tree_bytes(gold_root)
    res.put("stored_bytes_per_input_byte", stored / meta.raw_bytes)
    res.put("request_ms_mix_p50", 1000 * _mix_median(done, 0))
    res.put("request_cpu_ms", 1000 * _mix_median(done, 1))
    for kind in ("tracks", "hours", "pairs"):
        ms = [1000 * d[0] for d in done if d[2] == kind]
        print(f"perfbench: {kind} requests: {describe(ms, 'ms')}", file=sys.stderr)
    if not env.trace:
        return res

    staged = stage_refresh(env, silver_root)
    overhead = _mean_s(done) / _mean_s(runs[False]) - 1
    env.stop_session()  # flushes the event log
    lookup_trace(env, res, meta, report, silver_rows, done, staged)
    return _finish_trace(res, env, start_s, warm_s, overhead)


def _mean_s(samples) -> float:
    return float(np.mean([d[0] for d in samples]))


def _mix_median(samples, field: int) -> float:
    """Per-kind medians of ``sample[field]`` weighted by the kinds'
    shares of the mix: the typical cost of a mix request. A plain median
    of the mix is ill-conditioned (its kinds differ tenfold in cost) and
    a mean follows single JIT and GC pauses."""
    total = 0.0
    for kind in set(MIX):
        vals = [d[field] for d in samples if d[2] == kind]
        total += MIX.count(kind) / len(MIX) * median(vals)
    return total


def stage_refresh(env: Env, silver_root: str) -> dict[str, int]:
    """``refresh_gold`` is one lazy plan per output; call its operators one
    at a time, each forced by a no-op write over the previous stage's
    materialized output, so each span holds one operator's own work."""
    from pyspark.sql import functions as F

    from knot_another_pipeline_spark.functions.geo import valid_coords
    from knot_another_pipeline_spark.functions.timestamps import normalize_timestamp
    from knot_another_pipeline_spark.operators.pairs import (
        co_movement_pairs,
        oversize_cell_windows,
        pairs_total,
    )
    from knot_another_pipeline_spark.operators.quality import reconciliation_report
    from knot_another_pipeline_spark.operators.rollup import build_uid_hourly_h3
    from knot_another_pipeline_spark.sources.ingest import read_silver

    spark, tr = env.spark, env.tracer
    silver = read_silver(spark, silver_root)
    c = _silver_cols(silver)
    cap = 10_000  # refresh_gold's default mega-cell cap

    with tr.span("stage.rollup"):
        hourly = build_uid_hourly_h3(silver, **c)
        _noop(hourly)
    hourly.write.parquet(env.path("staged", "hourly"))
    hourly = spark.read.parquet(env.path("staged", "hourly"))
    with tr.span("stage.pairs"):
        pairs = co_movement_pairs(
            hourly.select(
                F.col("mmsi").alias("uid"),
                F.col("hour_ts").alias("window_ts"),
                F.col("h3_index").alias("cell"),
            ),
            max_entities_per_cell=cap,
        )
        _noop(pairs)
    pairs.write.parquet(env.path("staged", "pairs"))
    pairs = spark.read.parquet(env.path("staged", "pairs"))
    with tr.span("stage.pairs_total"):
        _noop(pairs_total(pairs))
    with tr.span("stage.checks"):
        kept = silver.filter(
            F.col(c["uid_col"]).isNotNull()
            & normalize_timestamp(c["ts_col"]).isNotNull()
            & valid_coords(F.col(c["lat_col"]).cast("double"), F.col(c["lon_col"]).cast("double"))
        ).count()
        trimmed = oversize_cell_windows(
            hourly.select(
                F.to_date("hour_ts").alias("day_date"),
                F.col("hour_ts").alias("w"),
                F.col("h3_index").alias("cell"),
            ),
            cap,
        ).count()
        reconciliation_report(
            spark, silver_filtered_count=kept, hourly=hourly, pairs=pairs, trimmed_cell_windows=trimmed
        ).collect()
    return {"hourly_rows": hourly.count(), "pair_days": pairs.count()}


def _put_spark(res: Result, log: EventLog, groups: set[str], wall_s: float, cores: int) -> None:
    c = log.counters(groups)
    res.put("spark.jobs", c.jobs)
    res.put("spark.tasks", c.tasks)
    res.put("spark.shuffle_write_bytes", c.shuffle_write)
    res.put("spark.executor_cpu_s", c.cpu_ns / 1e9)
    res.put("spark.gc_s", c.gc_ms / 1000)
    res.put("spark.busy_share", c.run_ms / 1000 / (wall_s * cores))
    res.put("spark.task_retries", c.retries + c.failed_tasks)


def _finish_trace(res: Result, env: Env, start_s: float, warm_s: float, overhead: float) -> Result:
    """Keep only per-layer metrics; a layer this workload never called
    reads 0."""
    res.metrics = {k: v for k, v in res.metrics.items() if k in PER_LAYER}
    for name in PER_LAYER:
        res.metrics.setdefault(name, 0.0)
    res.put("session.start_s", start_s)
    res.put("session.warmup_s", warm_s)
    res.put("session.peak_rss_mb", env.peak_rss_mb)
    res.put("failed_op_share", res.failed / max(1, res.attempted))
    res.put("trace.overhead_share", overhead)
    return res


def _request_layer(res, log, prefix, done):
    if not done:
        return
    plan, files, jobs, in_bytes, rows = [], 0, 0, 0, 0
    for _, _, _, n, sp in done:
        c = log.counters({sp.id})
        if c.first_submit_ms is not None:
            plan.append(c.first_submit_ms - 1000 * sp.start)
        files += log.scans({sp.id})[1]
        jobs += c.jobs
        in_bytes += c.input_bytes
        rows += n
    res.put(f"{prefix}.plan_ms", median(plan) if plan else 0.0)
    res.put(f"{prefix}.files_read_per_request", files / len(done))
    res.put(f"{prefix}.bytes_read_per_row_returned", in_bytes / max(1, rows))
    res.put(f"{prefix}.jobs_per_request", jobs / len(done))


def lookup_trace(env, res, meta, report, silver_rows, done, staged) -> None:
    tr = env.tracer
    log = EventLog.read(env.path("eventlog"))
    silver_root, gold_root = env.path("silver"), env.path("gold")

    ingest = tr.named("ingest")[0]
    refresh = tr.named("refresh")[0]
    stage = {n: tr.named(f"stage.{n}")[0] for n in ("rollup", "pairs", "pairs_total", "checks")}
    res.put("ingest.self_s", tr.self_seconds(ingest))
    res.put("ingest.cpu_s", ingest.cpu_s)
    res.put(
        "ingest.raw_scan_passes",
        sum(1 for j in log.jobs_of({ingest.id}) if log.job_input_bytes(j) > 0),
    )
    res.put("ingest.kept_row_share", silver_rows / meta.raw_rows)
    res.op(silver_rows / meta.raw_rows == meta.valid_share, "ingest kept share != planted valid share")
    res.put("ingest.silver_bytes_per_input_byte", tree_bytes(silver_root) / meta.raw_bytes)
    res.put("ingest.silver_files", data_files(silver_root))

    res.put("rollup.self_s", stage["rollup"].seconds)
    res.put("rollup.rows_in_per_row_out", meta.gold_rows / staged["hourly_rows"])
    res.put("pairs.self_s", stage["pairs"].seconds + stage["pairs_total"].seconds)
    res.put(
        "pairs.shuffle_bytes",
        log.counters({stage["pairs"].id, stage["pairs_total"].id}).shuffle_write,
    )
    res.put("pairs.pair_days", staged["pair_days"])
    trimmed = {r["check_name"]: r["observed"] for r in report}.get("mega_cell_windows_trimmed", 0)
    res.put("pairs.trimmed_cell_windows", trimmed)
    res.put("checks.self_s", stage["checks"].seconds)

    ref = log.counters({refresh.id})
    staged_sum = sum(s.seconds for s in stage.values())
    res.put("refresh.self_s", tr.self_seconds(refresh))
    res.put("refresh.jobs", ref.jobs)
    res.put("refresh.silver_scans", log.scans({refresh.id}, location=silver_root)[0])
    res.put("refresh.spill_bytes", ref.spill_disk)
    res.put("refresh.gold_bytes_per_input_byte", tree_bytes(gold_root) / meta.raw_bytes)
    res.put("refresh.gold_files", data_files(gold_root))
    res.put("refresh.staged_gap_s", tr.self_seconds(refresh) - staged_sum)

    _request_layer(res, log, "tracks", [d for d in done if d[2] == "tracks"])
    _request_layer(res, log, "gold_read", [d for d in done if d[2] != "tracks"])
    for kind, name in (("tracks", "export_tracks_ms_p50"), ("hours", "vessel_hours_ms_p50"), ("pairs", "vessel_pairs_ms_p50")):
        walls = [d[0] for d in done if d[2] == kind]
        if walls:
            res.put(name, 1000 * median(walls))

    measured = [ingest, refresh] + [d[4] for d in done]
    _put_spark(res, log, {s.id for s in measured}, sum(s.seconds for s in measured), env.cores)


# ----------------------------------------------------------------- corpus


def prep_corpus(env: Env, docs_path: str, out_dir: str) -> int:
    """The package CLI's ``prep-corpus`` chain with its defaults:
    clean_lines -> scrub_pii -> quality_filter -> exact_dedup ->
    split_by_hash -> assign_shards -> partitioned parquet. Returns the
    read-back document count, as the CLI prints it."""
    from pyspark.sql import functions as F

    from knot_another_pipeline_spark.operators.dedup import exact_dedup
    from knot_another_pipeline_spark.operators.sampling import assign_shards, split_by_hash
    from knot_another_pipeline_spark.operators.text_analysis import clean_lines, quality_filter, scrub_pii
    from knot_another_pipeline_spark.sources.ingest import read_jsonl, to_documents

    spark = env.spark
    docs = to_documents(read_jsonl(spark, docs_path))
    cleaned = clean_lines(docs, id_col="doc_id", text_col="text", min_words=3).select("id", "text")
    docs = scrub_pii(cleaned, id_col="id", text_col="text").select(F.col("id").alias("doc_id"), "text")
    verdict = quality_filter(docs, id_col="doc_id", text_col="text", min_tokens=50)
    kept_tok = verdict.filter(F.col("keep")).select("id", "n_tokens")
    kept = docs.join(kept_tok.select(F.col("id").alias("doc_id")), "doc_id", "left_semi")
    reps = (
        exact_dedup(kept, id_col="doc_id", text_col="text")
        .filter(F.col("representative"))
        .select(F.col("id").alias("doc_id"))
    )
    final = kept.join(reps, "doc_id", "left_semi").join(
        kept_tok.select(F.col("id").alias("doc_id"), "n_tokens"), "doc_id"
    )
    final = split_by_hash(final, id_col="doc_id", weights=SPLITS)
    shards = assign_shards(
        final.select(F.col("doc_id").alias("id"), "n_tokens", "split"),
        id_col="id",
        token_col="n_tokens",
        tokens_per_shard=TOKENS_PER_SHARD,
        group_col="split",
    ).select(F.col("id").alias("doc_id"), "shard")
    final = final.join(shards, "doc_id")
    final.write.mode("overwrite").partitionBy("split").parquet(out_dir)
    return spark.read.schema(final.schema).parquet(out_dir).count()


#: Deliberately independent of the package's own PII patterns.
_RAW_PII = (
    r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    r"\d{3}[-. ]\d{3}[-. ]\d{4}",
    r"\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}",
)


def check_corpus(con, meta: gen.DocMeta, out_dir: str, n: int) -> list[str]:
    """No raw PII, unique texts, the planted document count, split
    shares within 5 standard errors, and every shard under its token cap
    (a shard's docs start inside its token range, so all but its largest
    doc fit below the cap)."""
    t = f"read_parquet('{out_dir}/**/*.parquet', hive_partitioning = true)"
    problems = []
    if n != meta.final_docs:
        problems.append(f"{n} docs written, planted {meta.final_docs}")
    pii = " OR ".join(f"regexp_matches(text, '{p}')" for p in _RAW_PII)
    leaks = con.execute(f"SELECT count(*) FROM {t} WHERE {pii}").fetchone()[0]
    if leaks:
        problems.append(f"{leaks} docs keep raw PII")
    rows, distinct = con.execute(f"SELECT count(*), count(DISTINCT text) FROM {t}").fetchone()
    if rows != distinct:
        problems.append(f"{rows - distinct} duplicate texts kept")
    for split, got in con.execute(f"SELECT split, count(*) FROM {t} GROUP BY split").fetchall():
        p = SPLITS[split] / 100
        if abs(got / rows - p) > 5 * (p * (1 - p) / rows) ** 0.5:
            problems.append(f"split {split} share {got / rows:.3f}, want {p}")
    over = con.execute(
        f"""SELECT count(*) FROM (
              SELECT split, shard, sum(n_tokens) - max(n_tokens) AS body
              FROM {t} GROUP BY split, shard) WHERE body >= {TOKENS_PER_SHARD}"""
    ).fetchone()[0]
    if over:
        problems.append(f"{over} shards over the token cap")
    return problems


def corpus_loop(env: Env, res: Result, con, meta, out_dir: str) -> dict[bool, list]:
    """Back-to-back batches; the output cleanup, GC and check between
    batches are untimed. A sample is (wall_s, cpu_s, span)."""

    def one(_):
        shutil.rmtree(out_dir, ignore_errors=True)
        env.quiesce()
        with env.tracer.span("prep") as sp, measure() as m:
            n = _guard(res, "prep-corpus batch", prep_corpus, env, meta.files[0], out_dir)
        if n is None:
            return m.wall_s, None
        problems = check_corpus(con, meta, out_dir, n)
        ok = res.op(not problems, "; ".join(problems))
        return m.wall_s, (m.wall_s, m.cpu_s, sp) if ok else None

    # two batches at least, so the median is not one batch's
    return closed_loop(env, env.seconds, itertools.repeat(None), one, min_items=2)


def corpus_prep(env: Env) -> Result:
    res = Result(UNITS)
    meta = gen.cached("docs", env.seed, CORPUS_DOCS, env.cache)
    warm_meta = gen.cached("docs", env.seed, WARMUP_DOCS, env.cache)
    out_dir = env.path("corpus")

    t0 = time.perf_counter()
    env.start_session()
    start_s = time.perf_counter() - t0
    # untimed warm-up: one small batch runs every plan of the chain once
    t1 = time.perf_counter()
    prep_corpus(env, warm_meta.files[0], env.path("warmup"))
    warm_s = time.perf_counter() - t1
    setup_s = time.perf_counter() - t0
    con = _duck(env)

    runs = corpus_loop(env, res, con, meta, out_dir)
    done = runs[env.trace]
    if not done:
        res.op(False, "no batch completed")
        return res

    walls = [d[0] for d in done]
    print(f"perfbench: prep-corpus batches: {describe([1000 * w for w in walls], 'ms')}", file=sys.stderr)
    res.put("setup_s", setup_s)
    res.put("input_rows_per_s", meta.docs / median(walls))
    res.put("input_rows_per_cpu_s", meta.docs / median([d[1] for d in done]))
    res.put("stored_bytes_per_input_byte", tree_bytes(out_dir) / meta.raw_bytes)
    res.put("request_ms_mix_p50", 1000 * median(walls))
    res.put("request_cpu_ms", 1000 * median([d[1] for d in done]))
    if not env.trace:
        return res

    overhead = _mean_s(done) / _mean_s(runs[False]) - 1
    staged = stage_corpus(env, meta.files[0])
    fill = shard_fill(con, out_dir)
    env.stop_session()
    corpus_trace(env, res, meta, done, staged, fill)
    return _finish_trace(res, env, start_s, warm_s, overhead)


def stage_corpus(env: Env, docs_path: str) -> dict[str, int]:
    """The prep chain one operator at a time, each over the previous
    stage's materialized output and forced by a no-op write."""
    from pyspark.sql import functions as F

    from knot_another_pipeline_spark.operators.dedup import exact_dedup
    from knot_another_pipeline_spark.operators.sampling import assign_shards, split_by_hash
    from knot_another_pipeline_spark.operators.text_analysis import clean_lines, quality_filter, scrub_pii
    from knot_another_pipeline_spark.sources.ingest import read_jsonl, to_documents

    spark, tr = env.spark, env.tracer

    def keep(df, name):
        path = env.path("staged", name)
        df.write.parquet(path)
        return spark.read.parquet(path)

    docs = keep(to_documents(read_jsonl(spark, docs_path)), "docs")
    with tr.span("stage.clean"):
        cleaned = clean_lines(docs, id_col="doc_id", text_col="text", min_words=3).select("id", "text")
        _noop(cleaned)
    cleaned = keep(cleaned, "cleaned")
    with tr.span("stage.scrub"):
        scrubbed = scrub_pii(cleaned, id_col="id", text_col="text").select(F.col("id").alias("doc_id"), "text")
        _noop(scrubbed)
    scrubbed = keep(scrubbed, "scrubbed")
    with tr.span("stage.filter"):
        verdict = quality_filter(scrubbed, id_col="doc_id", text_col="text", min_tokens=50)
        _noop(verdict)
    verdict = keep(verdict, "verdict")
    kept_tok = verdict.filter(F.col("keep")).select(F.col("id").alias("doc_id"), "n_tokens")
    kept = keep(scrubbed.join(kept_tok, "doc_id"), "kept")
    with tr.span("stage.dedup"):
        reps = exact_dedup(kept, id_col="doc_id", text_col="text").filter(F.col("representative"))
        _noop(reps)
    reps = keep(reps.select(F.col("id").alias("doc_id")), "reps")
    final = keep(kept.join(reps, "doc_id", "left_semi"), "final")
    with tr.span("stage.shard"):
        split = split_by_hash(final, id_col="doc_id", weights=SPLITS)
        _noop(
            assign_shards(
                split.select(F.col("doc_id").alias("id"), "n_tokens", "split"),
                id_col="id",
                token_col="n_tokens",
                tokens_per_shard=TOKENS_PER_SHARD,
                group_col="split",
            )
        )
    return {"docs": docs.count(), "kept": kept.count(), "reps": reps.count()}


def shard_fill(con, out_dir: str) -> float:
    """Tokens written over the capacity of the shards written."""
    tokens, shards = con.execute(
        f"""SELECT sum(n_tokens), count(DISTINCT (split, shard))
            FROM read_parquet('{out_dir}/**/*.parquet', hive_partitioning = true)"""
    ).fetchone()
    return tokens / (shards * TOKENS_PER_SHARD)


def corpus_trace(env, res, meta, done, staged, fill) -> None:
    tr = env.tracer
    log = EventLog.read(env.path("eventlog"))
    stage = {n: tr.named(f"stage.{n}")[0] for n in ("clean", "scrub", "filter", "dedup", "shard")}
    res.put("text.clean_self_s", stage["clean"].seconds)
    res.put("text.scrub_self_s", stage["scrub"].seconds)
    res.put("text.filter_self_s", stage["filter"].seconds)
    kept_share = staged["kept"] / staged["docs"]
    res.put("text.kept_doc_share", kept_share)
    res.op(staged["kept"] == meta.quality_pass, f"kept {staged['kept']} docs, planted {meta.quality_pass}")
    res.put("dedup.self_s", stage["dedup"].seconds)
    res.put("dedup.duplicate_share", 1 - staged["reps"] / staged["kept"])
    res.put("shard.self_s", stage["shard"].seconds)
    res.put("shard.fill_ratio", fill)
    batch_self = median([tr.self_seconds(d[2]) for d in done])
    res.put("prep.staged_gap_s", batch_self - sum(s.seconds for s in stage.values()))
    spans = [d[2] for d in done]
    _put_spark(res, log, {s.id for s in spans}, sum(s.seconds for s in spans), env.cores)


RUN = {"vessel_lookups": vessel_lookups, "corpus_prep": corpus_prep}
