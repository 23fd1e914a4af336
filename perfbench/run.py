#!/usr/bin/env python3
"""Benchmark of the spark-graft engine, driven from outside the package.

Run from the root of a checkout::

    python3 perfbench/run.py --workload curate --seed 1 --seconds 3 --trace 0

One Python process times calls into the public functions of ``session``,
``queries`` (``CATALOG[name].fn``), ``operators``, ``layers``, ``pipeline``,
``sources.rest`` and ``streaming`` on ``local[$SPARK_GRAFT_CPUS]`` (default:
the cores this process may use). The last line of stdout is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``. The
full result, with the host stamp, goes to ``.perfbench/results/``.

Other subcommands::

    python3 perfbench/run.py record            # oracle-check ops, write digests.json
    python3 perfbench/run.py compare --base A.json... --head B.json...
    python3 perfbench/run.py report            # write perfbench/LAYERS.json
    python3 perfbench/run.py spread            # 10 seeds a workload -> SPREAD.json

See ``perfbench/README.md`` for the metrics and the workloads.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import platform
import re
import shutil
import subprocess
import sys
import time
import traceback
from dataclasses import dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "inbev_data_engineering_case_spark"
WORK = os.path.join(ROOT, ".perfbench")
DIGESTS = os.path.join(HERE, "digests.json")

# q_curate_halo reaches all five traced operators; q_dedup_minhash is the
# loop-free control. A run pays a JVM start and a 13-31 s cold pass before
# its warm pass on a 4-core host, so the op lists are cut to what the
# benchmark's whole time budget holds: q_contamination_halo, q_ann_ivf_pq
# and q_bow_multiclass are oracle-checked and recorded in digests.json but
# not run, and `star` runs in the layer report but is not a BENCHMARK.json
# workload.
CURATE_OPS = ["q_curate_halo", "q_dedup_minhash"]
STAR_OPS = [
    "q_gold_agg", "q_agg_pricing", "q_join_star", "q_join_orders",
    "q_window_events", "q_pit_join", "q_heavy_hitters", "q_bloom_join",
    "q_bm25_search",
]
RECORDED_ONLY = ["q_contamination_halo", "q_ann_ivf_pq", "q_bow_multiclass"]
WORKLOADS = {"curate": CURATE_OPS, "star": STAR_OPS, "medallion": None}
MEDALLION_OPS = ["ingest", "silver", "gold", "drain"]
# records served to `medallion`; at 200k a run took 79-89 s on a 4-core
# host in a slow phase, past what the whole benchmark's time budget holds
BREWERY_ROWS = 50_000
# (module, function, span name) wrapped in spans by the traced run
TRACED_ENTRY_POINTS = [
    ("operators.dedup", "minhash_dedup_pairs", "operators.dedup.minhash_dedup_pairs"),
    ("operators.dedup", "dedup_components", "operators.dedup.dedup_components"),
    ("operators.graph", "multi_source_bfs", "operators.graph.multi_source_bfs"),
    ("operators.curate", "curate_corpus", "operators.curate.curate_corpus"),
    ("operators.textops", "score_documents", "operators.textops.score_documents"),
    ("pipeline", "run_ingest", "sources.rest.ingest"),
    ("pipeline", "run_silver", "pipeline.silver"),
    ("pipeline", "run_gold", "pipeline.gold"),
    ("layers", "write_layer", "layers.write_layer"),
]
# the metrics, their units and the run length, as BENCHMARK.json declares
with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    CONTRACT = json.load(_fh)
END_TO_END = {m["name"]: m["unit"] for m in CONTRACT["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in CONTRACT["per_layer"]}
MAX_WARM_PASSES = 50


# ------------------------------------------------------------- process env

def _process_age_s() -> float:
    """Seconds since this process started (kernel clock)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def _require_package() -> None:
    if not os.path.isfile(os.path.join(ROOT, PKG, "__init__.py")):
        sys.exit(f"perfbench: no {PKG}/ beside perfbench/ in {ROOT}; "
                 "run from the root of a full checkout")


def _prepare_env(run_dir: str) -> dict[str, str]:
    """Keep every file the engine writes inside ``run_dir`` and pin the core
    count; returns the Spark conf the session is built with."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    import tempfile

    tempfile.tempdir = None
    return {
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
    }


def _vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _stop_spark(spark) -> None:
    """Stop the session and wait for the gateway JVM to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        with contextlib.suppress(OSError):
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _host_stamp(spark, sf: float, seed: int) -> dict:
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "sf": sf,
        "seed": seed,
        "spark": spark.version,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
    }


# ------------------------------------------------------------------ inputs

def _make_inputs(run_dir: str, seed: int) -> dict:
    """Write this seed's inputs in a child process, so the data generator's
    memory stays out of the measured peak RSS."""
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "fixtures.py"), WORK, str(seed),
         os.path.join(run_dir, "inputs")],
        check=True, capture_output=True, text=True, cwd=ROOT,
    ).stdout
    return json.loads(out.strip().splitlines()[-1])


def _load_digests() -> dict:
    with open(DIGESTS) as fh:
        return json.load(fh)


# ------------------------------------------------------------------ passes

@dataclass
class Pass:
    ops: dict[str, float] = field(default_factory=dict)   # op -> wall s
    failed: list[str] = field(default_factory=list)
    attempted: int = 0
    lake: dict | None = None                              # what it wrote

    @property
    def wall(self) -> float:
        return sum(self.ops.values())


def query_pass(spark, ops, sf_dir, digests, span) -> Pass:
    """Build and run each op, collect its rows and check them against the
    recorded digest. Only building and running is timed."""
    from inbev_data_engineering_case_spark.queries import CATALOG
    from inbev_data_engineering_case_spark.testing import table_hash

    p = Pass(attempted=len(ops))
    for name in ops:
        try:
            t0 = time.perf_counter()
            with span(f"queries.{name}"):
                with span(f"queries.{name}.build"):
                    df = CATALOG[name].fn(spark, sf_dir)
                with span(f"queries.{name}.exec"):
                    rows = df.collect()
            p.ops[name] = time.perf_counter() - t0
        except Exception:
            traceback.print_exc()
            p.failed.append(name)
            continue
        got = list(table_hash(df.columns, [tuple(r) for r in rows]))
        if got != digests.get(name):
            print(f"perfbench: {name} output {got} != recorded "
                  f"{digests.get(name)}", file=sys.stderr)
            p.failed.append(name)
    return p


def _tree_stats(path: str) -> dict:
    files = nbytes = 0
    leaves = set()
    for d, _, fs in os.walk(path):
        for f in fs:
            if not f.startswith((".", "_")):
                files += 1
                nbytes += os.path.getsize(os.path.join(d, f))
                leaves.add(d)
    return {"files": files, "bytes": nbytes, "partitions": len(leaves)}


def check_lake(res, stream_out: str, total: int, events: int) -> list[str]:
    """The reference's medallion invariants on the files written: bronze
    rows = silver rows, sum(brewery_count) = silver rows, a Hive
    country=/state= layout, gold = a DuckDB group-count over silver; and
    every landed event drained exactly once. Returns "<op>: <what>" per
    failed check."""
    import duckdb

    bad = []
    con = duckdb.connect()
    q = lambda sql: con.execute(sql).fetchall()  # noqa: E731
    bronze = q(f"SELECT count(*) FROM read_csv('{res.bronze_path}/*.csv', "
               "header=true, all_varchar=true)")[0][0]
    silver_t = f"read_parquet('{res.silver_path}/**/*.parquet', hive_partitioning=true)"
    gold_t = f"read_parquet('{res.gold_path}/**/*.parquet', hive_partitioning=true)"
    silver = q(f"SELECT count(*) FROM {silver_t}")[0][0]
    if not bronze == silver == total:
        bad.append(f"silver: bronze rows {bronze}, silver rows {silver}, served {total}")
    keys = "brewery_type, country::VARCHAR, state::VARCHAR"
    gold = sorted(q(f"SELECT {keys}, brewery_count FROM {gold_t}"))
    want = sorted(q(f"SELECT {keys}, count(*) FROM {silver_t} GROUP BY ALL"))
    if gold != want or sum(r[3] for r in gold) != silver:
        bad.append(f"gold: {len(gold)} groups vs {len(want)} from silver, "
                   f"sum {sum(r[3] for r in gold)} vs {silver} rows")
    for op, root, pattern in (("silver", res.silver_path, r"country=[^/]+/state=[^/]+"),
                              ("gold", res.gold_path, r"country=[^/]+")):
        for d, _, fs in os.walk(root):
            rel = os.path.relpath(d, root)
            if any(f.endswith(".parquet") for f in fs) and not re.fullmatch(pattern, rel):
                bad.append(f"{op}: data files in {rel}, not a {pattern} partition")
                break
    landed = q(f"SELECT count(*), count(DISTINCT event_id) FROM "
               f"read_parquet('{stream_out}/**/*.parquet', hive_partitioning=true)")[0]
    if landed != (events, events):
        bad.append(f"drain: (rows, ids) landed {landed}, {events} events")
    return bad


def medallion_pass(spark, i, seed, inputs, span) -> Pass:
    """One run of the medallion pipeline over freshly served pages, then
    the events landing drained through the idempotent parquet sink."""
    from pyspark.sql import functions as F

    from inbev_data_engineering_case_spark.pipeline import run_pipeline
    from inbev_data_engineering_case_spark.schemas import BREWERY_BRONZE
    from inbev_data_engineering_case_spark.sources.rest import PagedRestSource
    from inbev_data_engineering_case_spark.streaming import events
    from perfbench.fixtures import PER_PAGE, BreweryPages

    pages = BreweryPages(seed, BREWERY_ROWS)
    source = PagedRestSource(pages, BREWERY_BRONZE, pages.n_pages, PER_PAGE,
                             expected_total=BREWERY_ROWS)
    lake = os.path.join(inputs["run"], f"lake_{i}")
    stream_out = os.path.join(lake, "events")
    p = Pass(attempted=len(MEDALLION_OPS))
    try:
        with span("pipeline.run_pipeline"):
            res = run_pipeline(spark, lake, f"2024-01-01-00-{i % 60:02d}", source)
        t0 = time.perf_counter()
        with span("streaming.drain"):
            stream = (spark.readStream.schema(inputs["events_schema"])
                      .option("maxFilesPerTrigger", 1).parquet(inputs["landing"])
                      .withColumn("ts", F.col("ts").cast("timestamp")))
            events.run_stream_to_parquet_idempotent(
                stream, stream_out, os.path.join(lake, "_chk"))
        drain = time.perf_counter() - t0
    except Exception:
        traceback.print_exc()
        p.failed = list(MEDALLION_OPS)
        shutil.rmtree(lake, ignore_errors=True)
        return p
    m = res.metrics
    p.ops = {"ingest": m["ingest_sec"], "silver": m["silver_sec"],
             "gold": m["gold_sec"], "drain": drain}
    for msg in check_lake(res, stream_out, BREWERY_ROWS, inputs["events"]):
        print(f"perfbench: medallion {msg}", file=sys.stderr)
        p.failed.append(msg.split(":")[0])
    t = {k: _tree_stats(v) for k, v in (
        ("bronze", res.bronze_path), ("silver", res.silver_path),
        ("gold", res.gold_path), ("events", stream_out))}
    p.lake = {
        "layers.files_written": sum(s["files"] for s in t.values()),
        "layers.bytes_written": sum(s["bytes"] for s in t.values()),
        "layers.partitions_written": t["silver"]["partitions"] + t["gold"]["partitions"],
        "layers.lake_bytes_ratio":
            (t["silver"]["bytes"] + t["gold"]["bytes"]) / t["bronze"]["bytes"],
        "streaming.batches": sum(1 for d in os.listdir(stream_out)
                                 if d.startswith("batch_id=")),
    }
    shutil.rmtree(lake, ignore_errors=True)
    return p


# -------------------------------------------------------------------- run

def _wrap_entry_points(tracer) -> None:
    """Replace each traced entry point with a span-recording wrapper in
    every package module that holds a reference to it."""
    import importlib

    for mod_name, fn_name, span_name in TRACED_ENTRY_POINTS:
        mod = importlib.import_module(f"{PKG}.{mod_name}")
        orig = getattr(mod, fn_name)
        wrapped = tracer.wrap(span_name, orig)
        for m in list(sys.modules.values()):
            if getattr(m, "__name__", "").startswith(PKG):
                for k, v in list(vars(m).items()):
                    if v is orig:
                        setattr(m, k, wrapped)


def run(args) -> int:
    t_start = time.perf_counter() - _process_age_s()
    _require_package()
    run_dir = os.path.join(WORK, f"run_{os.getpid()}")
    conf = _prepare_env(run_dir)
    if args.trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": os.path.join(run_dir, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
        os.makedirs(conf["spark.eventLog.dir"], exist_ok=True)
    load_before = os.getloadavg()
    from inbev_data_engineering_case_spark.session import get_spark

    spark = get_spark(app_name="perfbench", extra_conf=conf)
    setup_s = time.perf_counter() - t_start
    try:
        return _measure(args, spark, run_dir, setup_s, load_before)
    finally:
        with contextlib.suppress(Exception):
            _stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)


def _measure(args, spark, run_dir, setup_s, load_before) -> int:
    import pyarrow.parquet as pq

    from perfbench import spans as tr
    from perfbench.fixtures import SF

    sc = spark.sparkContext
    inputs = _make_inputs(run_dir, args.seed)
    tracer = tr.Tracer(sc) if args.trace else None
    span = tracer.span if tracer else (lambda name: contextlib.nullcontext())
    if tracer:
        _wrap_entry_points(tracer)

    ops = WORKLOADS[args.workload]
    if ops is None:
        inputs["events"] = pq.ParquetFile(
            os.path.join(inputs["base"], "events.parquet")).metadata.num_rows
        inputs["events_schema"] = spark.read.parquet(inputs["landing"]).schema
        ops = MEDALLION_OPS

        def one_pass(i):
            return medallion_pass(spark, i, args.seed, inputs, span)
    else:
        from perfbench.fixtures import fixture_id

        rec = _load_digests()
        digests = rec["ops"] if rec["fixture_id"] == fixture_id(inputs["base"]) else {}
        if not digests:
            print("perfbench: digests.json was recorded on another fixture; "
                  "run `perfbench/run.py record`", file=sys.stderr)

        def one_pass(i):
            return query_pass(spark, ops, inputs["star"], digests, span)

    # one cold pass, then warm passes until `seconds` of warm-pass time
    passes, pass_spans, warm_s = [], [], 0.0
    while len(passes) <= MAX_WARM_PASSES:
        with span(f"pass.{len(passes)}") as sp:
            p = one_pass(len(passes))
        passes.append(p)
        pass_spans.append(sp)
        warm_s += p.wall if len(passes) > 1 else 0.0
        if len(passes) > 1 and warm_s >= args.seconds:
            break
    rss_mb = _vm_hwm_mb(sc._gateway.proc.pid) + _vm_hwm_mb("self")
    host = {**_host_stamp(spark, SF, args.seed), "loadavg_before": load_before,
            "loadavg_after": os.getloadavg()}
    _stop_spark(spark)

    cold, warm = passes[0], passes[1:]
    attempted = sum(p.attempted for p in passes)
    failed = sum(len(p.failed) for p in passes)
    op_median = {name: tr.median(p.ops[name] for p in warm if name in p.ops)
                 for name in ops if any(name in p.ops for p in warm)}
    pass_s = tr.median(p.wall for p in warm)
    result = {
        "workload": args.workload, "trace": args.trace, "host": host,
        "warm_passes": len(warm),
        "pass_s_tail": tr.tail_percentile(p.wall for p in warm),
        "passes": [{"wall": p.wall, "ops": p.ops, "failed": p.failed} for p in passes],
        "op_median_s": op_median,
    }
    if not args.trace:
        metrics = {
            "setup_s": setup_s,
            "cold_pass_s": cold.wall,
            "pass_s": pass_s,
            "op_geomean_s": tr.geomean(op_median.values()) if op_median else 0.0,
        }
        units = END_TO_END
    else:
        logdir = os.path.join(run_dir, "eventlog")
        lines = []
        for f in sorted(os.listdir(logdir)):
            with open(os.path.join(logdir, f)) as fh:
                lines.extend(fh)
        log = tr.parse_event_log(lines)
        tr.attribute_jobs(log, tracer.spans)
        metrics, result["per_op"] = layer_metrics(tr, log, tracer.spans, pass_spans[1:], warm)
        metrics.update({
            "session.start_s": setup_s,
            "session.warm_s": cold.wall - pass_s,
            "trace.pass_s": pass_s,
            "op_fail_ratio": failed / attempted,
            "peak_rss_mb": rss_mb,
        })
        units = PER_LAYER
    result["metrics"] = metrics
    out_path = args.out or os.path.join(
        WORK, "results",
        f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}.json")
    os.makedirs(os.path.dirname(out_path), exist_ok=True)
    with open(out_path, "w") as fh:
        json.dump(result, fh, indent=1, sort_keys=True)
    print(f"perfbench: result written to {out_path}", file=sys.stderr)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }))
    return 0


def layer_metrics(tr, log, spans, warm_pass_spans, warm_passes):
    """Per-layer totals of each warm pass and their median across passes;
    and each op's build/exec breakdown (medians) for the layer report."""
    by_parent = tr.children(spans)
    dur = lambda s: s.end - s.start  # noqa: E731
    totals: list[dict] = []
    per_op: dict[str, dict[str, list[float]]] = {}
    for ps, p in zip(warm_pass_spans, warm_passes):
        tot = dict.fromkeys(PER_LAYER, 0.0)
        inside = tr.subtree(spans, ps.sid)
        agg = log.totals(j.job_id for j in tr.jobs_in(log, inside))
        for k in ("executor_run_s", "executor_cpu_s", "gc_s",
                  "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"):
            tot[f"queries.{k}"] = agg[k]
        tot["sources.input_bytes"] = agg["input_bytes"]
        tot["trace.span_coverage"] = sum(
            dur(s) for s in by_parent.get(ps.sid, [])) / dur(ps)
        for s in (spans[i] for i in sorted(inside)):
            name = s.name
            if name.startswith("queries.") and name.endswith((".build", ".exec")):
                _, op, kind = name.split(".")
                jobs = tr.jobs_in(log, tr.subtree(spans, s.sid))
                row = {f"{kind}_s": dur(s), f"{kind}_jobs": len(jobs)}
                if kind == "build":
                    row["build_driver_s"] = tr.driver_only_s(log, spans, s.sid)
                else:
                    row["exec_stages"] = log.totals(j.job_id for j in jobs)["stages"]
                for k, v in row.items():
                    tot[f"queries.{k}"] += v
                    per_op.setdefault(op, {}).setdefault(k, []).append(v)
            elif name.startswith("operators."):
                tot[f"{name}.self_s"] += tr.self_time(spans, s.sid)
                tot[f"{name}.jobs"] += len(tr.jobs_in(log, {s.sid}))
            elif f"{name}_s" in tot:
                tot[f"{name}_s"] += dur(s)
        tot.update(p.lake or {})
        totals.append(tot)
    layer = {k: tr.median(t[k] for t in totals) for k in totals[0]}
    ops = {op: {k: tr.median(v) for k, v in d.items()} for op, d in per_op.items()}
    return layer, ops


# ------------------------------------------------------------------ record

def record() -> int:
    """Check each op against its DuckDB oracle on the base fixture and
    record the (row count, table_hash) of its output in digests.json."""
    _require_package()
    run_dir = os.path.join(WORK, f"run_{os.getpid()}")
    conf = _prepare_env(run_dir)
    from inbev_data_engineering_case_spark.queries import CATALOG
    from inbev_data_engineering_case_spark.session import get_spark
    from inbev_data_engineering_case_spark.testing import (
        compare_query, duckdb_star_connection, table_hash,
    )
    from perfbench.fixtures import SF, fixture_id, write_base

    base = write_base(os.path.join(WORK, f"base_sf{SF}"))
    spark = get_spark(app_name="perfbench-record", extra_conf=conf)
    con = duckdb_star_connection(base)
    old = _load_digests() if os.path.exists(DIGESTS) else {}
    fid = fixture_id(base)
    ops = dict(old.get("ops", {})) if old.get("fixture_id") == fid else {}
    bad = 0
    try:
        for name in CURATE_OPS + STAR_OPS + RECORDED_ONLY:
            t0 = time.perf_counter()
            msg = compare_query(CATALOG[name], spark, con, base)
            if msg is not None:
                print(f"{name}: ORACLE MISMATCH {msg}", file=sys.stderr)
                bad += 1
                ops.pop(name, None)
                continue
            df = CATALOG[name].fn(spark, base)
            ops[name] = list(table_hash(df.columns, [tuple(r) for r in df.collect()]))
            print(f"{name}: matches oracle {ops[name]} "
                  f"({time.perf_counter() - t0:.1f}s)", file=sys.stderr)
    finally:
        _stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    with open(DIGESTS, "w") as fh:
        json.dump({"fixture_id": fid, "sf": SF, "ops": dict(sorted(ops.items()))},
                  fh, indent=1)
        fh.write("\n")
    return 1 if bad else 0


# ----------------------------------------------------------------- compare

COMPARABLE = ("nproc", "SPARK_GRAFT_CPUS", "sf")


def compare(base_files: list[str], head_files: list[str]) -> int:
    """Median of each metric on both sides, refused when the results were
    taken at another core count or scale, or on other workloads."""
    from perfbench.spans import median

    def load(files):
        out = []
        for f in files:
            with open(f) as fh:
                out.append(json.load(fh))
        return out

    base, head = load(base_files), load(head_files)
    keys = {(r["workload"], r["trace"], *(r["host"][k] for k in COMPARABLE))
            for r in base + head}
    if len(keys) != 1:
        print("perfbench compare: refused, results differ in (workload, trace, "
              f"{', '.join(COMPARABLE)}): {sorted(map(str, keys))}", file=sys.stderr)
        return 3
    rows = []
    for k in sorted(base[0]["metrics"]):
        b = median(r["metrics"][k] for r in base)
        h = median(r["metrics"][k] for r in head)
        rows.append({"metric": k, "base": b, "head": h,
                     "ratio": h / b if b else None})
    print(json.dumps({"workload": base[0]["workload"], "n_base": len(base),
                      "n_head": len(head), "metrics": rows}, indent=1))
    return 0


# ------------------------------------------------------------------ report

REPORT_SEED = 1
SPREAD_SEEDS = range(10)


def _run_once(wl: str, seed: int, trace: int, out: str) -> dict:
    """One benchmark run in a child process, as BENCHMARK.json's command;
    returns its full result with the wall time of the whole run."""
    t0 = time.perf_counter()
    subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--workload", wl,
         "--seed", str(seed), "--seconds", str(CONTRACT["run_seconds"]),
         "--trace", str(trace), "--out", out],
        check=True, cwd=ROOT, stdout=subprocess.DEVNULL)
    with open(out) as fh:
        res = json.load(fh)
    res["run_wall_s"] = time.perf_counter() - t0
    return res


def report() -> int:
    """Run every workload once untraced and twice traced, and write the
    layer report ``LAYERS.json``: per-layer metrics, each op's build/exec
    breakdown, the tracing overhead (traced pass_s minus untraced pass_s),
    and whether every count (jobs, stages, files, batches) repeated
    exactly across the two traced runs."""
    counts = [m for m, u in PER_LAYER.items() if u == "count"]
    out = {"seed": REPORT_SEED, "seconds": CONTRACT["run_seconds"], "workloads": {}}
    for wl in WORKLOADS:
        res = [_run_once(wl, REPORT_SEED, t, os.path.join(WORK, "results", f"report-{wl}-{i}.json"))
               for i, t in enumerate((0, 1, 1))]
        untraced, traced, again = res
        m0, m1 = untraced["metrics"], traced["metrics"]
        out["host"] = untraced["host"]
        out["workloads"][wl] = {
            "end_to_end": m0,
            "per_layer": m1,
            "run_wall_s": [r["run_wall_s"] for r in res],
            "trace_overhead_s": m1["trace.pass_s"] - m0["pass_s"],
            "per_op": traced["per_op"],
            "counts_repeat": all(m1[k] == again["metrics"][k] for k in counts)
            and all(traced["per_op"][op][k] == again["per_op"][op][k]
                    for op in traced["per_op"]
                    for k in ("build_jobs", "exec_jobs", "exec_stages")),
            "failed": [p["failed"] for r in res for p in r["passes"]],
        }
    with open(os.path.join(HERE, "LAYERS.json"), "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")
    return 0


def spread() -> int:
    """Run each BENCHMARK.json workload untraced on seeds 0-9 and append the
    set to ``SPREAD.json``: every run's end-to-end metrics and wall time,
    and per metric the median, the quartiles (``statistics.quantiles``,
    n=4), their spread as a share of the median, the metric's bound, and
    the shift of the median from the previous set."""
    import statistics

    path = os.path.join(HERE, "SPREAD.json")
    sets = []
    if os.path.exists(path):
        with open(path) as fh:
            sets = json.load(fh)["sets"]
    bounds = {m["name"]: m["bound"] for m in CONTRACT["end_to_end"]}
    this = {"started": time.strftime("%Y-%m-%dT%H:%M:%S%z"), "workloads": {}}
    for wl in (w["name"] for w in CONTRACT["workloads"]):
        runs = []
        for seed in SPREAD_SEEDS:
            r = _run_once(wl, seed, 0, os.path.join(WORK, "results", f"spread-{wl}-{seed}.json"))
            this["host"] = {k: r["host"][k] for k in ("nproc", "SPARK_GRAFT_CPUS", "sf",
                                                      "spark", "java", "python")}
            runs.append({"seed": seed, "run_wall_s": r["run_wall_s"], "metrics": r["metrics"],
                         "loadavg": [r["host"]["loadavg_before"][0], r["host"]["loadavg_after"][0]]})
            print(f"spread {wl} seed {seed}: {r['run_wall_s']:.1f}s "
                  + " ".join(f"{k}={v:.3f}" for k, v in r["metrics"].items()), file=sys.stderr)
        stats = {}
        for k in END_TO_END:
            vals = [r["metrics"][k] for r in runs]
            q1, _, q3 = statistics.quantiles(vals, n=4)
            med = statistics.median(vals)
            prev = sets[-1]["workloads"].get(wl, {}).get("stats", {}).get(k) if sets else None
            stats[k] = {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med,
                        "bound": bounds[k],
                        "median_shift": None if prev is None else med / prev["median"] - 1}
        this["workloads"][wl] = {"runs": runs, "stats": stats}
    sets.append(this)
    with open(path, "w") as fh:
        json.dump({"sets": sets}, fh, indent=1, sort_keys=True)
        fh.write("\n")
    return 0


def main(argv: list[str]) -> int:
    if argv[:1] == ["record"]:
        return record()
    if argv[:1] == ["report"]:
        return report()
    if argv[:1] == ["spread"]:
        return spread()
    if argv[:1] == ["compare"]:
        ap = argparse.ArgumentParser(prog="run.py compare")
        ap.add_argument("--base", nargs="+", required=True)
        ap.add_argument("--head", nargs="+", required=True)
        a = ap.parse_args(argv[1:])
        return compare(a.base, a.head)
    ap = argparse.ArgumentParser(prog="run.py")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", help="where to write the full result JSON")
    return run(ap.parse_args(argv))


if __name__ == "__main__":
    # import the package, and this directory as `perfbench.*`, from the
    # checkout root; never the sibling modules by bare name
    sys.path[0] = ROOT
    sys.exit(main(sys.argv[1:]))
