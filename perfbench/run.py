#!/usr/bin/env python3
"""The repository benchmark: one command, four named workloads.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run it from the root of a checkout. Each workload drives the engine only
through its public entry points:

* ``pipeline_daily``: each operation is one new generated day of gzip
  TFRecord BidLogs (``perfbench/gen.py``) through ``jobs.run_bidlog_job``
  with its parquet and Base64 writes, then ``run_prediction_job`` on the
  re-read outputs with its parquet and JSON writes.
* ``board_python``, ``board_stream``, ``board_sql``: declared queries
  ``plans.queries.QUERIES[name]`` on the read-only sf0.1 testdata
  (``sources.tables.DEFAULT_SF_DIR``), written to the noop sink. The
  seed sets the query order.

Load is one process on ``local[<cores>]`` in a closed loop: each
operation starts when the previous one has finished. The run builds a
session, runs one untimed warm-up operation (``setup_s`` ends here),
then times whole units (a pass over the board, after ``WARM_PASSES``
untimed ones, or one day): ``MIN_PASSES`` or ``MIN_DAYS`` of them, and
more while less than ``--seconds`` has been measured. Outputs are
checked outside the timed region.

The last stdout line is the JSON result. Lines before it, each starting
with ``perfbench``, carry the pinned environment, the oracle verdicts,
every end-to-end metric named in ``perfbench/NOTES.md`` by name and
unit, and, with ``--trace 1``, the per-layer split, the span-coverage
check and the tracing overhead.
"""

from __future__ import annotations

import time

T_PROC = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ENGINE_DIR = os.path.join(ROOT, "adtech_log_data_pipeline_spark")
WORK = os.path.join(ROOT, ".perfbench_work")
CACHE = os.path.join(ROOT, ".perfbench_cache")
OUT = os.path.join(ROOT, ".perfbench_out")
DRIVER_MEM = "6g"

#: board query lists, trimmed to fit the run length (perfbench/NOTES.md)
BOARDS = {
    "board_python": ["dedup_minhash", "suspicious_ids"],
    "board_stream": ["stream_dedup", "stream_window_counts", "stream_upsert_latest"],
    "board_sql": None,  # every plans/relational.py query, filled at run time
}
PIPELINE = "pipeline_daily"
DAY_LOGS = 20_000
WARMUP_LOGS = 2_000
#: whole units timed per run, at least: the first units of a run are
#: still warming, so a fixed count keeps the median at the same place
MIN_DAYS = 2
MIN_PASSES = 6
#: board passes run after set-up but not timed: the passes after the
#: warm-up query keep getting faster for two or three passes
WARM_PASSES = 2
SPAN_COVERAGE = 0.95


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=[PIPELINE, *BOARDS])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def cores() -> int:
    return len(os.sched_getaffinity(0))


def stream_scratch_root() -> str:
    """A per-run directory where the engine keeps its stream replay state
    by default: under RAM-backed /dev/shm when it is there and writable,
    else in the checkout."""
    if os.path.isdir("/dev/shm") and os.access("/dev/shm", os.W_OK):
        return os.path.join("/dev/shm", f"perfbench-{os.getpid()}")
    return os.path.join(WORK, "stream")


def pin_environment() -> dict:
    """Pin every setting that changes the numbers and return it."""
    n = cores()
    dirs = {k: os.path.join(WORK, k) for k in ("spark-local", "tmp", "warehouse", "out")}
    dirs["stream"] = stream_scratch_root()
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(n),
            "SPARK_DRIVER_MEM": DRIVER_MEM,
            "SPARK_LOCAL_DIRS": dirs["spark-local"],
            "SPARK_GRAFT_STREAM_SCRATCH": dirs["stream"],
            "TMPDIR": dirs["tmp"],
            "PYTHONPATH": os.pathsep.join(
                [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
            ),
        }
    )
    os.environ.pop("SPARK_GRAFT_NO_STATUS_TRIM", None)
    return dirs


def spark_session(dirs: dict):
    from adtech_log_data_pipeline_spark.session import get_spark

    return get_spark(
        "perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={dirs['tmp']}",
            "spark.sql.warehouse.dir": dirs["warehouse"],
        },
    )


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM the gateway launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs: list[float]) -> tuple[float | None, int | None]:
    """The highest percentile (a multiple of 5) with at least 10 samples
    beyond it, and its value; (None, None) with fewer than 21 samples."""
    xs = sorted(xs)
    best = None
    for p in range(50, 100, 5):
        k = int(len(xs) * p / 100)
        if len(xs) - k - 1 >= 10:
            best = (xs[k], p)
    return best if best else (None, None)


class Run:
    """State of one benchmark run."""

    def __init__(self, args, dirs):
        from layers import Tracer

        self.args = args
        self.dirs = dirs
        self.tracer = Tracer(bool(args.trace))
        self.attempted = 0
        self.failed = 0
        self.wrong = 0
        self.verdicts: list[dict] = []
        self.spark = None
        self.status = None
        self.units: list[dict] = []  # one per timed pass / day
        self.prep_s = 0.0

    # -- helpers -----------------------------------------------------------
    def hygiene(self) -> None:
        from adtech_log_data_pipeline_spark.functions._cache import release_cached
        from adtech_log_data_pipeline_spark.functions._hygiene import trim_status_store

        release_cached()
        trim_status_store(self.spark)


# --- boards -------------------------------------------------------------------


def board_queries(name: str) -> list[str]:
    if BOARDS[name] is not None:
        return list(BOARDS[name])
    from adtech_log_data_pipeline_spark.plans.relational import RELATIONAL_SQL

    return list(RELATIONAL_SQL)


def run_board(run: Run) -> dict:
    from adtech_log_data_pipeline_spark.plans import queries as plan_queries
    from adtech_log_data_pipeline_spark.sources.tables import DEFAULT_SF_DIR as SF_DIR
    from layers import StatusReader, catalyst_seconds, unwrap, wrap_layers
    from oracle import BoardOracle

    args, tr = run.args, run.tracer
    names = board_queries(args.workload)
    order = names[:]
    random.Random(args.seed).shuffle(order)
    QUERIES = plan_queries.QUERIES

    run.spark = spark = spark_session(run.dirs)
    run.status = StatusReader(spark)
    oracle = BoardOracle(SF_DIR, os.path.join(CACHE, "oracle"))

    def check(q: str, observed=None) -> None:
        """Run ``q`` once with its result hashed on the executors and
        compare with the oracle; counted, reported, never retried."""
        run.attempted += 1
        try:
            if observed is None:
                run.hygiene()
                observed = oracle.observe(QUERIES[q](spark, SF_DIR))
            ok, msg = oracle.verdict(q, observed)
        except Exception as e:
            run.failed += 1
            run.verdicts.append({"query": q, "ok": False, "error": f"{type(e).__name__}: {e}"[:300]})
            return
        run.wrong += not ok
        run.verdicts.append({"query": q, "ok": ok, "detail": msg})

    # warm-up: one untimed operation, the board's first query, checked
    run.hygiene()
    first = oracle.observe(QUERIES[names[0]](spark, SF_DIR))
    setup_s = time.time() - T_PROC - run.prep_s

    check(names[0], first)

    modules = [sys.modules[m] for m in list(sys.modules) if m.startswith(
        ("adtech_log_data_pipeline_spark.plans.", "adtech_log_data_pipeline_spark.jobs."))]
    undo = wrap_layers(tr, modules) if args.trace else []
    measured = 0.0
    pass_no = 0
    stream_dir = run.dirs["stream"]
    try:
        while pass_no < WARM_PASSES + MIN_PASSES or measured < args.seconds:
            timed = pass_no >= WARM_PASSES
            unit = {"walls": [], "layers": []}
            for q in order:
                run.attempted += 1
                op = f"p{pass_no}:{q}"
                tr.op_id = op
                t_h = time.time()
                run.hygiene()
                hygiene_s = time.time() - t_h
                t0 = time.time()
                try:
                    with tr.span("op", query=q) as root:
                        with tr.span("plans.build"):
                            df = QUERIES[q](spark, SF_DIR)
                        if args.trace:
                            with tr.span("plans.catalyst") as cs:
                                cs["catalyst_s"] = catalyst_seconds(df)
                        with tr.span("exec.write"):
                            df.write.format("noop").mode("overwrite").save()
                except Exception as e:
                    measured += (time.time() - t0) * timed
                    run.failed += 1
                    run.verdicts.append({"query": q, "ok": False, "pass": pass_no,
                                         "error": f"{type(e).__name__}: {e}"[:300]})
                    continue
                wall = time.time() - t0
                if not timed:
                    continue
                measured += wall
                unit["walls"].append(wall)
                if args.trace:
                    unit["layers"].append(board_op_layers(run, root, q, stream_dir))
                    unit["layers"][-1]["plans.hygiene_s"] = hygiene_s
            if timed:
                run.units.append(unit)
            pass_no += 1
    finally:
        unwrap(undo)
    tr.op_id = None

    # the other queries are checked after the timed passes, in seed order
    t_check = time.time()
    for q in order:
        if q != names[0]:
            check(q)
    oracle.close()
    check_s = time.time() - t_check
    return {"setup_s": setup_s, "check_s": check_s, "n_queries": len(order), "order": order}


def op_cover(run: Run, root: dict, spans: list[dict]) -> dict:
    """Wall, span coverage and driver residue of the operation ``root``."""
    from layers import covered

    wall = root["end"] - root["start"]
    cover = covered(spans, run.status.exec_windows(), root["start"], root["end"])
    return {"op": root["op"], "wall": wall, "coverage": cover / wall, "residual": wall - cover}


def board_op_layers(run: Run, root: dict, q: str, stream_dir: str) -> dict:
    from layers import du_mb, jobs_in, layer_time, span_time

    spans = run.tracer.op_spans(root["op"])
    st = run.status.read()
    held_mb, held_frames = run.status.cached()
    jobs_t = run.status.job_windows()
    is_stream = q.startswith("stream")
    return {
        **op_cover(run, root, spans),
        "plans.build_s": span_time(spans, "plans.build"),
        "plans.build_jobs": jobs_in(spans, "plans.build", jobs_t),
        "plans.catalyst_s": sum(s.get("catalyst_s", 0.0) for s in spans),
        "operators.build_s": layer_time(spans, "operators"),
        "operators.build_jobs": jobs_in(spans, "operators.", jobs_t),
        "functions.held_mb": held_mb,
        "functions.held_frames": held_frames,
        "streaming.sql_executions": st["sql_executions"] if is_stream else 0,
        "streaming.scratch_mb": du_mb(stream_dir) if is_stream else 0.0,
        "status": st,
    }


# --- pipeline -----------------------------------------------------------------


def run_pipeline(run: Run) -> dict:
    import gen
    from layers import StatusReader, unwrap, wrap_layers, wrap_writers
    from oracle import check_pipeline_day

    args, tr = run.args, run.tracer
    shards = max(8, 2 * cores())
    gen_root = os.path.join(CACHE, "days")
    days: dict[int, tuple[str, dict]] = {}

    def day(k: int) -> tuple[str, dict]:
        """Day ``k``'s directory and ground truth (day 0 is the warm-up)."""
        if k not in days:
            t = time.time()
            days[k] = gen.ensure_day(gen_root, args.seed, k, DAY_LOGS if k else WARMUP_LOGS, shards)
            run.prep_s += time.time() - t
        return days[k]

    warm_dir, _ = day(0)

    from adtech_log_data_pipeline_spark.jobs import bidlog_job, prediction_job
    from adtech_log_data_pipeline_spark.jobs import run_bidlog_job
    from adtech_log_data_pipeline_spark.jobs.prediction_job import run_prediction_job
    from adtech_log_data_pipeline_spark.plans.queries import QUERY_THRESHOLDS
    from adtech_log_data_pipeline_spark.sources.protowire import (
        BID_LOG, BID_LOG_SQL_SCHEMA, bidlog_to_row)
    from adtech_log_data_pipeline_spark.sources.tfrecord import read_tfrecord_proto

    run.spark = spark = spark_session(run.dirs)
    run.status = StatusReader(spark)
    out_root = run.dirs["out"]

    def one_day(day_dir: str, out: str) -> dict:
        """One operation: BidLogJob then PredictionJob, both with writes."""
        glob = os.path.join(day_dir, "tfrecord", "*.tfrecord.gz")
        t0 = time.time()
        with tr.span("sources.read_tfrecord_proto"):
            logs = read_tfrecord_proto(spark, glob, BID_LOG, BID_LOG_SQL_SCHEMA, bidlog_to_row)
        with tr.span("jobs.run_bidlog_job"):
            res = run_bidlog_job(spark, logs, output_dir=os.path.join(out, "bidlog"),
                                 thresholds=QUERY_THRESHOLDS, b64_outputs=True)
        t1 = time.time()
        with tr.span("sources.read_parquet"):
            dp = spark.read.parquet(os.path.join(out, "bidlog", "device_profiles"))
            susp = spark.read.parquet(os.path.join(out, "bidlog", "suspicious"))
            iapp = spark.read.parquet(os.path.join(day_dir, "iapp.parquet"))
        with tr.span("jobs.run_prediction_job"):
            run_prediction_job(spark, dp, susp, iapp, output_dir=os.path.join(out, "predictions"))
        t2 = time.time()
        return {"bidlog_s": t1 - t0, "prediction_s": t2 - t1, "metrics": res.metrics}

    # warm-up: one untimed day through both jobs
    run.hygiene()
    one_day(warm_dir, os.path.join(out_root, "warmup"))
    setup_s = time.time() - T_PROC - run.prep_s

    undo = []
    if args.trace:
        undo = wrap_layers(tr, [bidlog_job, prediction_job])
        undo += wrap_writers(tr)
    measured = 0.0
    check_s = 0.0
    k = 0
    try:
        while k < MIN_DAYS or measured < args.seconds:
            day_dir, truth = day(k + 1)
            out = os.path.join(out_root, f"day{k + 1}")
            t_h = time.time()
            run.hygiene()
            hygiene_s = time.time() - t_h
            run.attempted += 1
            op = f"day{k + 1}"
            tr.op_id = op
            t0 = time.time()
            try:
                with tr.span("op", day=k + 1) as root:
                    r = one_day(day_dir, out)
            except Exception as e:
                measured += time.time() - t0
                run.failed += 1
                run.verdicts.append({"day": k + 1, "ok": False, "error": f"{type(e).__name__}: {e}"[:300]})
                k += 1
                continue
            wall = r["bidlog_s"] + r["prediction_s"]
            measured += wall
            unit = {"walls": [wall], "bidlog_s": r["bidlog_s"], "prediction_s": r["prediction_s"],
                    "n_input": truth["n_input"], "layers": []}
            if args.trace:
                unit["layers"].append(pipeline_op_layers(run, root, r, truth, out, day_dir))
                unit["layers"][-1]["plans.hygiene_s"] = hygiene_s
            t_c = time.time()
            ok, rep = check_pipeline_day(day_dir, out, truth, r["metrics"])
            check_s += time.time() - t_c
            run.wrong += not ok
            run.verdicts.append({"day": k + 1, "ok": ok, **rep})
            run.units.append(unit)
            k += 1
    finally:
        unwrap(undo)
    tr.op_id = None
    return {"setup_s": setup_s, "check_s": check_s, "gen_s": run.prep_s,
            "day_logs": DAY_LOGS, "shards": shards}


def pipeline_op_layers(run: Run, root: dict, r: dict, truth: dict, out: str, day_dir: str) -> dict:
    from adtech_log_data_pipeline_spark.sources.protowire import (
        BID_LOG, BID_LOG_SQL_SCHEMA, bidlog_to_row)
    from adtech_log_data_pipeline_spark.sources.tfrecord import read_tfrecord, read_tfrecord_proto
    from layers import du_mb, jobs_in, layer_time, span_time

    tr = run.tracer
    op = root["op"]
    spans = tr.op_spans(op)
    st = run.status.read()
    held_mb, held_frames = run.status.cached()
    jobs_t = run.status.job_windows()
    layers = {
        **op_cover(run, root, spans),
        "status": st,
        "operators.build_s": layer_time(spans, "operators"),
        "operators.build_jobs": jobs_in(spans, "operators.", jobs_t),
        "jobs.write_s": span_time(spans, "jobs.write"),
        "jobs.output_mb": du_mb(out),
        "functions.held_mb": held_mb,
        "functions.held_frames": held_frames,
        "sources.input_scans": st["binary_scans"],
        "sources.malformed_dropped": truth["n_records"] - r["metrics"].get("n_input", 0),
    }
    # the batch forced through the two source layers alone (noop sink)
    tr.op_id = f"{op}:sources"
    glob = os.path.join(day_dir, "tfrecord", "*.tfrecord.gz")
    run.hygiene()
    t = time.time()
    read_tfrecord(run.spark, glob).write.format("noop").mode("overwrite").save()
    unframe = time.time() - t
    t = time.time()
    read_tfrecord_proto(run.spark, glob, BID_LOG, BID_LOG_SQL_SCHEMA, bidlog_to_row) \
        .write.format("noop").mode("overwrite").save()
    decode = max(time.time() - t - unframe, 1e-6)
    layers.update({
        "sources.unframe_s": unframe,
        "sources.decode_s": decode,
        "sources.decode_rows_per_s": truth["n_input"] / decode,
    })
    return layers


# --- reporting ------------------------------------------------------------------


def e2e_metrics(run: Run, res: dict, workload: str) -> dict:
    """Every end-to-end metric by name: (value, unit)."""
    walls = [w for u in run.units for w in u["walls"]]
    unit_s = [sum(u["walls"]) for u in run.units]
    m = {"setup_s": (res["setup_s"], "s"), "pass_s": (median(unit_s), "s")}
    if workload == PIPELINE:
        logs = sum(u["n_input"] for u in run.units)
        m.update({
            "bidlog_job_s": (median([u["bidlog_s"] for u in run.units]), "s"),
            "prediction_job_s": (median([u["prediction_s"] for u in run.units]), "s"),
            "logs_per_s": (logs / sum(unit_s) if unit_s else 0.0, "1/s"),
        })
    else:
        tail_v, tail_p = tail(walls)
        m.update({
            "board_s": (median(unit_s), "s"),
            "query_p50_s": (median(walls), "s"),
            "query_tail_s": (tail_v, f"s@p{tail_p}" if tail_p else "s"),
        })
    return m


def layer_metrics(run: Run, workload: str) -> dict:
    """Per-layer metrics: per unit (board pass / day), then the median
    over the run's units."""
    n = cores()
    per_unit = []
    for u in run.units:
        L = u["layers"]
        if not L:
            continue
        st = {k: sum(x["status"][k] for x in L) for k in L[0]["status"]}
        wall = sum(x["wall"] for x in L)
        n_stream = sum(x["op"].split(":")[-1].startswith("stream") for x in L)
        g = lambda key: sum(x.get(key, 0.0) for x in L)  # noqa: E731
        per_unit.append({
            "sources.unframe_s": g("sources.unframe_s"),
            "sources.decode_s": g("sources.decode_s"),
            "sources.decode_rows_per_s": g("sources.decode_rows_per_s"),
            "sources.input_scans": g("sources.input_scans"),
            "sources.malformed_dropped": g("sources.malformed_dropped"),
            "operators.build_s": g("operators.build_s"),
            "operators.build_jobs": g("operators.build_jobs"),
            "jobs.spark_jobs": st["jobs"] if workload == PIPELINE else 0,
            "jobs.sql_executions": st["sql_executions"] if workload == PIPELINE else 0,
            "jobs.write_s": g("jobs.write_s"),
            "jobs.output_mb": g("jobs.output_mb"),
            "plans.hygiene_s": g("plans.hygiene_s"),
            "plans.build_s": g("plans.build_s"),
            "plans.build_jobs": g("plans.build_jobs"),
            "plans.catalyst_s": g("plans.catalyst_s"),
            "exec.wall_s": wall,
            "exec.task_s": st["task_s"],
            "exec.cpu_util": st["task_s"] / (wall * n) if wall else 0.0,
            "exec.gc_s": st["gc_s"],
            "exec.shuffle_read_mb": st["shuffle_read_mb"],
            "exec.shuffle_write_mb": st["shuffle_write_mb"],
            "exec.spill_mb": st["spill_mb"],
            "exec.input_mb": st["input_mb"],
            "exec.stages": st["stages"],
            "exec.tasks": st["tasks"],
            "exec.python_rows": st["python_rows"],
            "functions.held_mb": g("functions.held_mb"),
            "functions.held_frames": g("functions.held_frames"),
            "streaming.sql_executions": g("streaming.sql_executions") / max(n_stream, 1),
            "streaming.scratch_mb": max((x.get("streaming.scratch_mb", 0.0) for x in L), default=0.0),
            "driver.residual_s": g("residual"),
            "driver.span_coverage": min(x["coverage"] for x in L),
        })
    if not per_unit:
        return {}
    return {k: median([u[k] for u in per_unit]) for k in per_unit[0]}


def load_declared() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(ENGINE_DIR) or not os.path.isfile(os.path.join(ROOT, "tools", "compare.py")):
        print(f"perfbench: engine sources not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, os.path.dirname(os.path.abspath(__file__))]
    from adtech_log_data_pipeline_spark.sources.tables import DEFAULT_SF_DIR

    if args.workload != PIPELINE and not os.path.isdir(DEFAULT_SF_DIR):
        print(f"perfbench: testdata {DEFAULT_SF_DIR} not found", file=sys.stderr)
        return 2
    declared = load_declared()
    from layers import cpu_times, du_mb

    shutil.rmtree(WORK, ignore_errors=True)
    dirs = pin_environment()
    steal0, total0 = cpu_times()
    run = Run(args, dirs)
    try:
        if args.workload == PIPELINE:
            res = run_pipeline(run)
        else:
            res = run_board(run)
        spark = run.spark
        run.hygiene()
        heap_mb = run.status.heap_after_gc_mb()
        scratch_mb = du_mb(dirs["spark-local"], dirs["stream"], dirs["tmp"])
        versions = {
            "pyspark": spark.version,
            "java": spark._jvm.java.lang.System.getProperty("java.version"),
            "python": sys.version.split()[0],
        }
    finally:
        if run.spark is not None:
            stop_session(run.spark)
        shutil.rmtree(WORK, ignore_errors=True)
        shutil.rmtree(dirs["stream"], ignore_errors=True)
    steal1, total1 = cpu_times()

    e2e = e2e_metrics(run, res, args.workload)
    e2e["heap_after_gc_mb"] = (heap_mb, "MB")
    e2e["scratch_mb"] = (scratch_mb, "MB")
    e2e["error_rate"] = ((run.failed + run.wrong) / max(run.attempted, 1), "ratio")
    env = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "cores": cores(),
        "master": f"local[{os.environ['SPARK_GRAFT_CPUS']}]",
        "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
        "SPARK_DRIVER_MEM": os.environ["SPARK_DRIVER_MEM"],
        "SPARK_LOCAL_DIRS": os.path.relpath(os.environ["SPARK_LOCAL_DIRS"], ROOT),
        "SPARK_GRAFT_STREAM_SCRATCH": os.environ["SPARK_GRAFT_STREAM_SCRATCH"],
        "sf_dir": DEFAULT_SF_DIR, **versions,
        "steal_pct": round(100.0 * (steal1 - steal0) / max(total1 - total0, 1), 3),
        "unit_walls": [round(sum(u["walls"]), 3) for u in run.units],
        "check_s": round(res["check_s"], 3),
    }
    if args.workload == PIPELINE:
        env.update({"day_logs": res["day_logs"], "shards": res["shards"], "gen_s": round(res["gen_s"], 3)})
    else:
        env["order"] = res["order"]
    print("perfbench env " + json.dumps(env))
    print("perfbench checks " + json.dumps(run.verdicts, default=str))
    print("perfbench e2e " + json.dumps({k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}))

    correct = run.wrong == 0 and run.failed == 0
    if args.trace:
        layers = layer_metrics(run, args.workload)
        uncovered = [
            {"op": x["op"], "coverage": round(x["coverage"], 4)}
            for u in run.units for x in u["layers"] if x["coverage"] < SPAN_COVERAGE
        ]
        print("perfbench layers " + json.dumps(layers))
        print("perfbench coverage " + json.dumps({"threshold": SPAN_COVERAGE, "uncovered_ops": uncovered}))
        base_path = os.path.join(OUT, f"untraced-{args.workload}.json")
        if os.path.exists(base_path):
            with open(base_path) as f:
                base = json.load(f)
            over = {k: (e2e[k][0] / base[k] - 1.0) if base.get(k) else None
                    for k in ("pass_s", "bidlog_job_s", "prediction_job_s", "query_p50_s") if k in e2e}
            print("perfbench overhead " + json.dumps({"vs_seed": base["seed"], "relative": over}))
        else:
            print("perfbench overhead " + json.dumps({"vs_seed": None, "note": "no untraced run of this workload in this checkout yet"}))
        run.tracer.dump(os.path.join(OUT, f"trace-{args.workload}-s{args.seed}.jsonl"))
        metrics = {m["name"]: {"value": float(layers.get(m["name"], 0.0)), "unit": m["unit"]}
                   for m in declared["per_layer"]}
    else:
        os.makedirs(OUT, exist_ok=True)
        with open(os.path.join(OUT, f"untraced-{args.workload}.json"), "w") as f:
            json.dump({"seed": args.seed, **{k: v for k, (v, _u) in e2e.items()}}, f)
        metrics = {m["name"]: {"value": float(e2e[m["name"]][0]), "unit": m["unit"]}
                   for m in declared["end_to_end"]}
    print(json.dumps({"correct": correct, "attempted": run.attempted, "failed": run.failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
