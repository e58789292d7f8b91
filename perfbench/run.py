#!/usr/bin/env python3
"""The engine's benchmark: one workload per process, closed loop, checked outputs.

    python3 perfbench/run.py --workload iterative --seed 1 --seconds 26 --trace 0

Run from the repository root. Each invocation stages its inputs (cached under
``perfbench/_work``), starts one ``local[$(nproc)]`` session through
``session.get_spark``, runs one untimed warm-up pass whose outputs are
checked, then times a fixed number of whole passes (``timed_passes``: the
count follows ``--seconds`` and a nominal pass time per workload, never the
engine's speed). The next query starts only when the previous one has
finished.

The last line of standard output is one JSON object. With ``--trace 0`` its
metrics are the end-to-end ones (``setup_s``, ``pass_s``, ``rows_per_s``);
with ``--trace 1`` the run records a Spark event log and reports the
per-layer metrics instead (see ``perfbench/README.md``). Everything else goes
to standard error. The exit code is non-zero when any operation raised or
any output check failed.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import re  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")
DATA = os.path.join(HERE, "data", "sf0.01")

sys.path.insert(0, ROOT)
sys.path.insert(0, HERE)

#: registry workloads: the queries one pass runs, in seed-permuted order
REGISTRY_WORKLOADS = {
    # plan building in the driver: convergence loops, row gates, checkpoints
    "iterative": (
        "docs_dedup_corpus",
        "docs_dedup_incremental",
        "graph_reachability",
        "sim_kmeans",
    ),
    # execution: parquet decode, joins, aggregate shuffles, cosine folds
    "scan_score": (
        "q1_pricing_summary",
        "q3_top_orders",
        "q5_region_revenue",
        "q10_returned_items",
        "dedup_embedding_cosine",
        "sim_ivf_search",
        "sim_topk_cosine",
        "text_quality_score",
    ),
}
CLICKSTREAM = "clickstream_etl"
WORKLOADS = (*REGISTRY_WORKLOADS, CLICKSTREAM)

TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "documents", "embeddings")
N_FILES = 8  # files per staged table: one file is one scan task
LOG_ROWS = 50_000  # generated clickstream rows per data set
#: nominal pass time: how many timed passes ``--seconds`` buys. A constant,
#: not a measurement, so the timed window is fixed by count and a faster
#: engine is timed on the same passes of the JIT warm-up curve, not on later
#: ones. At BENCHMARK.json's 26 s that is 4 timed passes on ``iterative``
#: (about 30 s) and 7 on ``clickstream_etl`` (about 25 s).
NOMINAL_PASS_S = {"iterative": 6.5, "scan_score": 6.5, CLICKSTREAM: 3.5}
PYTHON_TIME = "time to run Python workers"  # SQL metric, ns
SETTLE_TOLERANCE = 0.10  # a pass within 10% of the timed median counts as settled


def timed_passes(workload: str, seconds: float) -> int:
    """Passes timed after the warm-up: 4 for ``iterative`` and 7 for
    ``clickstream_etl`` at BENCHMARK.json's 26 s, whatever the engine's speed."""
    return max(1, round(seconds / NOMINAL_PASS_S[workload]))


# --- host record ---------------------------------------------------------------


def _cpu_ticks() -> list[int]:
    with open("/proc/stat", encoding="ascii") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def host_record(before: list[int], after: list[int]) -> dict:
    """nproc, load, and steal/idle shares of CPU time between two /proc/stat reads."""
    delta = [b - a for a, b in zip(before, after)]
    total = sum(delta[:8]) or 1  # user..steal; guest time is already in user
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "spark_graft_cpus": os.environ.get("SPARK_GRAFT_CPUS"),
        "loadavg": os.getloadavg(),
        "steal_pct": round(100 * delta[7] / total, 2),
        "idle_pct": round(100 * (delta[3] + delta[4]) / total, 2),
    }


# --- staging (cached, never timed) -----------------------------------------------


def _file_digest(paths: list[str]) -> str:
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(os.path.basename(p).encode())
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def _ok_marker(directory: str) -> dict | None:
    try:
        with open(os.path.join(directory, "_STAGED_OK"), encoding="utf-8") as fh:
            return json.load(fh)
    except (OSError, ValueError):
        return None


def _parquet_rows(path: str) -> int:
    import pyarrow.parquet as pq

    files = sorted(os.path.join(path, f) for f in os.listdir(path) if f.endswith(".parquet")) if os.path.isdir(path) else [path]
    return sum(pq.ParquetFile(f).metadata.num_rows for f in files)


def stage_tables() -> tuple[str, dict[str, int]]:
    """``N_FILES``-file copy of the fixed sf0.01 tables; returns (dir, rows per table)."""
    import pyarrow.parquet as pq

    out = os.path.join(WORK, "tables", "sf0.01")
    marker = _ok_marker(out)
    if marker is not None and all(_parquet_rows(os.path.join(out, f"{t}.parquet")) == marker["rows"][t] for t in TABLES):
        return out, marker["rows"]
    shutil.rmtree(out, ignore_errors=True)
    rows = {}
    for t in TABLES:
        table = pq.read_table(os.path.join(DATA, f"{t}.parquet"))
        rows[t] = table.num_rows
        tdir = os.path.join(out, f"{t}.parquet")
        os.makedirs(tdir)
        step = -(-table.num_rows // N_FILES)
        for k in range(N_FILES):
            pq.write_table(table.slice(k * step, step), os.path.join(tdir, f"part-{k:02d}.parquet"), coerce_timestamps="us")
    with open(os.path.join(out, "_STAGED_OK"), "w", encoding="utf-8") as fh:
        json.dump({"rows": rows}, fh)
    return out, rows


def oracle_results(tables_dir: str, names) -> dict[str, dict]:
    """Rendered DuckDB oracle result per query, cached by oracle SQL and input bytes."""
    from spark_etl_pipeline_spark.plans import registry

    import check

    registry.load_all()
    cache = os.path.join(WORK, "oracle")
    os.makedirs(cache, exist_ok=True)
    files = [os.path.join(dp, f) for dp, _, fs in os.walk(tables_dir) for f in fs if f.endswith(".parquet")]
    data_key = _file_digest(files)
    out, con = {}, None
    for name in names:
        sql = registry.REGISTRY[name].oracle
        key = hashlib.sha256((sql + data_key).encode()).hexdigest()[:20]
        path = os.path.join(cache, f"{name}.{key}.json")
        if not os.path.exists(path):
            if con is None:
                con = check.duckdb_views(tables_dir, TABLES)
            tmp = path + ".tmp"
            with open(tmp, "w", encoding="utf-8") as fh:
                json.dump(check.render(con.sql(sql).df()), fh)
            os.replace(tmp, path)
        with open(path, encoding="utf-8") as fh:
            out[name] = json.load(fh)
    if con is not None:
        con.close()
    return out


def stage_clickstream(seed: int) -> tuple[str, str, dict]:
    """Seeded logs + dimension; returns (logs dir, dim path, ok-marker)."""
    import clickstream

    out = os.path.join(WORK, "clickstream", f"n{LOG_ROWS}-s{seed}")
    logs, dim = os.path.join(out, "logs"), os.path.join(out, "dim.parquet")
    marker = _ok_marker(out)
    if marker is not None and _parquet_rows(logs) == marker["rows"] and os.path.exists(dim):
        return logs, dim, marker
    shutil.rmtree(out, ignore_errors=True)
    rows = clickstream.generate(LOG_ROWS, seed)
    clickstream.write(rows, logs, dim, N_FILES)
    expected = clickstream.expected_rows(rows)
    marker = {"rows": len(rows), "expected_rows": len(expected), "fingerprint": clickstream.fingerprint(expected)}
    with open(os.path.join(out, "_STAGED_OK"), "w", encoding="utf-8") as fh:
        json.dump(marker, fh)
    return logs, dim, marker


# --- tracing ------------------------------------------------------------------------


class Tracer:
    """Job groups per (pass, query, phase) plus wall times and py4j round trips.

    With tracing off it only keeps wall times: no job group is set and no
    call is wrapped, so the run makes only the program's own calls.
    """

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.records: list[dict] = []  # one per (pass, query)
        self.py4j_calls = 0
        if enabled:
            client = spark.sparkContext._gateway._gateway_client
            send = client.send_command

            def counting_send(command, *args, **kwargs):
                # memory-management commands follow Python's GC, not the work
                if not command.startswith("m\n"):
                    self.py4j_calls += 1
                return send(command, *args, **kwargs)

            client.send_command = counting_send

    def phase(self, pass_idx: int, query: str, phase: str) -> None:
        if self.enabled:
            gid = f"pb/{pass_idx}/{query}/{phase}"
            self.spark.sparkContext.setJobGroup(gid, gid)

    def catalyst(self, pass_idx: int, query: str, df, rec: dict) -> None:
        """Traced runs only: force optimization + planning and read the tracker."""
        if not self.enabled:
            return
        self.phase(pass_idx, query, "plan")
        t = time.perf_counter()
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        rec["plan_s"] = time.perf_counter() - t
        phases = qe.tracker().phases()
        for name in ("analysis", "optimization", "planning"):
            opt = phases.get(name)
            rec[f"{name}_ms"] = opt.get().durationMs() if opt.isDefined() else 0


# --- workloads ----------------------------------------------------------------------


class Run:
    def __init__(self, spark, tracer: Tracer):
        self.spark = spark
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0
        self.pass_times: list[float] = []
        self.check_s = 0.0  # output-check time, left out of the pass times

    def op(self, fn, what: str):
        """One operation: counted, and a raise counts as a failure."""
        self.attempted += 1
        try:
            return fn()
        except Exception:
            self.failed += 1
            print(f"[perfbench] {what} raised:\n{traceback.format_exc()}", file=sys.stderr)
            return None

    def check(self, problem, what: str) -> None:
        """Run one output check (``problem()`` returns None when the output is right)."""
        t = time.perf_counter()
        self.attempted += 1
        try:
            found = problem()
        except Exception:
            found = traceback.format_exc()
        if found is not None:
            self.failed += 1
            print(f"[perfbench] output check failed: {what}: {found}", file=sys.stderr)
        self.check_s += time.perf_counter() - t

    def passes(self, one_pass, n_timed: int, cleanup=None) -> None:
        """Pass 0 is the checked warm-up; then exactly ``n_timed`` timed
        passes. ``cleanup(p)`` runs after pass ``p`` has been timed."""
        for p in range(n_timed + 1):
            t, checks = time.perf_counter(), self.check_s
            one_pass(p, checked=(p == 0))
            dt = time.perf_counter() - t - (self.check_s - checks)
            self.pass_times.append(dt)
            print(f"[perfbench] pass {p}: {dt:.3f}s", file=sys.stderr)
            if cleanup is not None:
                cleanup(p)


def run_registry(run: Run, workload: str, tables_dir: str, seed: int, seconds: float) -> None:
    import check
    from spark_etl_pipeline_spark.plans import registry

    names = REGISTRY_WORKLOADS[workload]
    oracles = oracle_results(tables_dir, names)
    rng = random.Random(seed)

    def one_pass(p: int, checked: bool) -> None:
        order = list(names)
        rng.shuffle(order)
        for q in order:
            rec = {"pass": p, "query": q}
            run.tracer.phase(p, q, "build")
            t, calls = time.perf_counter(), run.tracer.py4j_calls
            df = run.op(lambda: registry.REGISTRY[q].builder(run.spark, tables_dir), f"{q} build")
            rec["build_s"] = time.perf_counter() - t
            rec["build_py4j"] = run.tracer.py4j_calls - calls
            if df is not None:
                run.tracer.catalyst(p, q, df, rec)
                run.tracer.phase(p, q, "exec")
                t = time.perf_counter()
                if checked:
                    pdf = run.op(df.toPandas, f"{q} collect")
                else:
                    run.op(lambda: df.write.format("noop").mode("overwrite").save(), f"{q} noop write")
                rec["exec_s"] = time.perf_counter() - t
                if checked and pdf is not None:
                    run.check(lambda: check.compare(check.render(pdf), oracles[q]), q)
            run.tracer.records.append(rec)

    run.passes(one_pass, timed_passes(workload, seconds))


def output_problem(rows: list[tuple], marker: dict) -> str | None:
    """None when ``rows`` match the count and fingerprint the generator's oracle recorded."""
    import clickstream

    if len(rows) != marker["expected_rows"]:
        return f"{len(rows)} rows, expected {marker['expected_rows']}"
    if clickstream.fingerprint(rows) != marker["fingerprint"]:
        return "row fingerprint differs from the oracle's"
    return None


def run_clickstream(run: Run, logs: str, dim_path: str, marker: dict, seconds: float) -> None:
    import clickstream
    from spark_etl_pipeline_spark.plans.etl import clickstream_pipeline, reference_families
    from spark_etl_pipeline_spark.sources import read_parquet, write_parquet

    families = reference_families(*((site,) for site in clickstream.SITES.values()))
    out_root = os.path.join(WORK, "out", str(os.getpid()))

    def target(p: int) -> str:
        return os.path.join(out_root, f"pass{p}")

    def one_pass(p: int, checked: bool) -> None:
        rec = {"pass": p, "query": CLICKSTREAM}
        run.tracer.phase(p, CLICKSTREAM, "build")
        t, calls = time.perf_counter(), run.tracer.py4j_calls
        out = run.op(
            lambda: clickstream_pipeline(read_parquet(run.spark, logs), read_parquet(run.spark, dim_path), families),
            "clickstream build",
        )
        rec["build_s"] = time.perf_counter() - t
        rec["build_py4j"] = run.tracer.py4j_calls - calls
        if out is not None:
            run.tracer.catalyst(p, CLICKSTREAM, out, rec)
            run.tracer.phase(p, CLICKSTREAM, "exec")
            t = time.perf_counter()
            wrote = run.op(
                lambda: write_parquet(out, target(p), mode="append", partition_by=["TRANSACTION_DATE"]) or True,
                "clickstream write",
            )
            rec["sink_s"] = rec["exec_s"] = time.perf_counter() - t
            rec["sink"] = True
            if checked and wrote:
                run.check(lambda: output_problem(clickstream.read_output(target(p)), marker), CLICKSTREAM)
        run.tracer.records.append(rec)

    # deleting a pass's output is the benchmark's work, not the program's
    run.passes(one_pass, timed_passes(CLICKSTREAM, seconds), cleanup=lambda p: shutil.rmtree(target(p), ignore_errors=True))
    shutil.rmtree(out_root, ignore_errors=True)


# --- metrics --------------------------------------------------------------------------


def passes_to_settle(times: list[float]) -> int:
    """Leading passes before every later pass is within SETTLE_TOLERANCE of the timed median.

    Relative to the timed window only: while that window still sits on the
    falling part of the warm-up curve, this follows the pass count more
    than the engine (see README.md)."""
    ref = statistics.median(times[1:])
    unsettled = [i for i, t in enumerate(times) if abs(t - ref) > SETTLE_TOLERANCE * ref]
    return (max(unsettled) + 1) if unsettled else 0


def layer_metrics(run: Run, groups: dict[str, dict], session_s: float, cores: int) -> dict[str, float]:
    """Per-layer metrics: the median over the timed passes of each per-pass total."""
    from eventlog import sql_sum

    timed = sorted({r["pass"] for r in run.tracer.records if r["pass"] > 0})
    by_pass: dict[int, dict[str, float]] = {}
    for p in timed:
        recs = [r for r in run.tracer.records if r["pass"] == p]
        m: dict[str, float] = {}

        def g(query: str, phase: str) -> dict:
            return groups.get(f"pb/{p}/{query}/{phase}") or {}

        def total(phase: str, key: str) -> float:
            return sum(g(r["query"], phase).get(key, 0) for r in recs)

        execs = [g(r["query"], "exec") for r in recs]
        builds = [g(r["query"], "build") for r in recs]
        everything = [x for x in execs + builds if x]
        m["trace.pass_s"] = run.pass_times[p]
        m["build.s"] = sum(r.get("build_s", 0) for r in recs)
        m["build.jobs"] = total("build", "jobs")
        m["build.stages"] = total("build", "stages")
        m["build.tasks"] = total("build", "tasks")
        m["build.py4j_calls"] = sum(r.get("build_py4j", 0) for r in recs)
        m["catalyst.s"] = sum(r.get("plan_s", 0) for r in recs)
        for name in ("analysis", "optimization", "planning"):
            m[f"catalyst.{name}_ms"] = sum(r.get(f"{name}_ms", 0) for r in recs)
        m["exec.s"] = sum(r.get("exec_s", 0) for r in recs if not r.get("sink"))
        m["sink.s"] = sum(r.get("sink_s", 0) for r in recs)
        m["exec.jobs"] = total("exec", "jobs")
        m["exec.stages"] = total("exec", "stages")
        m["exec.tasks"] = total("exec", "tasks")
        m["exec.task_run_s"] = total("exec", "task_run_ms") / 1e3
        m["exec.task_cpu_s"] = total("exec", "task_cpu_ns") / 1e9
        m["exec.gc_s"] = total("exec", "gc_ms") / 1e3
        action_s = m["exec.s"] + m["sink.s"]
        m["exec.slot_util"] = m["exec.task_run_s"] / (action_s * cores) if action_s else 0.0
        m["exec.shuffle_write_bytes"] = total("exec", "shuffle_write_bytes")
        m["exec.shuffle_read_bytes"] = total("exec", "shuffle_read_bytes")
        m["exec.spill_bytes"] = total("exec", "spill_bytes")
        m["exec.peak_mem_bytes"] = max((x.get("peak_mem_bytes", 0) for x in execs if x), default=0)
        # Python/Arrow worker nodes are the ones that time their workers
        python_nodes = {n for x in everything for (n, metric) in x["sql"] if metric == PYTHON_TIME}
        m["python.s"] = sum(sql_sum(x, PYTHON_TIME) for x in everything) / 1e9
        m["python.rows"] = sum(
            v for x in everything for (n, metric), v in x["sql"].items() if metric == "number of output rows" and n in python_nodes
        )
        m["scan.bytes"] = sum(x.get("input_bytes", 0) for x in everything)
        m["scan.rows"] = sum(x.get("input_records", 0) for x in everything)
        m["scan.time_s"] = sum(sql_sum(x, "scan time") for x in everything) / 1e3
        sinks = [g(r["query"], "exec") for r in recs if r.get("sink")]
        m["sink.commit_s"] = sum(sql_sum(x, "job commit time") for x in sinks if x) / 1e3
        m["sink.rows"] = sum(sql_sum(x, "number of output rows", "Execute InsertIntoHadoopFsRelationCommand") for x in sinks if x)
        m["sink.bytes"] = sum(sql_sum(x, "written output") for x in sinks if x)
        m["sink.files"] = sum(sql_sum(x, "number of written files") for x in sinks if x)
        m["sink.bytes_per_row"] = m["sink.bytes"] / m["sink.rows"] if m["sink.rows"] else 0.0
        accounted = m["build.s"] + m["catalyst.s"] + m["exec.s"] + m["sink.s"]
        m["trace.accounted_frac"] = accounted / m["trace.pass_s"]
        for r in recs:
            q = r["query"]
            m[f"q.{q}.build_s"] = r.get("build_s", 0.0)
            m[f"q.{q}.build_jobs"] = g(q, "build").get("jobs", 0)
            m[f"q.{q}.exec_s"] = r.get("exec_s", 0.0)
        by_pass[p] = m
    keys = {k for bp in by_pass.values() for k in bp}
    out = {k: statistics.median(bp.get(k, 0) for bp in by_pass.values()) for k in keys}
    out["session.start_s"] = session_s
    out["warmup.first_pass_s"] = run.pass_times[0]
    out["warmup.passes_to_settle"] = passes_to_settle(run.pass_times)
    return out


def stop_spark(spark) -> None:
    """Stop the session and wait until its JVM has exited."""
    import subprocess

    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=26.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "spark_etl_pipeline_spark")) or not os.path.isdir(DATA):
        print(f"[perfbench] run from the repository root: no engine package or data under {ROOT}", file=sys.stderr)
        return 2

    cpu_before = _cpu_ticks()
    cores = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    for sub in ("spark-local", "tmp"):
        os.makedirs(os.path.join(WORK, sub), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")

    # every workload pays the same imports inside setup_s: pyspark and every
    # engine module, before the staging timer starts
    from spark_etl_pipeline_spark.plans import registry
    from spark_etl_pipeline_spark.session import get_spark

    registry.load_all()

    t = time.perf_counter()
    tables_dir, table_rows = stage_tables()
    if args.workload == CLICKSTREAM:
        logs, dim_path, marker = stage_clickstream(args.seed)
        input_rows = marker["rows"]
    else:
        names = REGISTRY_WORKLOADS[args.workload]
        oracle_results(tables_dir, names)
        input_rows = sum(
            table_rows[t_]
            for q in names
            for t_ in TABLES
            if re.search(rf"\b{t_}\b", registry.REGISTRY[q].oracle)
        )
    staging_s = time.perf_counter() - t

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')} -Dderby.system.home={os.path.join(WORK, 'tmp')}",
    }
    eventlog_dir = os.path.join(WORK, "eventlog", str(os.getpid()))
    if args.trace:
        os.makedirs(eventlog_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + eventlog_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    # input check: every input file is present with the row count staged
    if args.workload == CLICKSTREAM:
        if _parquet_rows(logs) != input_rows:
            raise RuntimeError(f"{logs}: row count differs from its staging marker")
    else:
        for t_, n in table_rows.items():
            if _parquet_rows(os.path.join(tables_dir, f"{t_}.parquet")) != n:
                raise RuntimeError(f"{t_}: row count differs from its staging marker")
    t = time.perf_counter()
    spark = get_spark("perfbench", extra_conf=conf)
    session_s = time.perf_counter() - t
    setup_s = time.perf_counter() - T_START - staging_s

    run = Run(spark, Tracer(spark, bool(args.trace)))
    try:
        if args.workload == CLICKSTREAM:
            run_clickstream(run, logs, dim_path, marker, args.seconds)
        else:
            run_registry(run, args.workload, tables_dir, args.seed, args.seconds)
    finally:
        stop_spark(spark)

    pass_s = statistics.median(run.pass_times[1:])
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "staging_s": staging_s,
        "setup_s": setup_s,
        "pass_times": run.pass_times,
        "queries": run.tracer.records,
        "input_rows": input_rows,
        "attempted": run.attempted,
        "failed": run.failed,
        "host": host_record(cpu_before, _cpu_ticks()),
    }
    if args.trace:
        import eventlog

        (log_file,) = [os.path.join(eventlog_dir, f) for f in os.listdir(eventlog_dir)]
        metrics = layer_metrics(run, eventlog.parse_file(log_file), session_s, cores)
        # keep the latest raw log per workload for a closer look
        os.replace(log_file, os.path.join(WORK, "eventlog", f"{args.workload}.jsonl"))
        os.rmdir(eventlog_dir)
        units = {m["name"]: m["unit"] for m in _benchmark_spec()["per_layer"]}
    else:
        metrics = {"setup_s": setup_s, "pass_s": pass_s, "rows_per_s": input_rows / pass_s}
        units = {m["name"]: m["unit"] for m in _benchmark_spec()["end_to_end"]}
    record["metrics"] = metrics
    with open(os.path.join(WORK, "runs.jsonl"), "a", encoding="utf-8") as fh:
        fh.write(json.dumps(record) + "\n")
    print(
        f"[perfbench] {args.workload}: setup_s={setup_s:.3f} s pass_s={pass_s:.3f} s "
        f"rows_per_s={input_rows / pass_s:.1f} 1/s failed_frac={run.failed / max(run.attempted, 1):.4f} "
        f"host={json.dumps(record['host'])}",
        file=sys.stderr,
    )
    correct = run.failed == 0
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": run.attempted,
                "failed": run.failed,
                # a query outside this run's workload did no work in it
                "metrics": {k: {"value": metrics.get(k, 0), "unit": u} for k, u in units.items()},
            }
        )
    )
    return 0 if correct else 1


def _benchmark_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        return json.load(fh)


if __name__ == "__main__":
    sys.exit(main())
