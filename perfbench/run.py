#!/usr/bin/env python3
"""The repository benchmark: one workload, one fresh Spark JVM.

    python3 perfbench/run.py --workload text_relational --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. Steps:

1. set-up (billed to ``setup_s``): generate the seeded input tables
   into a work directory of the checkout, start
   ``local[<cores>]`` through ``session.get_spark``, then run one
   untimed pass that collects every query and compares it with its
   DuckDB oracle over the same files (it also fills the engine's
   process-wide input caches), then one untimed pass shaped like a
   timed one, so that timing starts on warm passes;
2. timed passes over the workload's query list, each query built and
   written to the ``noop`` sink, until ``--seconds`` have elapsed;
3. with ``--trace 1`` the same run also keeps the per-layer ledger
   (``ledger.py``): job/stage/task counts from the status tracker and
   task metrics from Spark's event log.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` (queries that raised or missed their oracle) and
``metrics`` — the end-to-end metrics untraced, the per-layer metrics
traced. The line before it states the sample counts and the oracle
outcome of the known open defects (``suite.OPEN_DEFECTS``). Exit code 2,
with no result, when the engine sources are not next to this
directory.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import sys
import tempfile
import time
from contextlib import nullcontext
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import datagen  # noqa: E402
import ledger  # noqa: E402
import suite  # noqa: E402


# Timed passes per run at the least. The per-pass median query latency
# swings by up to 20 % between passes of one run; pooling the samples
# of two passes steadies query_p50_s between runs (README.md).
MIN_PASSES = 2


def _die(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _stop_jvm() -> None:
    """Stop the session and the gateway JVM, and wait for it to exit
    (its Python workers go with it)."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()  # the gateway JVM exits when its stdin closes
        gateway.proc.wait(timeout=60)
        SparkContext._gateway = None


def _spark_conf(work: Path, trace: bool) -> dict[str, str]:
    conf = {
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        # -XX:-UsePerfData: no hsperfdata file under /tmp
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": (work / "eventlog").as_uri(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        })
    return conf


def _oracle_pass(spark, con, data: str, queries, builders, oracles, canon) -> tuple[float, list]:
    """Collect every query and compare it with its oracle. Return the
    Spark seconds (the DuckDB side is not billed to set-up) and the
    queries that raised or missed."""
    spark_s, failed = 0.0, []
    for q in queries:
        t0 = time.perf_counter()
        try:
            df = builders[q](spark, data)
            s_cols, s_rows = df.columns, [tuple(r) for r in df.collect()]
        except Exception as e:  # noqa: BLE001
            spark_s += time.perf_counter() - t0
            failed.append(q)
            print(f"perfbench: {q} raised {type(e).__name__}: {str(e)[:300]}", file=sys.stderr)
            continue
        spark_s += time.perf_counter() - t0
        try:
            cur = con.execute(oracles[q])
            d_cols, d_rows = [d[0] for d in cur.description], cur.fetchall()
            ok = (sorted(s_cols) == sorted(d_cols) and len(s_rows) == len(d_rows)
                  and canon(s_rows, s_cols) == canon(d_rows, d_cols))
        except Exception as e:  # noqa: BLE001
            ok = False
            print(f"perfbench: oracle of {q} raised {type(e).__name__}: {str(e)[:300]}",
                  file=sys.stderr)
        if not ok:
            failed.append(q)
            print(f"perfbench: {q} does not match its oracle", file=sys.stderr)
    return spark_s, failed


def _noop_pass(spark, data: str, queries, builders, phase, pass_no: int, stats,
               samples: list) -> float:
    """Build each query and write it to the noop sink; return the pass's
    wall seconds and append each query's seconds to ``samples``."""
    t0 = time.perf_counter()
    for q in queries:
        stats["attempted"] += 1
        t = time.perf_counter()
        try:
            with phase(pass_no, q, "construct"):
                df = builders[q](spark, data)
            with phase(pass_no, q, "execute"):
                df.write.format("noop").mode("overwrite").save()
        except Exception as e:  # noqa: BLE001
            stats["failed"] += 1
            print(f"perfbench: {q} raised {type(e).__name__}: {str(e)[:300]}", file=sys.stderr)
        samples.append(time.perf_counter() - t)
    return time.perf_counter() - t0


def run(workload: str, seed: int, seconds: float, trace: bool, scale: float,
        work: Path, break_oracle: str | None) -> dict:
    queries = suite.WORKLOADS[workload]
    open_defects = suite.OPEN_DEFECTS.get(workload, ())
    cores = len(os.sched_getaffinity(0))
    for sub in ("tmp", "spark-local", "data", "eventlog"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    # every temp dir the engine, Spark and its Python workers make
    # lands inside the checkout's work directory
    os.environ["TMPDIR"] = tempfile.tempdir = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)

    t_setup = time.perf_counter()
    data = str(work / "data")
    datagen.generate(data, seed, scale)
    stage_s = time.perf_counter() - t_setup

    t0 = time.perf_counter()
    sys.path.insert(0, str(ROOT))
    sys.path.insert(0, str(ROOT / "tools"))
    import check_correctness  # canonicalization shared with the oracle gate
    import duckdb
    from pyspark import SparkContext

    import bench
    from mapreduce_assignments_spark import workloads
    from mapreduce_assignments_spark.session import get_spark

    spark = get_spark(f"perfbench-{workload}", extra_conf=_spark_conf(work, trace))
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t0

    missing = [q for q in queries + open_defects
               if q not in workloads.ALL_QUERIES or q not in workloads.ORACLE]
    if missing:
        raise SystemExit(f"perfbench: not registered or without an oracle: {missing}")
    oracles = dict(workloads.ORACLE)
    if break_oracle:
        # self-test hook: an oracle with one row too many must fail the gate
        o = oracles[break_oracle]
        oracles[break_oracle] = f"SELECT * FROM ({o}) UNION ALL (SELECT * FROM ({o}) LIMIT 1)"
    con = duckdb.connect()
    for t in check_correctness.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")

    # the first-call fills of the engine's process-wide _STAGED_* input
    # caches, timed by wrapping the workloads module's _staged_* helpers
    stagers = {n: fn for n, fn in vars(workloads).items()
               if n.startswith("_staged_") and callable(fn)}
    fill = {"s": 0.0, "depth": 0}

    def timed(fn):
        def wrapper(*a, **kw):
            fill["depth"] += 1
            t = time.perf_counter()
            try:
                return fn(*a, **kw)
            finally:
                fill["depth"] -= 1
                if fill["depth"] == 0:
                    fill["s"] += time.perf_counter() - t
        return wrapper

    for name, fn in stagers.items():
        setattr(workloads, name, timed(fn))
    try:
        oracle_s, failed = _oracle_pass(spark, con, data, queries, workloads.ALL_QUERIES,
                                        oracles, check_correctness._canon)
    finally:
        for name, fn in stagers.items():
            setattr(workloads, name, fn)
    stats = {"attempted": len(queries), "failed": len(failed)}
    # after the workload's own queries, so any cache they share is
    # already filled; neither billed nor counted
    _, open_failed = _oracle_pass(spark, con, data, open_defects, workloads.ALL_QUERIES,
                                  oracles, check_correctness._canon)
    con.close()
    no_trace = lambda *_: nullcontext()  # noqa: E731
    warm_s = _noop_pass(spark, data, queries, workloads.ALL_QUERIES, no_trace, -1, stats, [])
    setup_s = stage_s + session_s + oracle_s + warm_s

    tracer = ledger.Tracer(spark) if trace else None
    if tracer:
        tracer.skip()
    phase = tracer.phase if tracer else no_trace

    walls: list[float] = []
    samples: list[float] = []
    t_run = time.perf_counter()
    while len(walls) < MIN_PASSES or time.perf_counter() - t_run < seconds:
        walls.append(_noop_pass(spark, data, queries, workloads.ALL_QUERIES, phase,
                                len(walls), stats, samples))

    peak_rss_mb = (_rss_mb(SparkContext._gateway.proc.pid)
                   + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0)
    _stop_jvm()

    per_query = {q: statistics.median(samples[i::len(queries)]) for i, q in enumerate(queries)}
    slowest = max(per_query, key=per_query.get)
    print("perfbench: median seconds per query: "
          f"{ {q: round(v, 3) for q, v in per_query.items()} }", file=sys.stderr)
    print(
        f"perfbench: {workload} seed={seed} cores={cores} passes={len(walls)} "
        f"queries/pass={len(queries)} latency samples={len(samples)} "
        f"tail=p100 of per-query medians ({slowest}) "
        f"attempted={stats['attempted']} failed={stats['failed']} "
        f"pass walls={[round(w, 3) for w in walls]} "
        f"open defects={ {q: 'missed' if q in open_failed else 'matched' for q in open_defects} } "
        f"setup parts: generate={stage_s:.2f}s session={session_s:.2f}s "
        f"oracle={oracle_s:.2f}s warm={warm_s:.2f}s"
    )
    if not trace:
        metrics = {
            "setup_s": (setup_s, "s"),
            "wall_s": (statistics.median(walls), "s"),
            "query_p50_s": (statistics.median(samples), "s"),
            "query_tail_s": (per_query[slowest], "s"),
        }
    else:
        log = ledger.read_event_log(str(next((work / "eventlog").iterdir())))
        ledger.check_consistency(tracer.phases, log)
        family_of = {q: fam for fam, qs in bench.FAMILIES.items() for q in qs}
        per_pass = []
        for i in range(len(walls)):
            phases = [ph for ph in tracer.phases if ph.pass_no == i]
            per_pass.append(ledger.pass_ledger(phases, log, family_of, cores))
        print(f"perfbench: ledger per pass: {json.dumps(per_pass)}", file=sys.stderr)
        metrics = {
            "session.start_s": (session_s, "s"),
            "sources.stage_s": (stage_s + fill["s"], "s"),
            "session.peak_rss_mb": (peak_rss_mb, "MB"),
            "trace.wall_s": (statistics.median(walls), "s"),
        }
        for k in per_pass[0]:
            unit = ("s" if k.endswith("_s") else "bytes" if k.endswith("bytes")
                    else "frac" if k.endswith("frac") else "count")
            metrics[k] = (statistics.median(pp[k] for pp in per_pass), unit)
    return {
        "correct": stats["failed"] == 0,
        "attempted": stats["attempted"],
        "failed": stats["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(suite.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size relative to the default (sf0.01 row counts)")
    ap.add_argument("--break-oracle", metavar="QUERY",
                    help="self-test: repeat one row of QUERY's oracle result")
    args = ap.parse_args(argv)
    if not (ROOT / "mapreduce_assignments_spark").is_dir() or not (
        ROOT / "tools" / "check_correctness.py"
    ).is_file():
        _die(f"engine sources not found under {ROOT}; run from a checkout of the repository")
    work = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    try:
        result = run(args.workload, args.seed, args.seconds, bool(args.trace), args.scale,
                     work, args.break_oracle)
    finally:
        _stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()
        except OSError:
            pass
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
