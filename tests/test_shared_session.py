"""One session, many queries: engine code leaves the caller's session
conf alone, so queries can share a session — sequentially and from
concurrent threads — without one observing another's settings.

- the narrow-map parallelism guard probes without a job and without a
  conf write;
- a guarded query and a streaming replay run concurrently on one
  session, both oracle-exact, and the session conf is the same before
  and after;
- a streaming replay is oracle-exact from a non-UTC caller session,
  also when called again with its staging already cached.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

import duckdb
import pyspark.sql.functions as F

from mapreduce_assignments_spark import workloads
from mapreduce_assignments_spark.sources.tables import (
    TABLE_NAMES,
    ensure_min_parallelism,
    load_table,
)
from tools.check_correctness import _canon


def _jobs_in_group(spark, group: str, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc._jsc.clearJobGroup()
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def test_guard_runs_no_job_and_writes_no_conf(spark, sf_dir):
    """The guard's probe is physical planning only: no Spark job and
    no conf write (AQE in particular is never flipped), whether the
    frame is a scan, a filtered scan, a ``coalesce(1)`` frame (split)
    or an AQE frame that already carries an exchange (passed
    through)."""
    docs = load_table(spark, sf_dir, "documents")
    frames = {
        "scan": docs,
        "filtered_scan": docs.where(F.col("doc_id") % 2 == 0),
        "coalesced": spark.range(1000).coalesce(1),
        "repartitioned": spark.range(1000).repartition(3),
    }
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    assert aqe == "true"
    conf = spark.conf.getAll
    for name, df in frames.items():
        guarded, jobs = _jobs_in_group(
            spark, f"guard-probe-{name}", lambda: ensure_min_parallelism(df)
        )
        assert jobs == [], f"{name}: the guard ran jobs {jobs}"
        assert spark.conf.get("spark.sql.adaptive.enabled") == aqe, name
        assert spark.conf.getAll == conf, name
        if name == "repartitioned":
            assert guarded is df  # an exchange is AQE's to size
    coalesced = ensure_min_parallelism(frames["coalesced"])
    assert (
        coalesced.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    )


def _oracle(sf_dir: str, name: str):
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    cur = con.execute(workloads.ORACLE[name])
    cols = [d[0] for d in cur.description]
    return _canon(cur.fetchall(), cols)


def test_guarded_query_and_stream_replay_share_a_session(spark, sf_dir):
    """random_projection (guarded narrow map) and
    streaming_hourly_counts (a replay with its own shuffle-partition
    and no-data-batch settings) run from two threads on ONE session:
    both oracle-exact, and the session conf is identical before and
    after. The snapshot is taken after one
    warm call of each, so first-use effects (the load_table entry
    pin, staging) are not mistaken for leaks."""
    names = ("random_projection", "streaming_hourly_counts")

    def run(name):
        df = workloads.ALL_QUERIES[name](spark, sf_dir)
        return _canon([tuple(r) for r in df.collect()], df.columns)

    for name in names:
        run(name)
    before = spark.conf.getAll
    with ThreadPoolExecutor(max_workers=2) as pool:
        got = dict(zip(names, pool.map(run, names, timeout=600)))
    assert spark.conf.getAll == before
    for name in names:
        assert got[name] == _oracle(sf_dir, name), name


def test_stream_replay_is_utc_from_a_non_utc_session(spark, sf_dir):
    """A replay's timestamps follow the entry contract (UTC) whatever
    the caller's session timezone. Each replay runs twice from an
    America/New_York session: the second call finds its staging cached,
    so no load_table pin runs on the way — the replay session itself
    must be UTC. The caller's timezone is left as it was."""
    ny = spark.newSession()
    ny.conf.set("spark.sql.session.timeZone", "America/New_York")
    for name in ("streaming_hourly_counts", "streaming_sliding_counts"):
        want = _oracle(sf_dir, name)
        for call in (1, 2):
            df = workloads.ALL_QUERIES[name](ny, sf_dir)
            got = _canon([tuple(r) for r in df.collect()], df.columns)
            assert got == want, f"{name}, call {call}"
    assert ny.conf.get("spark.sql.session.timeZone") == "America/New_York"
