from __future__ import annotations

import os
import subprocess
import sys

import pytest

from neo4j_arrow_spark.session import get_session

SF_DIR = "/root/testdata/sf0.001"

#: test profile (r6 verdict #6 — the default suite must stay under
#: ~12 min). "quick" (default) trims hypothesis example counts; "full"
#: restores the round-gate counts. Select with
#: ``SPARK_GRAFT_TEST_PROFILE=full pytest tests/``. Coverage note: the
#: quick profile runs every test and the ENTIRE 220+-query oracle gate
#: (concurrently, see full_oracle_background) — only the fuzz example
#: counts shrink.
PROFILE = os.environ.get("SPARK_GRAFT_TEST_PROFILE", "quick")


def fuzz_examples(full_count: int, quick_count: int = 25) -> int:
    """Hypothesis max_examples for the active profile."""
    return full_count if PROFILE == "full" else min(full_count, quick_count)


def _driver_mem_mb(shares: int) -> int:
    """One share of the test JVMs' heap budget: half the machine's
    memory split evenly over ``shares``, capped at 8g. The full suite
    starts up to five local-mode JVMs (this session, three shard
    sessions, the oracle subprocess); at 8g each they overrun a 16 GB
    machine. The other half is for what the heaps do not count: each
    JVM's off-heap memory, the Python workers, the pytest processes and
    the page cache. Splitting ALL of it over the heaps leaves none, and
    with no swap the kernel then evicts the JVMs' own mapped code and
    jars and the run crawls (measured on a 4-core 16 GB machine: the
    main session at ~half its items when the 2,670 s timeout hit). The
    oracle subprocess counts as two shares: it runs the sf0.01 registry
    while the other sessions run 7-row fixtures, and the run waits for
    it (on a 4-core 16 GB machine: 582 s at one share, 516 s at two)."""
    with open("/proc/meminfo") as f:
        kb = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:"))
    return min(8 * 1024, kb // 1024 // 2 // shares)


def spark_jobs(spark, fn) -> set:
    """The ids of the Spark jobs ``fn()`` runs: the status tracker's
    job ids after it minus those before, with the listener bus drained
    on both sides so every finished job is registered."""
    sc = spark.sparkContext

    def ids() -> set:
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return set(sc.statusTracker().getJobIdsForGroup(None))

    before = ids()
    fn()
    return ids() - before


@pytest.fixture(scope="session")
def spark():
    spark = get_session(
        app_name="neo4j_arrow_spark-tests",
        extra_conf={
            "spark.sql.shuffle.partitions": "8",
            # set at collection (pytest_collection_modifyitems) and
            # inherited by the shard and oracle subprocesses
            "spark.driver.memory": os.environ["SPARK_GRAFT_DRIVER_MEM"],
        },
    )
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


# -- full-registry oracle gate, started at session BEGIN -------------------
#
# The full oracle run (tools/oracle_check.py, every registry query vs
# DuckDB at sf0.01) takes ~9 min in its own subprocess/SparkSession.
# Running it sequentially would alone blow the 12-min budget, so an
# autouse session fixture launches it when the first test starts and
# test_full_oracle.py JOINS it at its turn — wall time becomes
# max(oracle, rest-of-suite) instead of the sum, with zero coverage
# loss in either profile.

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_ORACLE_SF = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")


def _oracle_runs(items) -> bool:
    """Whether this run starts the full-oracle subprocess."""
    return (
        any("test_full_oracle" in item.nodeid for item in items)
        and os.environ.get("SPARK_GRAFT_SKIP_FULL_ORACLE") != "1"
        and os.path.isdir(_ORACLE_SF)
    )


@pytest.fixture(scope="session", autouse=True)
def full_oracle_background(request):
    if not _oracle_runs(request.session.items):
        yield None
        return
    proc = subprocess.Popen(
        [sys.executable, os.path.join(_REPO, "tools", "oracle_check.py"), _ORACLE_SF],
        stdout=subprocess.PIPE,
        stderr=subprocess.PIPE,
        text=True,
        # r9: the suite runs up to 5 concurrent local-mode JVMs; a
        # local[32] each multiplies scheduler/GC churn for tiny tasks.
        # 16 threads keep the sf0.01 oracle queries parallel enough.
        env=dict(
            os.environ,
            SPARK_GRAFT_CPUS=os.environ.get("SPARK_GRAFT_CPUS", "16"),
            SPARK_GRAFT_DRIVER_MEM=_ORACLE_MEM.get(
                "mem", os.environ["SPARK_GRAFT_DRIVER_MEM"]
            ),
        ),
    )
    try:
        yield proc
    finally:
        if proc.poll() is None:
            proc.terminate()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()


# -- parallel suite shard, started at collection time ------------------------
#
# The default suite is WAIT-bound, not CPU-bound (measured: 21m30s wall,
# 8m32s user on 32 cores) — Spark job latency dominates, one session at
# a time. The three heaviest SELF-CONTAINED suites (the golden corpus +
# the two fuzzers: ~11 min combined, own fixtures, no cross-file state)
# run in a parallel pytest subprocess with its own SparkSession; the
# main session deselects them and `test_zshard_join.py` (collected
# last) joins the subprocess and fails loudly with its tail if ANY
# shard test failed — zero coverage loss, wall time becomes
# max(shard, rest) instead of the sum. A direct run of a shard file
# (`pytest tests/test_cypher_golden.py`) is NOT sharded (the guard
# requires a broad selection), and SPARK_GRAFT_NO_SHARD=1 forces the
# old sequential behavior.

_SHARD_GROUPS = (
    # r9 (VERDICT r8 #7): three balanced groups. Measured solo walls:
    # main side 6m57s (455 tests), golden corpus ~6m, fuzzers+write
    # ~5.5m, advice/khop-skew/round4 ~3.5m, oracle subprocess ~6.5m —
    # the suite is WAIT-bound, not CPU-bound (17m23s wall / 8m30s user
    # across everything in the two-group layout), so the wall is
    # max(group) plus contention stretch, and more, smaller groups
    # shrink the pole. All grouped suites are self-contained (own
    # fixtures/graph names, no cross-file state).
    ("test_cypher_golden.py",),
    (
        "test_cypher_semantic_fuzz.py",
        "test_cypher_dialect_fuzz.py",
        "test_cypher_write.py",
    ),
    (
        "test_advice_r5.py",
        "test_advice_r4.py",
        "test_khop_skew.py",
        "test_round4_ops.py",
    ),
)
_SHARD_FILES = tuple(f for g in _SHARD_GROUPS for f in g)
_SHARD = {"procs": [], "files": _SHARD_FILES}
#: the oracle subprocess's driver heap when this run sized the heaps
_ORACLE_MEM: dict[str, str] = {}


def pytest_collection_modifyitems(config, items):
    shard = [
        i for i in items if any(f in i.nodeid for f in _SHARD_FILES)
    ]
    rest = [
        i for i in items if not any(f in i.nodeid for f in _SHARD_FILES)
    ]
    # only shard a BROAD run (the full suite); running a shard file
    # directly keeps it in-process. The JOINER must be selected too —
    # without test_zshard_join in the run nothing would check the
    # subprocesses' results, silently dropping the shard's coverage
    # (r9: `pytest tests/test_cypher_write.py tests/test_cypher.py`
    # used to orphan the write suite this way)
    joiner_selected = any("test_zshard_join" in i.nodeid for i in items)
    sharded = (
        os.environ.get("SPARK_GRAFT_SHARD") != "1"
        and os.environ.get("SPARK_GRAFT_NO_SHARD") != "1"
        and shard
        and len(rest) >= 50
        and joiner_selected
    )
    groups = []
    for group in _SHARD_GROUPS if sharded else ():
        sel = [f for f in group if any(f in i.nodeid for i in shard)]
        if sel:
            groups.append(sel)
    # a shard subprocess inherits its parent's value; an explicit one
    # sizes every JVM, the oracle's included
    if "SPARK_GRAFT_DRIVER_MEM" not in os.environ:
        oracle = _oracle_runs(items)
        share = _driver_mem_mb(1 + len(groups) + 2 * oracle)
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{share}m"
        if oracle:
            _ORACLE_MEM["mem"] = f"{2 * share}m"
    if not groups:
        return
    # shard sessions run 7-row-fixture, latency-bound suites — 8 local
    # threads each is plenty and 5 concurrent local[32] JVMs would
    # serialize on scheduler/GC churn instead (r9 measurement: the
    # 3-group local[32] layout was SLOWER than 2 groups, 18m34 vs 17m23)
    # — and never more threads than the run's own core count: on a
    # 4-core machine, local[8] shards doubled the task threads and
    # Python workers each one started
    cpus = min(8, int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    env = dict(
        os.environ,
        SPARK_GRAFT_SHARD="1",
        SPARK_GRAFT_CPUS=os.environ.get("SPARK_GRAFT_SHARD_CPUS", str(cpus)),
    )
    for sel in groups:
        _SHARD["procs"].append((sel, subprocess.Popen(
            [
                sys.executable, "-m", "pytest", "-q",
                *[os.path.join(_REPO, "tests", f) for f in sel],
            ],
            stdout=subprocess.PIPE,
            stderr=subprocess.STDOUT,
            text=True,
            env=env,
            cwd=_REPO,
        )))
    config.hook.pytest_deselected(items=shard)
    items[:] = rest
