"""Client-side benchmark of neo4j_arrow_spark.

    python3 clientbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source checkout. One process acts as a single
client of the public API (closed loop, one op in flight). It generates
its inputs from ``--seed``, sets up a session several times (reporting
the median of all but the first, which also starts the JVM), runs the
workload, checks every result, and prints as its last stdout line
one JSON object with ``correct``, ``attempted``, ``failed`` and
``metrics``: the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``. The line before it is an ``info`` object
(generated shape, versions, every latency sample).
A traced run also writes its spans to ``.clientbench/``.

``--smoke`` shrinks the inputs; ``--corrupt`` alters the first result
after the set-ups before it is checked (both for ``selftest.py``).
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".clientbench")
#: set-up medians leave out the first set-up of a run, which also
#: starts the JVM and compiles every first call
WARM = slice(1, None)


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def pin_to_box() -> dict:
    """Size the session to this machine through the engine's own
    settings, and keep every file the run writes inside the checkout."""
    cpus = len(os.sched_getaffinity(0))
    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    driver_gb = max(1, min(3, mem_kb // (1024 * 1024) // 4))
    tmp = os.path.join(STATE, "tmp")
    local = os.path.join(STATE, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{driver_gb}g"
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    # every JVM (the launcher's too): temp files here, no /tmp/hsperfdata
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    return {"cpus": cpus, "mem_total_mb": mem_kb // 1024, "driver_mem": f"{driver_gb}g"}


def versions(spark) -> dict:
    import pyarrow
    import pyspark

    return {
        "python": sys.version.split()[0],
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "java": spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
    }


def stolen_cpu_s() -> float:
    """CPU seconds the hypervisor has given to other guests while this
    machine's CPUs wanted to run (the ``steal`` column of /proc/stat,
    summed over CPUs). Runs during which it grows are slower."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def peak_rss_mb(spark) -> float:
    """JVM high-water RSS plus this process's."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    jvm_kb = 0
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + py_kb) / 1024.0


def stop_jvm() -> None:
    """Stop Spark and wait for the JVM (and the Python workers it forked)
    to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway exits on EOF of its stdin
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def _kind_median(ops, kinds, f) -> float:
    """Sum over ``kinds`` of each kind's median of ``f(op)``: the value
    of one cycle of the workload's ops at the median."""
    return sum(_median([f(o) for o in ops if o.kind == k]) for k in kinds)


def throughput(wl, ops) -> float:
    """Units (rows streamed, or ops) per second of one cycle of the
    workload's ops at the median."""
    kinds = wl.reads + wl.writes
    return _kind_median(ops, kinds, lambda o: o.units) / _kind_median(ops, kinds, lambda o: o.wall)


def end_to_end(wl, ops, checked, setup_s, rss) -> dict:
    """``setup_s``: the walls of the WARM set-ups."""
    if wl.writes:
        write_p50 = _kind_median(ops, wl.writes, lambda o: o.wall)
    else:
        write_p50 = _median(wl.register_s[WARM])
    return {
        "setup_s": {"value": _median(setup_s), "unit": "s"},
        "op_p50_s": {"value": _kind_median(ops, wl.reads, lambda o: o.wall), "unit": "s"},
        "write_p50_s": {"value": write_p50, "unit": "s"},
        "throughput_per_s": {"value": throughput(wl, ops), "unit": "1/s"},
        "peak_rss_mb": {"value": rss, "unit": "MB"},
        "ok_ops_ratio": {"value": sum(o.ok for o in checked) / len(checked), "unit": "ratio"},
    }


def growth_ratio(ops, kinds) -> float:
    """Latency growth along a sequence of ops: per kind, the mean of its
    last quarter and of its first quarter (one sample each below eight
    samples); the ratio of their sums."""
    first = last = 0.0
    for k in kinds:
        walls = [o.wall for o in ops if o.kind == k]
        q = max(1, len(walls) // 4)
        first += statistics.fmean(walls[:q])
        last += statistics.fmean(walls[-q:])
    return last / first


def read_layers(ops, kinds, by_op, cores) -> dict:
    """Per-layer figures of traced read ops, per cycle: each kind's
    median, summed over ``kinds``; ratios from those sums."""

    def k(f):
        return _kind_median(ops, kinds, f)

    def span(name):
        return lambda o: by_op.get(o.id, {}).get(name, 0.0)

    def rows(o):  # result rows; pairs for a k-hop result
        return o.probe.get("pairs", o.rows)

    task_s = k(lambda o: o.spark["task_ms"] / 1000.0)
    wall = k(lambda o: o.wall)
    result_rows = k(rows)
    return {
        "api.submit_s": (k(span("api.submit")), "s"),
        "jobs.wait_s": (k(span("jobs.wait")), "s"),
        "catalog.get_s": (k(span("catalog.get")), "s"),
        "fetch.s": (k(span("fetch")), "s"),
        "fetch.rows": (k(lambda o: o.rows), "count"),
        "fetch.bytes": (k(lambda o: o.probe["fetch_bytes"]), "B"),
        "operator.engine_s": (k(span("probe.engine")), "s"),
        "fetch.transport_s": (k(lambda o: span("fetch")(o) - span("probe.engine")(o)), "s"),
        "client.self_s": (k(lambda o: span("op." + o.kind)(o)), "s"),
        "cypher.transpile_s": (k(span("cypher.transpile")), "s"),
        "cypher.analyze_s": (k(span("cypher.analyze")), "s"),
        "spark.task_s": (task_s, "s"),
        "spark.busy_ratio": (task_s / (wall * cores), "ratio"),
        "spark.stages": (k(lambda o: o.spark["stages"]), "count"),
        "spark.tasks": (k(lambda o: o.spark["tasks"]), "count"),
        "spark.shuffle_write_bytes": (k(lambda o: o.spark["shuffle_write"]), "B"),
        "spark.shuffle_read_bytes": (k(lambda o: o.spark["shuffle_read"]), "B"),
        "spark.shuffle_bytes_per_row": (
            k(lambda o: o.spark["shuffle_write"]) / max(1, result_rows),
            "B/row",
        ),
        "spark.records_in_per_row": (
            k(lambda o: o.spark["records_in"]) / max(1, result_rows),
            "ratio",
        ),
        "spark.gc_s": (k(lambda o: o.spark["gc_ms"] / 1000.0), "s"),
    }


def per_layer(wl, ops, tracer) -> tuple[dict, dict]:
    """The per-layer metrics of a traced run, and the same read figures
    per op kind (for the info line)."""
    # a failed op may lack its probes
    traced = [o for o in ops if o.traced and o.ok]
    counted = [o for o in ops if o.traced and o.spark is not None]
    by_op: dict[str, dict[str, float]] = {}
    for s in tracer.self_times():
        if s["op"] is not None:
            d = by_op.setdefault(s["op"], {})
            d[s["name"]] = d.get(s["name"], 0.0) + s["self"]
    cores = wl.counters.cores
    # the WARM set-ups: nested span totals per set-up
    setups = tracer.under("setup")[WARM]

    def setup_median(name):
        return _median([d.get(name, 0.0) for d in setups])

    m = {"session.start_s": (setup_median("session.start"), "s")}
    m.update(read_layers(traced, wl.reads, by_op, cores))
    # traced over untraced median wall, per op kind
    ratios = []
    for kind in wl.reads + wl.writes:
        a = [o.wall for o in traced if o.kind == kind]
        b = [o.wall for o in ops if o.kind == kind and not o.traced]
        if a and b:
            ratios.append(_median(a) / _median(b))
    if wl.writes:
        growth = growth_ratio(ops, wl.writes)
        write_s = _kind_median(traced, wl.writes, lambda o: o.wall)
        write_wait = _kind_median(
            traced, wl.writes, lambda o: by_op.get(o.id, {}).get("jobs.wait", 0.0)
        )
    else:
        growth = growth_ratio(ops, wl.reads)
        write_s = _median(wl.register_s[WARM])
        write_wait = setup_median("jobs.wait")
    m.update({
        "write.s": (write_s, "s"),
        "write.jobs_wait_s": (write_wait, "s"),
        "write.growth_ratio": (growth, "ratio"),
        "spark.failed_tasks": (
            statistics.fmean([o.spark["failed"] for o in counted]) if counted else 0.0,
            "count",
        ),
        "ingest.from_arrow_s": (setup_median("ingest.from_arrow"), "s"),
        "ingest.register_wait_s": (setup_median("jobs.wait"), "s"),
        "ingest.readback_s": (setup_median("setup.readback"), "s"),
        "trace_overhead_ratio": (_median(ratios), "ratio"),
    })
    metrics = {k: {"value": v, "unit": u} for k, (v, u) in m.items()}
    kinds = {
        kind: {k: v for k, (v, _) in read_layers(traced, (kind,), by_op, cores).items()}
        for kind in wl.reads
    }
    return metrics, kinds


def by_kind(ops) -> dict:
    """Latency samples per op kind."""
    kinds = {}
    for o in ops:
        kinds.setdefault(o.kind, []).append(o.wall)
    return {k: {"n": len(v), "p50": _median(v), "samples": v} for k, v in kinds.items()}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--corrupt", action="store_true")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "neo4j_arrow_spark", "__init__.py")):
        print(f"no neo4j_arrow_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; have {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    box = pin_to_box()
    from neo4j_arrow_spark.api import Neo4jArrowSpark
    from neo4j_arrow_spark.session import get_session

    from spans import SparkCounters, Tracer

    wl = WORKLOADS[args.workload](args.seed, args.smoke)
    shape = wl.generate()  # the benchmark's own work: not set-up time
    tracer = Tracer()
    stolen = stolen_cpu_s()
    spark = None
    setup_s = []
    try:
        for i in range(wl.setups):
            tracer.enabled = bool(args.trace)
            t0 = time.perf_counter()
            with tracer.span("setup"):
                if spark is not None:
                    spark.stop()
                with tracer.span("session.start"):
                    spark = get_session(
                        "clientbench",
                        extra_conf={"spark.sql.warehouse.dir": os.path.join(STATE, "warehouse")},
                    )
                counters = SparkCounters(spark) if args.trace else None
                wl.attach(Neo4jArrowSpark(spark), tracer, counters)
                wl.setup()
            setup_s.append(time.perf_counter() - t0)
        wl.corrupt_next = args.corrupt
        t0 = time.perf_counter()
        run_ops = wl.run(args.seconds, traced=bool(args.trace))
        loop_s = time.perf_counter() - t0
        ops = [o for o in run_ops if not o.warmup]
        rss = peak_rss_mb(spark)
        info = {
            "workload": wl.name,
            "seed": args.seed,
            "trace": args.trace,
            "box": box,
            "versions": versions(spark),
            "shape": shape,
            "setup_runs_s": setup_s,
            "loop_s": loop_s,
            "stolen_cpu_s": stolen_cpu_s() - stolen,
            "ops": len(ops),
            "latency_s": by_kind(ops),
            "warmup_s": by_kind([o for o in run_ops if o.warmup]),
            wl.units_name: throughput(wl, ops),
        }
        if args.trace:
            metrics, info["layers_by_kind"] = per_layer(wl, ops, tracer)
            spans_path = os.path.join(STATE, f"spans-{wl.name}-{args.seed}.jsonl")
            tracer.write(spans_path)
            info["spans"] = os.path.relpath(spans_path, ROOT)
        else:
            metrics = end_to_end(wl, ops, run_ops + wl.setup_ops, setup_s[WARM], rss)
    finally:
        stop_jvm()
    checked = run_ops + wl.setup_ops
    failed = sum(not o.ok for o in checked)
    info["failed_ops_ratio"] = failed / len(checked)
    print(json.dumps({"info": info}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(checked),
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
