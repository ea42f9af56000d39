"""Driver-paced execution of the transpiler's recursive-CTE emissions.

Spark 4.1 executes ``WITH RECURSIVE`` through ``UnionLoopExec``, whose
per-iteration protocol is expensive: every level's step plan is
round-robin ``repartition()``-ed (a full shuffle, with the
sort-before-repartition pass) and ``count()``-ed, levels under the
LocalRelation threshold are executed a SECOND time via ``collect()``,
and each level's plan is re-optimized from scratch — measured at 18-25
Spark jobs for a 2-3 level recursion and ~2.1-2.6s warm at sf0.1 where
the same work driver-paced runs in ~1.4-2.5s less (guide §1/§5: the
driver should schedule as little as possible, and every level should
execute exactly once).

The transpiler (``cypher._varlength_recursive_sql`` /
``_opt_varlength_recursive_derived``) wraps its spark-dialect emission
in marker comments::

    /*rec[_vlp]*/WITH RECURSIVE _vlp(cols) AS (
    /*rec-anchor*/ anchor SQL /*end-rec-anchor*/
    UNION ALL
    /*rec-step*/ step SQL /*end-rec-step*/
    )/*end-rec[_vlp]*/

Because the markers are plain SQL comments the emitted text stays a
valid recursive CTE — native execution (tests, EXPLAIN, the DuckDB
oracle twin, any user running the SQL directly) is unchanged.
:func:`run_recursive_sql` executes each marked block as a driver-side
union loop with standard recursive-CTE semantics (the step sees ONLY
the previous level's rows; the result is the bag-union of every
level), materializing each level exactly once through a lazy
``localCheckpoint`` whose ``count()`` doubles as the emptiness check,
then registers the accumulated union as a temp view and rewrites the
outer query to read it (the CTE header collapses to an unused dummy so
any trailing CTE list — e.g. the shortestPath ``_svlp`` min-hops
aggregation — composes unchanged).

Checkpointed levels are re-wrapped through
``internalCreateDataFrame(queryExecution.toRdd, schema)`` before they
enter the union: ``Dataset.localCheckpoint`` produces a ``LogicalRDD``
carrying attribute-rewritten constraints from the ORIGIN plan, and on
the distinct-frontier shapes (shortestPath's ``_svlp`` aggregate,
``min(size(r))`` folds) those constraints reference attribute ids that
``UnionBase.rewriteConstraints`` cannot map — Catalyst fails
optimization with ``java.util.NoSuchElementException: key not found:
_sid#...`` (reproduced; Spark 4.1.2). The re-wrap builds a fresh
``LogicalRDD`` over the SAME checkpointed blocks with no origin
constraints, which optimizes cleanly. The checkpoint blocks are owned
by the wrapped RDD and released by the ContextCleaner once the result
DataFrame is garbage-collected — the same lifecycle a plain
``localCheckpoint`` has. (``internalCreateDataFrame`` / ``toRdd`` are
Spark-internal surface, pinned by tests/test_recursive_exec.py.)

The session backstops are honored with the same error classes the
native loop raises: ``spark.sql.cteRecursionRowLimit`` bounds the
cumulative row count ([RECURSION_ROW_LIMIT_EXCEEDED]) and
``spark.sql.cteRecursionLevelLimit`` the level count
([RECURSION_LEVEL_LIMIT_EXCEEDED]) — both as
``pyspark.errors.SparkRuntimeException`` carrying the native error
class, so callers' exception handling is uniform across paths.

The driver loop rides Spark-internal surface. If that surface breaks
(``internalCreateDataFrame`` / ``queryExecution.toRdd`` missing or
failing on a future Spark), the runner falls back to native execution
of the original statement instead of surfacing a Py4J stack: the
markers are comments, so the text executes natively unchanged.
"""

from __future__ import annotations

import itertools
import re
import threading

from pyspark.errors import SparkRuntimeException
from pyspark.sql import DataFrame, SparkSession

_BLOCK = re.compile(r"/\*rec\[(\w+)\]\*/.*?/\*end-rec\[\1\]\*/", re.S)
_ANCHOR = re.compile(r"/\*rec-anchor\*/(.*?)/\*end-rec-anchor\*/", re.S)
_STEP = re.compile(r"/\*rec-step\*/(.*?)/\*end-rec-step\*/", re.S)

#: per-execution suffix so concurrent statements in one session never
#: collide on temp-view names (itertools.count is GIL-atomic; the lock
#: documents the intent for free-threaded builds)
_SEQ = itertools.count()
_SEQ_LOCK = threading.Lock()


def _next_seq() -> int:
    with _SEQ_LOCK:
        return next(_SEQ)


_QUOTES = ("'", '"', "`")


def _rename_outside_literals(sql: str, name: str, repl: str) -> str:
    """Word-boundary rename of ``name`` that never touches the inside
    of string literals or quoted identifiers — a property literal like
    ``{name: '_vlp'}`` in user Cypher must survive the CTE rewiring
    (a bare ``\\b``-regex would rewrite it and silently change
    results). Handles backslash escapes in ' / " and doubled-quote
    escapes in all three quote styles."""
    pat = re.compile(rf"\b{re.escape(name)}\b")
    out: list[str] = []
    i, n = 0, len(sql)
    while i < n:
        nxt = min(
            (p for p in (sql.find(c, i) for c in _QUOTES) if p != -1),
            default=n,
        )
        out.append(pat.sub(repl, sql[i:nxt]))
        if nxt >= n:
            break
        ch = sql[nxt]
        j = nxt + 1
        while j < n:
            if sql[j] == "\\" and ch != "`":
                j += 2
                continue
            if sql[j] == ch:
                if j + 1 < n and sql[j + 1] == ch:  # '' / "" / `` escape
                    j += 2
                    continue
                j += 1
                break
            j += 1
        out.append(sql[nxt:j])
        i = j
    return "".join(out)


def _checkpoint_level(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Materialize-once handle for one recursion level: a lazy local
    checkpoint (the caller's ``count()`` fills it in ONE job), re-read
    through a constraint-free ``LogicalRDD`` so the level union never
    trips Catalyst's constraint-rewrite bug (module docstring)."""
    ck = df.localCheckpoint(eager=False)
    jdf = ck._jdf
    rdd = jdf.queryExecution().toRdd()
    jnew = spark._jsparkSession.internalCreateDataFrame(
        rdd, jdf.schema(), False
    )
    return DataFrame(jnew, spark)


def run_recursive_sql(
    spark: SparkSession, sql: str, args: dict | None = None
) -> DataFrame:
    """Execute transpiled SQL; marked recursive blocks run as
    driver-side union loops, anything else goes straight to
    ``spark.sql``. Returns the analyzed DataFrame (temp views created
    for the loop results are dropped before returning — analysis has
    already inlined their plans)."""

    def q(s: str) -> DataFrame:
        return spark.sql(s, args=args) if args else spark.sql(s)

    m = _BLOCK.search(sql)
    if m is None:
        return q(sql)
    original_sql = sql
    row_limit = int(
        spark.conf.get("spark.sql.cteRecursionRowLimit", "1000000")
    )
    level_limit = int(
        spark.conf.get("spark.sql.cteRecursionLevelLimit", "100")
    )
    views: list[str] = []
    try:
        while m is not None:
            name = m.group(1)
            block = m.group(0)
            anchor_sql = _ANCHOR.search(block).group(1)
            step_sql = _STEP.search(block).group(1)
            seq = _next_seq()
            result_view = f"{name}__r{seq}"
            frontier_view = f"{name}__f{seq}"
            views.append(frontier_view)
            # inside the step, the CTE self-reference reads the
            # PREVIOUS level only — point it at the frontier view
            step_sql = _rename_outside_literals(step_sql, name, frontier_view)
            full = _union_loop(
                spark, q, anchor_sql, step_sql, frontier_view,
                row_limit, level_limit, name,
            )
            full.createOrReplaceTempView(result_view)
            views.append(result_view)
            # the block collapses to an unused dummy CTE: valid whether
            # the original was `WITH RECURSIVE x AS (...) SELECT ...`
            # or `WITH RECURSIVE x AS (...), y AS (...) SELECT ...`
            sql = sql.replace(
                block, f"WITH __rec_unused{seq} AS (SELECT 1 AS _one)"
            )
            # every remaining reference (outer joins, trailing CTEs)
            # reads the accumulated union
            sql = _rename_outside_literals(sql, name, result_view)
            m = _BLOCK.search(sql)
        return q(sql)
    except (AttributeError, TypeError) as exc:
        # the level re-wrap rides Spark-internal surface
        # (internalCreateDataFrame / queryExecution().toRdd()); if a
        # Spark upgrade removes or reshapes it, run the statement
        # natively instead of surfacing the breakage
        return _native_fallback(spark, q, original_sql, exc)
    except Exception as exc:  # Py4JError without importing py4j here
        if type(exc).__module__.startswith("py4j") and not isinstance(
            exc, SparkRuntimeException
        ):
            return _native_fallback(spark, q, original_sql, exc)
        raise
    finally:
        for v in views:
            try:
                spark.catalog.dropTempView(v)
            except Exception:
                pass


def _native_fallback(spark, q, original_sql: str, exc: Exception) -> DataFrame:
    """Internal-API breakage mid-loop: log once and execute the marked
    statement natively (the markers are comments — the text is a valid
    recursive CTE). Correctness is preserved at the cost of UnionLoop's
    per-level overhead."""
    try:
        spark.sparkContext._jvm.org.apache.log4j.LogManager.getLogger(
            "neo4j_arrow_spark.recursive_exec"
        ).warn(
            "driver-paced recursion failed on internal API "
            f"({type(exc).__name__}: {str(exc)[:200]}); "
            "falling back to native execution"
        )
    except Exception:
        pass
    return q(original_sql)


def _union_loop(
    spark: SparkSession,
    q,
    anchor_sql: str,
    step_sql: str,
    frontier_view: str,
    row_limit: int,
    level_limit: int,
    name: str,
) -> DataFrame:
    frontier = _checkpoint_level(spark, q(anchor_sql))
    n = frontier.count()  # materializes the level: ONE job
    frames: list[DataFrame] = []
    total = 0
    level = 0
    while n > 0:
        total += n
        if 0 < row_limit < total:
            # same exception type + error class as native UnionLoopExec,
            # so callers catching pyspark errors see one surface
            raise SparkRuntimeException(
                message=(
                    f"recursion of the variable-length expansion {name} "
                    f"exceeded spark.sql.cteRecursionRowLimit="
                    f"{row_limit} rows"
                ),
                errorClass="RECURSION_ROW_LIMIT_EXCEEDED",
            )
        level += 1
        if 0 < level_limit < level:
            raise SparkRuntimeException(
                message=(
                    f"recursion of the variable-length expansion {name} "
                    f"exceeded spark.sql.cteRecursionLevelLimit="
                    f"{level_limit} levels"
                ),
                errorClass="RECURSION_LEVEL_LIMIT_EXCEEDED",
            )
        frames.append(frontier)
        frontier.createOrReplaceTempView(frontier_view)
        frontier = _checkpoint_level(spark, q(step_sql))
        n = frontier.count()
    if not frames:
        return frontier  # empty anchor: zero rows, correct schema
    out = frames[0]
    for f in frames[1:]:
        out = out.unionAll(f)
    return out
