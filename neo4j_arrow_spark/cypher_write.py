"""Cypher write clauses: CREATE / MERGE / MATCH…SET / MATCH…[DETACH] DELETE.

The reference DECLARES a ``cypher.write`` action but never implemented
it (``plugin/src/main/java/org/neo4j/arrow/action/CypherActionHandler.
java:154-155`` returns only the read job type) — this module ships the
capability the reference left on the table, expressed Spark-first:

- CREATE / MERGE build the new rows as a literal one-row-per-node
  relation and ``unionByName`` them into the graph's node frame — a
  metadata-only plan extension, no shuffle.
- SET reuses the READ transpiler for the match: the pattern + WHERE
  become one SQL query projecting ``(node id, new value…)`` pairs, and
  the update is a single left join + conditional projection over the
  node frame. The matched set never round-trips the driver.
- DELETE computes matched ids the same way and anti-joins them out of
  the node (and, for DETACH, relationship) frames. Plain DELETE on a
  node with incident relationships fails, mirroring Neo4j semantics.

Every write form (``_FORMS``) parses at submit and returns the same
``(new_nodes, new_rels, summary, ret)``; the API layer commits it in
one place, lazily localCheckpointing the frames the write changed
before re-registering the graph, so lineage doesn't stack across
writes.
"""

from __future__ import annotations

import math
import re
from typing import Callable, NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from neo4j_arrow_spark.cypher import (
    CypherSyntaxError,
    CypherUnsupported,
    _flatten_chains,
    _Parser,
    _plain_sql,
    _RelPat,
    _tokenize,
    _TOKEN_RE,
)
from neo4j_arrow_spark.graph import NodeField, RelField

__all__ = ["is_cypher_write", "parse_write"]

_WRITE_WORDS = {"SET", "DELETE", "DETACH", "CREATE", "MERGE", "REMOVE"}

#: the Neo4j-style counters row every write reports
_SUMMARY_SCHEMA = (
    "op string, nodes_created long, props_set long, "
    "nodes_deleted long, rels_deleted long, rels_created long"
)


def _summary(
    spark: SparkSession,
    op: str,
    *,
    nodes_created: int = 0,
    props_set: int = 0,
    nodes_deleted: int = 0,
    rels_deleted: int = 0,
    rels_created: int = 0,
) -> DataFrame:
    """The one-row counters frame of a write."""
    counts = (nodes_created, props_set, nodes_deleted, rels_deleted,
              rels_created)
    return spark.createDataFrame(
        [(op, *(int(c) for c in counts))], _SUMMARY_SCHEMA
    )


class WriteStatement(NamedTuple):
    """A write statement as every form's parse sees it."""

    head: str  # the write clauses, trailing RETURN split off
    ret: str | None  # the trailing RETURN clause, keyword included
    params: dict | None
    views: tuple[str, str]  # the graph's (nodes, rels) view names
    compile_read: Callable[[str], str]  # read Cypher → SQL over them


def _check_rel_set_props(sets) -> None:
    """Parse-as-validation for SET on a relationship variable: the
    endpoint/type/identity columns are immutable."""
    reserved = set(RelField.RESERVED) | {"REL_ID", "REL_ID2"}
    for v, prop, _rhs in sets:
        if prop in reserved:
            raise CypherUnsupported(
                f"SET {v}.{prop}: relationship endpoint/type/identity "
                "columns are immutable"
            )


def _render_literal(v) -> str:
    """A Python parameter value as CYPHER-source literal text (the
    write path inlines; reads bind). Backslash escaping per the
    tokenizer — ``_normalize_str_literal`` re-emits the
    dialect-neutral form. ``None`` renders as NULL (a batch row may
    omit a key another row sets)."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, float) and not math.isfinite(v):
        # repr() would emit 'inf'/'nan' — bare names the tokenizer/SQL
        # layer chokes on opaquely; Neo4j properties can't hold them
        # through the driver either
        raise CypherUnsupported(
            "non-finite float write parameter (NaN/Infinity) is not "
            "supported"
        )
    if isinstance(v, (int, float)):
        return repr(v)
    if isinstance(v, str):
        return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
    if isinstance(v, (list, tuple)):
        return "[" + ", ".join(_render_literal(x) for x in v) + "]"
    raise CypherUnsupported(
        f"unsupported write-parameter type {type(v).__name__}"
    )


#: a string literal's UNION ALL promotion next to literals of other
#: kinds, which an inline table refuses. These are ANSI
#: ``stringPromotion`` rules (Spark 4's default); with ANSI off, UNION
#: ALL promoted such a mix to STRING and the CAST would turn a
#: non-numeric string into NULL, so :func:`_values_frame` refuses it.
_STR_PROMOTION = {
    frozenset({"int"}): "BIGINT",
    frozenset({"num"}): "DOUBLE",
    frozenset({"int", "num"}): "DOUBLE",
    frozenset({"bool"}): "BOOLEAN",
}
_LITERAL_KINDS = [
    ("null", r"NULL"),
    ("bool", r"TRUE|FALSE"),
    ("int", r"-?\d+"),
    ("num", r"-?(\d+\.?\d*|\.\d+)([eE][+-]?\d+)?"),
    ("str", r"'(?:[^'\\]|\\.|'')*'"),
]
_NONDET = re.compile(r"\brand\s*\(", re.IGNORECASE)


def _literal_kind(sql: str) -> str:
    """The literal class of one SQL cell text, "expr" if none."""
    return next(
        (k for k, rx in _LITERAL_KINDS if re.fullmatch(rx, sql.strip(), re.I)),
        "expr",
    )


def _values_frame(spark, names: list[str], rows: list[list[str]]) -> DataFrame:
    """A literal frame as ONE inline table, ``SELECT … FROM VALUES
    (…), (…) AS __b(…)`` over per-row SQL cell texts. Spark resolves
    it to a single LocalRelation, so analysis cost stays flat in the
    row count and there is no parse limit on batch size (a per-row
    SELECT UNION ALL gives Catalyst one Union child per row and stops
    parsing near 1,000 rows). Two cell kinds keep the typing that
    UNION ALL gives them: a string literal among number/boolean
    literals is CAST to the type UNION ALL promotes it to (an inline
    table refuses the mix; refused here when ANSI mode is off, see
    ``_STR_PROMOTION``), and a nondeterministic cell (``rand()``,
    which an inline table cannot evaluate) is projected per row over
    the table."""
    ansi = spark.conf.get("spark.sql.ansi.enabled", "true").lower() == "true"
    rows = [list(r) for r in rows]
    sel = list(names)
    for j, name in enumerate(names):
        kinds = [_literal_kind(r[j]) for r in rows]
        promo = _STR_PROMOTION.get(frozenset(kinds) - {"null", "str"})
        if promo and "str" in kinds and not ansi:
            raise CypherUnsupported(
                f"write values for '{name.removeprefix('__b_')}' mix "
                "strings with numbers or booleans, which needs "
                "spark.sql.ansi.enabled=true"
            )
        nondet: dict[str, list[str]] = {}
        for i, (r, kind) in enumerate(zip(rows, kinds)):
            if promo and kind == "str":
                r[j] = f"CAST({r[j]} AS {promo})"
            elif kind == "expr" and _search_outside_strings(_NONDET, r[j]):
                nondet.setdefault(r[j], []).append(str(i))
                r[j] = "NULL"
        if nondet:
            sel[j] = "CASE " + " ".join(
                f"WHEN __vrow IN ({', '.join(ix)}) THEN {e}"
                for e, ix in nondet.items()
            ) + f" ELSE {name} END AS {name}"
    if sel != names:
        names = [*names, "__vrow"]
        rows = [[*r, str(i)] for i, r in enumerate(rows)]
    return spark.sql(
        f"SELECT {', '.join(sel)} FROM VALUES\n"
        + ",\n".join("(" + ", ".join(r) + ")" for r in rows)
        + f"\nAS __b({', '.join(names)})"
    )


def _batch_rows(batch, keys_used, what: str):
    """The UNWIND batch as inline-table ``(names, rows)``: ``__ix``
    (the element's position) plus a ``__b_<key>`` column per
    referenced key (a missing key is NULL)."""
    for i, elem in enumerate(batch):
        if not isinstance(elem, dict):
            raise CypherUnsupported(f"{what} element {i} is not a map")
    keys = sorted(keys_used)
    return (
        ["__ix", *(f"__b_{k}" for k in keys)],
        [
            [f"{i}L", *(_render_literal(e.get(k)) for k in keys)]
            for i, e in enumerate(batch)
        ],
    )


def _batch_param(params, pname: str, alias: str) -> list:
    """The bound UNWIND batch list, or a targeted refusal."""
    if params is None or pname not in params:
        raise CypherUnsupported(
            f"UNWIND batch write references unbound parameter '${pname}'"
        )
    if not isinstance(params[pname], (list, tuple)):
        raise CypherUnsupported(
            f"UNWIND ${pname} AS {alias}: the parameter must be a list"
        )
    return params[pname]


def _sub_outside_strings(pattern: str, repl, text: str) -> str:
    """``re.sub`` that leaves single-quoted string literals untouched:
    the text splits on the tokenizer's string-literal regex and only
    the non-literal segments rewrite — ``SET n.note = 'see n.hits'``
    must keep its literal verbatim (r9 ADVICE: the raw re.sub here
    silently corrupted values)."""
    parts = re.split(r"('(?:[^'\\]|\\.)*')", text)
    for i in range(0, len(parts), 2):
        parts[i] = re.sub(pattern, repl, parts[i])
    return "".join(parts)


def _search_outside_strings(pattern, text: str):
    """``re.search`` (string or compiled pattern) restricted to the
    non-string-literal segments."""
    parts = re.split(r"('(?:[^'\\]|\\.)*')", text)
    for i in range(0, len(parts), 2):
        m = re.search(pattern, parts[i])
        if m:
            return m
    return None


def render_write_params(query: str, params: dict) -> str:
    """Bind ``$name`` parameters in a WRITE statement by inlining
    SQL-safe literals (ints, floats, bools, strings, flat lists).
    Reads bind through Spark's named-parameter channel; the write path
    compiles to frame operations where no binding channel exists, so
    inlining is the honest equivalent. Substitution is TOKEN-level: the
    query is re-scanned with the Cypher tokenizer's regex so a ``$``
    sequence inside a string literal is data (never substituted), a
    bound ``$n`` cannot clobber the prefix of a distinct ``$nx``
    marker, and any param token with no binding raises."""
    lit = _render_literal
    out, i = [], 0
    while i < len(query):
        m = _TOKEN_RE.match(query, i)
        if not m:
            raise CypherSyntaxError(
                f"cannot tokenize at: {query[i:i+20]!r}"
            )
        if m.lastgroup == "param":
            name = m.group()[1:]
            if name not in params:
                raise CypherUnsupported(
                    "write statement references unbound parameter "
                    f"'${name}'"
                )
            out.append(lit(params[name]))
        else:
            out.append(m.group())
        i = m.end()
    return "".join(out)


def _match_additive_fold(prop: str, run: list, var: str):
    """Detect the ADDITIVE self-referencing ON MATCH fold shapes in a
    batch MERGE value token run (r10 verdict #3):

    - ``n.p ± rest``
    - ``coalesce(n.p, init) ± rest``

    where ``rest`` (and ``init``) are free of ``var``. Returns
    ``(init_run | None, sign, rest_run)`` or None when the run is not
    this shape. The set-based executor applies the fold as ``base +
    SUM(rest)`` over the per-key application rows — sequentially
    equivalent because addition over the rows commutes."""

    def tx(t):
        return t[2] if len(t) > 2 else t[1]

    def refs_var(ts):
        return any(t[0] == "name" and t[1] == var for t in ts)

    init_run = None
    if (
        len(run) >= 3
        and run[0][0] == "name"
        and run[0][1] == var
        and run[1][1] == "."
        and tx(run[2]) == prop
    ):
        i = 3
    elif (
        len(run) >= 8
        and run[0][0] == "name"
        and run[0][1].lower() == "coalesce"
        and run[1][1] == "("
        and run[2][0] == "name"
        and run[2][1] == var
        and run[3][1] == "."
        and tx(run[4]) == prop
        and run[5][1] == ","
    ):
        depth, j = 0, 6
        init_run = []
        while j < len(run):
            t = run[j]
            if t[1] in ("(", "[", "{"):
                depth += 1
            elif t[1] in (")", "]", "}"):
                if depth == 0:
                    break
                depth -= 1
            init_run.append(t)
            j += 1
        if j >= len(run) or not init_run:
            return None
        i = j + 1
    else:
        return None
    if i >= len(run) or run[i][1] not in ("+", "-"):
        return None
    sign, rest = run[i][1], run[i + 1:]
    if not rest or refs_var(rest) or (init_run and refs_var(init_run)):
        return None
    return init_run, sign, rest


def _render_tokens(toks) -> str:
    """Re-render a token run to text (raw spellings preserved for
    keyword-named labels/properties; string literals keep their
    quotes). Space-joined — the tokenizers re-read this losslessly."""
    return " ".join(t[2] if len(t) > 2 else t[1] for t in toks)


class _TokCursor:
    """Token cursor of the pipeline and UNWIND-batch write parsers;
    ``what`` names the statement form in their syntax errors."""

    def __init__(self, toks: list, what: str, pos: int = 0):
        self.toks, self.what, self.pos = toks, what, pos

    def peek(self):
        return self.toks[self.pos]

    def nxt(self):
        self.pos += 1
        return self.toks[self.pos - 1]

    def expect(self, text: str) -> None:
        t = self.nxt()
        if t[1] != text:
            raise CypherSyntaxError(
                f"{self.what}: expected {text!r}, got {t[1]!r}"
            )

    def expr_tokens(self, stop) -> list:
        """Raw token run up to a depth-0 closer, a depth-0 token
        ``stop(kind, text)`` accepts, or eof. A token directly after
        '.' is a PROPERTY ACCESS (``row.on``), never a break — the
        prev-token guard is_cypher_write uses."""
        out, depth = [], 0
        while True:
            kind, text = self.toks[self.pos][0], self.toks[self.pos][1]
            if kind == "eof":
                break
            if text in ("(", "[", "{"):
                depth += 1
            elif text in (")", "]", "}"):
                if depth == 0:
                    break
                depth -= 1
            elif depth == 0 and not (out and out[-1][1] == ".") and stop(
                kind, text
            ):
                break
            out.append(self.toks[self.pos])
            self.pos += 1
        if not out:
            raise CypherSyntaxError(f"{self.what}: empty value expression")
        return out


def parse_pipeline_write(stmt: WriteStatement):
    """``MATCH … WITH <pipeline> SET n.p = expr`` / ``… DELETE n`` /
    ``… CREATE (:L {p: expr})`` — a write clause driven by a READ
    PIPELINE (r11): the canonical update-the-top-k / materialize-an-
    aggregate idioms. Returns a spec for :func:`execute_pipeline_write`
    or None when the statement has no depth-0 WITH before its first
    depth-0 write verb (the plain write parser owns those).

    The pipeline compiles here, at submit, through the graph's read
    transpiler with synthesized RETURN items: the target ids and each
    value in pipeline scope."""
    spec = _pipeline_spec(stmt.head)
    if spec is None:
        return None
    var = spec["var"]
    if spec["kind"] == "set":
        items = [f"{var}.ID AS __wid"] + [
            f"({e}) AS __v{i}" for i, (_p, e) in enumerate(spec["sets"])
        ]
    elif spec["kind"] == "delete":
        items = [f"{var}.ID AS __wid"]
    else:
        if stmt.ret is not None and not var:
            raise CypherUnsupported(
                "RETURN after a pipeline CREATE needs a named node variable"
            )
        items = [
            f"({e}) AS __v{i}" for i, (_p, e) in enumerate(spec["props"])
        ] or ["1 AS __one"]
    read_q = spec["prefix"] + " RETURN " + ", ".join(items)
    if stmt.params:
        # write-path binding rule: $params inline as literals
        read_q = render_write_params(read_q, stmt.params)
    return {**spec, "frame_sql": stmt.compile_read(read_q), "ret": stmt.ret}


def _pipeline_spec(query: str):
    """The pipeline-write shape of :func:`parse_pipeline_write`, or
    None.

    The pipeline compiles through the READ transpiler with synthesized
    RETURN items (the target ids and each value expression evaluated
    in pipeline scope — aliases, aggregates, the carried node's own
    properties all work), and the write applies as ONE set-based frame
    op over the resulting id/value frame. Value expressions see the
    PRE-statement state; a target id produced twice with differing
    values takes an arbitrary row (documented — pipelines normally end
    in per-node aggregation, which dedupes by construction)."""
    toks = _tokenize(query)
    if not (
        toks
        and toks[0][0] in ("name", "kw")
        and toks[0][1].upper() == "MATCH"
    ):
        return None
    depth, saw_with, verb_at, verb = 0, False, None, None
    prev_tx = ""
    for i, t in enumerate(toks):
        tx = t[1]
        if tx in ("(", "[", "{"):
            depth += 1
        elif tx in (")", "]", "}"):
            depth -= 1
        elif depth == 0 and prev_tx != "." and t[0] in ("name", "kw"):
            up = tx.upper()
            if up == "WITH":
                saw_with = True
            elif up in (
                "SET", "DELETE", "DETACH", "CREATE", "MERGE", "REMOVE",
                "FOREACH",
            ):
                verb_at, verb = i, up
                break
        prev_tx = tx
    if verb_at is None or not saw_with:
        return None
    if verb in ("MERGE", "REMOVE", "FOREACH"):
        raise CypherUnsupported(
            f"{verb} after a WITH pipeline is not supported (v1) — "
            "supported pipeline writes: SET, [DETACH] DELETE, CREATE"
        )
    prefix = _render_tokens(toks[:verb_at])
    cur = _TokCursor(toks, "pipeline write", verb_at)
    peek, nxt, expect = cur.peek, cur.nxt, cur.expect

    def expr_tokens() -> list:
        return cur.expr_tokens(lambda kind, text: text == ",")

    if verb == "SET":
        nxt()
        var, sets = None, []
        while True:
            v = nxt()
            if v[0] != "name":
                raise CypherSyntaxError(
                    f"pipeline SET: expected a variable, got {v[1]!r}"
                )
            if var is None:
                var = v[1]
            elif v[1] != var:
                raise CypherUnsupported(
                    "pipeline SET targets ONE carried variable per "
                    f"statement (got {var!r} and {v[1]!r})"
                )
            expect(".")
            pt = nxt()
            if pt[0] not in ("name", "kw"):
                raise CypherSyntaxError("expected property name after '.'")
            prop = pt[2] if len(pt) > 2 else pt[1]
            if prop in ("ID", "LABELS"):
                raise CypherUnsupported(
                    f"SET {var}.{prop}: node identity/label columns "
                    "are immutable"
                )
            expect("=")
            run = expr_tokens()
            _reject_aggregates(
                _render_tokens(run), f"pipeline SET {var}.{prop}"
            )
            sets.append((prop, _render_tokens(run)))
            if peek()[1] == ",":
                nxt()
                continue
            break
        if peek()[0] != "eof":
            raise CypherSyntaxError(
                f"pipeline write: unexpected trailing input: {peek()[1]!r}"
            )
        return {
            "kind": "set",
            "prefix": prefix,
            "var": var,
            "sets": sets,
        }
    if verb in ("DELETE", "DETACH"):
        detach = verb == "DETACH"
        nxt()
        if detach:
            t = nxt()
            if not (t[0] in ("name", "kw") and t[1].upper() == "DELETE"):
                raise CypherSyntaxError(
                    f"expected DELETE after DETACH, got {t[1]!r}"
                )
        v = nxt()
        if v[0] != "name":
            raise CypherSyntaxError(
                f"pipeline DELETE: expected a variable, got {v[1]!r}"
            )
        if peek()[0] != "eof":
            raise CypherSyntaxError(
                f"pipeline write: unexpected trailing input: {peek()[1]!r}"
            )
        return {
            "kind": "delete",
            "prefix": prefix,
            "var": v[1],
            "detach": detach,
        }
    # CREATE: one node pattern per pipeline row
    nxt()
    expect("(")
    cvar = None
    if peek()[0] == "name":
        cvar = nxt()[1]
    labels = []
    while peek()[1] == ":":
        nxt()
        lt = nxt()
        if lt[0] not in ("name", "kw"):
            raise CypherSyntaxError("expected label name")
        labels.append(lt[2] if len(lt) > 2 else lt[1])
    if not labels:
        raise CypherUnsupported(
            "pipeline CREATE needs at least one label"
        )
    props = []
    if peek()[1] == "{":
        nxt()
        while True:
            kt = nxt()
            if kt[0] not in ("name", "kw"):
                raise CypherSyntaxError("expected property name")
            prop = kt[2] if len(kt) > 2 else kt[1]
            expect(":")
            run = expr_tokens()
            _reject_aggregates(
                _render_tokens(run), f"pipeline CREATE property {prop}"
            )
            props.append((prop, _render_tokens(run)))
            if peek()[1] == ",":
                nxt()
                continue
            break
        expect("}")
    expect(")")
    if peek()[1] == ",":
        raise CypherUnsupported(
            "pipeline CREATE supports one node pattern per row (v1)"
        )
    if peek()[0] != "eof":
        raise CypherSyntaxError(
            f"pipeline write: unexpected trailing input: {peek()[1]!r}"
        )
    return {
        "kind": "create",
        "prefix": prefix,
        "var": cvar,
        "labels": labels,
        "props": props,
    }


def execute_pipeline_write(
    spark: SparkSession, nodes: DataFrame, rels: DataFrame | None, spec: dict
):
    """Run a pipeline write: evaluate the compiled read pipeline (target
    ids and values, against the PRE-statement state) and apply its
    kind's set-based frame op over the resulting frame."""
    frame = spark.sql(spec["frame_sql"])
    op = {
        "set": execute_pipeline_set,
        "delete": execute_pipeline_delete,
        "create": execute_pipeline_create,
    }[spec["kind"]]
    return op(spark, nodes, rels, frame, spec)


def execute_pipeline_set(spark, nodes, rels, frame, spec):
    """Apply a pipeline SET: ``frame`` carries ``__wid`` (target node
    id) and ``__v{i}`` (each value, already evaluated in pipeline
    scope against the PRE-statement state). One dedupe + one join +
    conditional projection — the same shape as the batch SET."""
    sets = spec["sets"]
    nfields = {f.name: f.dataType.simpleString() for f in nodes.schema.fields}
    frame = _decimals_to_double(frame).localCheckpoint()
    upd = frame.dropDuplicates(["__wid"])
    n_set = upd.count()
    joined = nodes.join(upd, nodes["ID"] == upd["__wid"], "left")
    matched = F.col("__wid").isNotNull()
    for i, (p, _e) in enumerate(sets):
        val = F.col(f"__v{i}")
        if p in nfields:
            val = val.cast(nfields[p])
            joined = joined.withColumn(
                p, F.when(matched, val).otherwise(F.col(p))
            )
        else:  # schema-widening pipeline SET
            joined = joined.withColumn(p, F.when(matched, val))
    out = joined.drop("__wid", *[f"__v{i}" for i in range(len(sets))])
    ids = frame.select(F.col("__wid").alias("__rid"))
    return (
        out,
        rels,
        _summary(spark, "set", props_set=n_set * len(sets)),
        _ids_return(spark, spec, ids),
    )


def execute_pipeline_delete(spark, nodes, rels, frame, spec):
    """Apply a pipeline [DETACH] DELETE over the ``__wid`` id frame:
    anti-join removal, incident edges dropped under DETACH and a
    targeted error without it (Neo4j parity)."""
    ids = (
        _decimals_to_double(frame)
        .select(F.col("__wid"))
        .dropDuplicates()
        .localCheckpoint()
    )
    ret_ids = None
    if spec["ret"] is not None:
        # pre-delete projection, one row per PIPELINE row
        ret_ids = frame.select(F.col("__wid").alias("__rid")).localCheckpoint()
    n_del = ids.count()
    new_rels, r_del = rels, 0
    if rels is not None:
        incident = rels.join(
            ids, rels[RelField.START_ID] == ids["__wid"], "left_semi"
        ).unionByName(
            rels.join(
                ids, rels[RelField.END_ID] == ids["__wid"], "left_semi"
            )
        )
        r_del = incident.count()
        if r_del and not spec["detach"]:
            raise ValueError(
                "cannot DELETE nodes that still have relationships — "
                "use DETACH DELETE"
            )
        if r_del:
            new_rels = rels.join(
                ids, rels[RelField.START_ID] == ids["__wid"], "left_anti"
            ).join(
                ids, rels[RelField.END_ID] == ids["__wid"], "left_anti"
            )
    new_nodes = nodes.join(ids, nodes["ID"] == ids["__wid"], "left_anti")
    return (
        new_nodes,
        new_rels,
        _summary(spark, "delete", nodes_deleted=n_del, rels_deleted=r_del),
        _ids_return(spark, spec, ret_ids, frame=nodes),
    )


def execute_pipeline_create(spark, nodes, rels, frame, spec):
    """Apply a pipeline CREATE: one node per pipeline row, property
    values from the ``__v{i}`` columns, ids minted above the current
    max (deterministic by an arbitrary-but-stable row numbering)."""
    from pyspark.sql.window import Window

    labels, props = spec["labels"], spec["props"]
    nfields = {f.name: f.dataType.simpleString() for f in nodes.schema.fields}
    frame = _decimals_to_double(frame).localCheckpoint()
    n_new = frame.count()
    if n_new == 0:
        return nodes, rels, _summary(spark, "create"), _ids_return(spark, spec)
    n_props = 0
    if props:
        n_props = frame.select(
            F.sum(
                sum(
                    (
                        F.col(f"__v{i}").isNotNull().cast("long")
                        for i in range(len(props))
                    ),
                    F.lit(0),
                )
            )
        ).collect()[0][0] or 0
    base_id = (nodes.agg(F.max("ID")).collect()[0][0] or 0) + 1
    w = Window.orderBy(*[f"__v{i}" for i in range(len(props))] or ["__one"])
    if not props:
        frame = frame.withColumn("__one", F.lit(1))
    rows = frame.withColumn(
        "ID", (F.row_number().over(w) - 1 + F.lit(base_id)).cast("long")
    ).withColumn("LABELS", F.array(*[F.lit(lb) for lb in labels]))
    pmap = {p: i for i, (p, _e) in enumerate(props)}
    cols = [F.col("ID"), F.col("LABELS")]
    for c in nodes.columns:
        if c in ("ID", "LABELS"):
            continue
        if c in pmap:
            cols.append(F.col(f"__v{pmap[c]}").cast(nfields[c]).alias(c))
        else:
            cols.append(F.lit(None).cast(nfields[c]).alias(c))
    for p, i in pmap.items():  # schema-widening pipeline CREATE
        if p not in nfields:
            cols.append(F.col(f"__v{i}").alias(p))
    rows = _decimals_to_double(rows.select(*cols)).localCheckpoint()
    new_nodes = nodes.unionByName(rows, allowMissingColumns=True)
    return (
        new_nodes,
        rels,
        _summary(spark, "create", nodes_created=n_new, props_set=n_props),
        _ids_return(spark, spec, rows.select(F.col("ID").alias("__rid"))),
    )


def guard_write_analysis(fn):
    """Wrap a write job closure so an AnalysisException (an invalid
    value expression that slipped past parse-time validation, e.g. a
    batch WHERE referencing a nonexistent node property) surfaces as
    ONE targeted ``CypherUnsupported`` line naming the statement, not
    Spark's raw analysis stack; ``from None`` keeps the Java trace out
    of the job's recorded error."""
    import functools

    @functools.wraps(fn)
    def inner(*args, **kwargs):
        from pyspark.errors import AnalysisException

        try:
            return fn(*args, **kwargs)
        except AnalysisException as e:
            first = (
                str(e).strip().splitlines()[0] if str(e).strip() else str(e)
            )
            raise CypherUnsupported(
                f"invalid expression in write statement: {first[:300]}"
            ) from None

    return inner


def expand_unwind_batch(
    query: str, params: dict | None
) -> tuple[str | None, bool]:
    """``UNWIND $batch AS row CREATE (n:L {k: row.k, …})`` — the
    standard Neo4j client BULK-write idiom — expanded into ONE
    multi-pattern CREATE statement: per batch element the pattern
    group is instantiated with ``row.key`` references replaced by the
    element's literal values and every pattern variable uniquified
    (``n`` → ``n_u3``), all groups comma-joined under a single CREATE.
    Downstream this builds one literal-rows frame (one inline table,
    no parse limit on batch size) and one union — a single write job
    regardless of batch size, not |batch| statements.
    (For genuinely large loads use the K3 bulk-import path; literal
    SQL text grows linearly with the batch.)

    Returns ``(expanded_query, handled)``: ``handled`` False means the
    statement is not this shape (caller proceeds unchanged); an empty
    batch returns ``(None, True)`` — a no-op write. Node-rel chains
    per row are supported (edge batches); MERGE per row is not (each
    MERGE is its own existence probe — batch it client-side or use
    CREATE + dedup)."""
    m = re.match(
        r"\s*UNWIND\s+\$([A-Za-z_][A-Za-z0-9_]*)\s+AS\s+"
        r"([A-Za-z_][A-Za-z0-9_]*)\b",
        query,
        re.IGNORECASE,
    )
    if not m:
        return query, False
    pname, alias = m.group(1), m.group(2)
    rest = query[m.end():]
    batch = _batch_param(params, pname, alias)
    # tokenize the remainder once, keeping offsets and raw spellings
    toks: list[tuple[str, str, int, int]] = []
    i = 0
    while i < len(rest):
        tm = _TOKEN_RE.match(rest, i)
        if not tm:
            raise CypherSyntaxError(f"cannot tokenize at: {rest[i:i+20]!r}")
        toks.append((tm.lastgroup, tm.group(), tm.start(), tm.end()))
        i = tm.end()
    sig = [t for t in toks if t[0] != "ws"]
    if not sig or sig[0][1].upper() != "CREATE":
        verb = sig[0][1].upper() if sig else "<empty>"
        raise CypherUnsupported(
            f"UNWIND ${pname} AS {alias} {verb} …: only the CREATE "
            "batch form is supported (per-row MERGE is an existence "
            "probe each — dedup client-side or CREATE + dedup after)"
        )
    # pattern variables: a name right after '(' or '[' that is followed
    # by ':' / '{' / the closing bracket — uniquified per instance
    pat_vars: set[str] = set()
    for j in range(1, len(sig) - 1):
        if (
            sig[j][0] in ("name", "kw")
            and sig[j - 1][1] in ("(", "[")
            and sig[j + 1][1] in (":", "{", ")", "]")
        ):
            pat_vars.add(sig[j][1])
    if alias in pat_vars:
        raise CypherUnsupported(
            f"UNWIND alias {alias!r} is also a CREATE pattern variable"
        )

    # positional context per token (r9 ADVICE: renames/substitutions
    # must respect POSITION — a property key `{n: row.x}` or a label
    # `:n` spelled like a pattern variable or the alias is NOT a
    # reference and must survive verbatim): previous/next significant
    # token text and the curly-brace (property-map) depth at the token
    prev_sig_at: list[str] = [""] * len(toks)
    next_sig_at: list[str] = [""] * len(toks)
    bdepth_at: list[int] = [0] * len(toks)
    prev, depth = "", 0
    for j, (kind, text, _s, _e) in enumerate(toks):
        bdepth_at[j] = depth
        prev_sig_at[j] = prev
        if kind != "ws":
            prev = text
            if text == "{":
                depth += 1
            elif text == "}":
                depth = max(0, depth - 1)
    nxt = ""
    for j in range(len(toks) - 1, -1, -1):
        next_sig_at[j] = nxt
        if toks[j][0] != "ws":
            nxt = toks[j][1]

    def instance(elem, n: int, strip_create: bool) -> str:
        out: list[str] = []
        j = 0
        while j < len(toks):
            kind, text, _s, _e = toks[j]
            if strip_create and kind != "ws":
                # drop this group's leading CREATE keyword (groups
                # after the first join the head CREATE's pattern list)
                strip_create = False
                if text.upper() == "CREATE":
                    j += 1
                    continue
            is_prop_key = next_sig_at[j] == ":" and bdepth_at[j] > 0
            is_label = prev_sig_at[j] == ":" and bdepth_at[j] == 0
            if (
                kind in ("name", "kw")
                and text == alias
                and not is_prop_key
                and not is_label
            ):
                # alias.key → the element's value; bare alias → the
                # element itself (scalar batches)
                k = j + 1
                while k < len(toks) and toks[k][0] == "ws":
                    k += 1
                if (
                    k + 1 < len(toks)
                    and toks[k][1] == "."
                    and toks[k + 1][0] in ("name", "kw")
                ):
                    key = toks[k + 1][1]
                    if not isinstance(elem, dict):
                        raise CypherUnsupported(
                            f"{alias}.{key}: batch element {n} is not "
                            "a map"
                        )
                    out.append(_render_literal(elem.get(key)))
                    j = k + 2
                    continue
                if isinstance(elem, dict):
                    raise CypherUnsupported(
                        f"bare {alias!r} over a map batch — reference "
                        f"{alias}.<key>"
                    )
                out.append(_render_literal(elem))
                j += 1
                continue
            if (
                kind in ("name", "kw")
                and text in pat_vars
                and prev_sig_at[j] in ("(", "[")
            ):
                # variable position only: directly after an opening
                # bracket (CREATE patterns bind vars nowhere else)
                out.append(f"{text}_u{n}")
                j += 1
                continue
            out.append(text)
            j += 1
        return "".join(out)

    if len(batch) == 0:
        return None, True
    pieces = [instance(batch[0], 0, strip_create=False)]
    for n, elem in enumerate(batch[1:], start=1):
        pieces.append(instance(elem, n, strip_create=True).strip())
    return ", ".join([pieces[0].rstrip()] + pieces[1:]), True


def _batch_rewriter(
    alias: str,
    params: dict,
    keys_used: set,
    forbidden: frozenset = frozenset(),
    forbid_msg: str = "",
    strip_var: str | None = None,
    mode: str = "value",
    extra_bound: frozenset = frozenset(),
):
    """Build the batch-form value rewriter: ``alias.key`` tokens become
    ``__b_<key>`` column references (collected into ``keys_used``),
    non-batch ``$params`` inline as literals token-wise, names in
    ``forbidden`` raise with ``forbid_msg``, ``strip_var.prop`` loses
    its prefix (the anchor's node columns are unqualified on the
    joined frame), and the result parses through the read transpiler's
    grammar to SQL — ``mode='value'`` for arithmetic values,
    ``mode='expr'`` for boolean predicates (WHERE)."""

    stripped: set[str] = set()

    def rewrite(run: list, ctx: str) -> str:
        out, i = [], 0
        while i < len(run):
            kind, text = run[i][0], run[i][1]
            if kind == "name" and strip_var is not None and text == strip_var:
                if i + 1 < len(run) and run[i + 1][1] == ".":
                    if i + 2 >= len(run):
                        raise CypherSyntaxError(
                            f"batch write: dangling {strip_var}."
                        )
                    pt = run[i + 2]
                    stripped.add(pt[2] if len(pt) > 2 else pt[1])
                    out.append(pt)
                    i += 3
                    continue
                raise CypherUnsupported(
                    f"{ctx}: reference the matched node's properties "
                    f"({strip_var}.<prop>), not the bare variable"
                )
            if kind == "name" and text == alias:
                if i + 1 < len(run) and run[i + 1][1] == ".":
                    if i + 2 >= len(run):
                        raise CypherSyntaxError(
                            f"batch write: dangling {alias}."
                        )
                    kt = run[i + 2]
                    key = kt[2] if len(kt) > 2 else kt[1]
                    keys_used.add(key)
                    out.append(("name", f"__b_{key}"))
                    i += 3
                    continue
                raise CypherUnsupported(
                    f"bare {alias!r} in a batch write — reference "
                    f"{alias}.<key> (map batches only)"
                )
            if kind == "name" and text in forbidden:
                raise CypherUnsupported(
                    f"{ctx}: " + forbid_msg.replace("{var!r}", repr(text))
                )
            if kind == "param":
                # non-batch $params inline as literals (the write
                # path's binding rule), token-level like
                # render_write_params
                name = text[1:]
                if name not in params:
                    raise CypherUnsupported(
                        "write statement references unbound parameter "
                        f"'${name}'"
                    )
                out.extend(_tokenize(_render_literal(params[name]))[:-1])
                i += 1
                continue
            out.append(run[i])
            i += 1
        sub = _Parser._from_tokens(out, "spark", None)
        # both the batch columns AND any stripped node columns are
        # bound scalars — without this the expression grammar would
        # treat a bare column name as a node variable (name → name.ID)
        sub.unwind_aliases = (
            {f"__b_{k}" for k in keys_used} | stripped | set(extra_bound)
        )
        sql = sub.expr() if mode == "expr" else sub.value()
        if sub.peek()[1] != "":
            raise CypherSyntaxError(f"{ctx}: unsupported value expression")
        _reject_aggregates(sql, ctx)
        return sql

    return rewrite


def parse_unwind_merge(stmt: WriteStatement):
    """``UNWIND $batch AS row MERGE (n:L {key: row.k, …}) [ON CREATE
    SET n.p = expr] [ON MATCH SET n.q = expr]`` — THE canonical Neo4j
    bulk-upsert idiom (r9 verdict #2). Returns a spec dict for
    :func:`execute_unwind_merge`, or ``None`` when the statement is
    not this shape (a CREATE batch, or not an UNWIND write at all).

    SET-BASED SEMANTICS (documented divergence from row-at-a-time
    Cypher, equal to it in every non-self-referential case): per
    distinct merge key, the FIRST batch row whose key is absent from
    the graph CREATEs the node (pattern props + its ON CREATE SET
    values); every LATER row for that key, and every row for a
    pre-existing key, applies ON MATCH SET — with the LAST applicable
    row's values winning, which is exactly what sequential processing
    produces when the ON MATCH values don't read the node's own
    properties. Self-referential ON MATCH values (a per-key fold,
    e.g. ``n.hits = coalesce(n.hits, 0) + 1``) are refused with a
    targeted error. NULL merge-key values are refused (Neo4j parity:
    'cannot merge using null property value').

    The batch is ONE inline-table frame (:func:`_batch_rows`), so there
    is no parse limit on batch size."""
    query, params = stmt.head, stmt.params
    m = re.match(
        r"\s*UNWIND\s+\$([A-Za-z_]\w*)\s+AS\s+([A-Za-z_]\w*)\s+MERGE\b",
        query,
        re.IGNORECASE,
    )
    if not m:
        return None
    pname, alias = m.group(1), m.group(2)
    batch = _batch_param(params, pname, alias)
    toks = _tokenize(query[m.end():])
    cur = _TokCursor(toks, "batch MERGE")
    peek, nxt, expect = cur.peek, cur.nxt, cur.expect

    def expr_tokens(stop_at_comma: bool) -> list:
        """Raw token run up to a depth-0 ',' (when asked), a depth-0
        closer, an ON keyword, or eof."""
        return cur.expr_tokens(
            lambda kind, text: (stop_at_comma and text == ",")
            or (kind == "name" and text.upper() == "ON")
        )

    expect("(")
    var = None
    if peek()[0] == "name" and toks[cur.pos + 1][1] in (":", "{"):
        var = nxt()[1]
    labels: list[str] = []
    while peek()[1] == ":":
        nxt()
        k, t = nxt()[0], toks[cur.pos - 1]
        if k not in ("name", "kw"):
            raise CypherSyntaxError("batch MERGE: expected label name")
        labels.append(t[2] if len(t) > 2 else t[1])
    if not labels:
        raise CypherUnsupported("batch MERGE node needs at least one label")
    key_props: list[tuple[str, list]] = []
    if peek()[1] == "{":
        nxt()
        while True:
            kt = nxt()
            if kt[0] not in ("name", "kw"):
                raise CypherSyntaxError("batch MERGE: expected property name")
            prop = kt[2] if len(kt) > 2 else kt[1]
            expect(":")
            key_props.append((prop, expr_tokens(stop_at_comma=True)))
            if peek()[1] == ",":
                nxt()
                continue
            break
        expect("}")
    expect(")")
    if not key_props:
        raise CypherUnsupported(
            "batch MERGE needs at least one merge-key property "
            "(MERGE (n:L {key: row.k}))"
        )
    if peek()[1] in ("-", "<-"):
        raise CypherUnsupported(
            "batch relationship MERGE is not supported (v1) — merge the "
            "nodes in one batch, then CREATE/MERGE the edges per pair"
        )
    on_create: list[tuple[str, list]] = []
    on_match: list[tuple[str, list]] = []
    while peek()[0] == "name" and peek()[1].upper() == "ON":
        nxt()
        which = nxt()[1].upper()
        if which not in ("CREATE", "MATCH"):
            raise CypherSyntaxError(
                f"expected CREATE or MATCH after ON, got {which!r}"
            )
        expect("SET")
        tgt = on_create if which == "CREATE" else on_match
        while True:
            v = nxt()
            if v[0] != "name" or (var is not None and v[1] != var):
                raise CypherUnsupported(
                    f"ON {which} SET targets the merge variable "
                    f"{var!r}, got {v[1]!r}"
                )
            if var is None:
                raise CypherUnsupported(
                    "name the merged node to use ON CREATE/ON MATCH SET"
                )
            expect(".")
            pt = nxt()
            if pt[0] not in ("name", "kw"):
                raise CypherSyntaxError("expected property name after '.'")
            prop = pt[2] if len(pt) > 2 else pt[1]
            expect("=")
            tgt.append((prop, expr_tokens(stop_at_comma=True)))
            if peek()[1] == ",":
                nxt()
                continue
            break
    if peek()[0] != "eof":
        raise CypherSyntaxError(
            f"batch MERGE: unexpected trailing input: {peek()[1]!r}"
        )

    # rewrite alias.key → __b_<key> across every expression, collecting
    # the referenced batch keys; bare alias / self-references checked
    keys_used: set[str] = set()
    rewrite = _batch_rewriter(
        alias,
        params,
        keys_used,
        forbidden=frozenset([var]) if var else frozenset(),
        forbid_msg=(
            "the value cannot reference the merge variable {var!r} — "
            "only ADDITIVE folds (n.hits = n.hits + expr, n.hits = "
            "coalesce(n.hits, 0) + expr) are supported in the batch "
            "form; run a MATCH…SET after the batch for other shapes"
        ),
    )

    key_sqls = [
        (p, rewrite(run, f"merge key {p}")) for p, run in key_props
    ]
    key_names = {p for p, _ in key_sqls}
    oc_sqls = [
        (p, rewrite(run, f"ON CREATE SET {var}.{p}"))
        for p, run in on_create
    ]
    # ON MATCH values: plain (last-row-wins) or ADDITIVE FOLD
    # (n.c = n.c + expr — r10 verdict #3: the canonical counter-upsert;
    # sequential-equivalent as base + SUM(expr) per key)
    om_entries: list[dict] = []
    for p, run in on_match:
        if var is not None and any(
            t[0] == "name" and t[1] == var for t in run
        ):
            fold = _match_additive_fold(p, run, var)
            if fold is None:
                raise CypherUnsupported(
                    f"ON MATCH SET {var}.{p}: only ADDITIVE "
                    f"self-referencing folds ({var}.{p} = {var}.{p} + "
                    f"expr, or coalesce({var}.{p}, init) + expr) are "
                    "supported in the batch form; run a MATCH…SET "
                    "after the batch for other shapes"
                )
            if p in key_names:
                raise CypherUnsupported(
                    f"ON MATCH SET {var}.{p}: a fold on a MERGE-KEY "
                    "property would change the match identity "
                    "mid-batch (later duplicate rows would CREATE in "
                    "sequential Cypher) — not supported in the batch "
                    "form"
                )
            init_run, sign, rest = fold
            om_entries.append(
                {
                    "prop": p,
                    "kind": "fold",
                    "sign": sign,
                    "init": (
                        rewrite(init_run, f"ON MATCH SET {var}.{p} init")
                        if init_run
                        else None
                    ),
                    "rest": rewrite(rest, f"ON MATCH SET {var}.{p}"),
                }
            )
        else:
            om_entries.append(
                {
                    "prop": p,
                    "kind": "value",
                    "sql": rewrite(run, f"ON MATCH SET {var}.{p}"),
                }
            )
    # pattern keys win over ON CREATE values of the same property
    # (they define the merge identity — single-MERGE parity)
    oc_sqls = [(p, s) for p, s in oc_sqls if p not in key_names]
    if stmt.ret is not None and not var:
        raise CypherUnsupported(
            "RETURN after a batch MERGE needs a named node variable"
        )
    return {
        "ret": stmt.ret,
        "labels": labels,
        "var": var,
        "keys": key_sqls,
        "on_create": oc_sqls,
        "on_match": om_entries,
        "b_rows": _batch_rows(batch, keys_used, "batch MERGE"),
        "n_rows": len(batch),
    }


def project_batch_return(
    spark: SparkSession,
    post_nodes: DataFrame,
    ids: DataFrame,
    var: str,
    return_text: str,
) -> DataFrame:
    """Project a batch write's trailing RETURN over the post-write
    node frame restricted to ``ids`` (column ``__rid``; duplicates
    preserved — openCypher returns ONE ROW PER BATCH ELEMENT, so a
    key merged by three rows projects three times). Values are the
    POST-STATEMENT state (documented set-based semantics: sequential
    Cypher would show mid-statement states on self-updated
    properties, which the batch form refuses anyway)."""
    from neo4j_arrow_spark.cypher import cypher_to_sql

    post_nodes.createOrReplaceTempView("__wret_nodes")
    ids.select("__rid").createOrReplaceTempView("__wret_ids")
    ret_sql = cypher_to_sql(
        f"MATCH ({var}) {return_text}", "__wret_nodes", "__wret_nodes"
    )
    anchor = f"__wret_nodes AS {var}"
    if anchor not in ret_sql:
        raise CypherUnsupported(
            "trailing RETURN items after a batch write must reference "
            f"only the written node variable {var!r}"
        )
    ret_sql = ret_sql.replace(
        anchor,
        f"__wret_nodes AS {var} JOIN __wret_ids "
        f"ON {var}.ID = __wret_ids.__rid",
        1,
    )
    return spark.sql(ret_sql)


def _ids_return(spark, spec, ids=None, frame=None):
    """The ``ret`` of a node write: its trailing RETURN (None when it
    has none) projected over the written ``ids`` (default: none, an
    empty batch) in the committed node frame — or in ``frame``, the
    pre-statement frame a DELETE reads back."""
    if spec["ret"] is None:
        return None
    if ids is None:
        ids = spark.createDataFrame([], "__rid long")
    return lambda nodes, _rels: project_batch_return(
        spark, nodes if frame is None else frame, ids, spec["var"], spec["ret"]
    )


def validate_batch_rel_return(rvar: str | None, return_text: str) -> None:
    """Submit-time contract for RETURN after a batch relationship
    write (r10 verdict #4): a NAMED rel variable, and every property
    access references it — same rule as the single-statement rel
    RETURN."""
    if not rvar:
        raise CypherUnsupported(
            "RETURN after a batch relationship write needs a named "
            "rel variable ((a)-[r:T]->(b) … RETURN r.prop)"
        )
    prev = ("", "")
    for t in _tokenize(return_text):
        if t[1] == "." and prev[0] in ("name", "kw") and prev[1] != rvar:
            raise CypherUnsupported(
                "trailing RETURN items after a batch relationship "
                f"write must reference only the rel variable {rvar!r} "
                f"(got {prev[1]!r})"
            )
        prev = (t[0], t[1])


def project_batch_rel_return(
    spark: SparkSession,
    nodes: DataFrame,
    affected: DataFrame,
    rvar: str,
    return_text: str,
) -> DataFrame:
    """Project a batch relationship write's trailing RETURN over the
    per-row affected edges (one row per batch row × anchor match —
    openCypher multiplicity; values are the POST-STATEMENT edge
    state). Same projection shape as the single-statement rel
    RETURN."""
    from neo4j_arrow_spark.cypher import cypher_to_sql

    nodes.createOrReplaceTempView("__wret_bnodes")
    affected.createOrReplaceTempView("__wret_brels")
    ret_sql = cypher_to_sql(
        f"MATCH (__wa)-[{rvar}]->(__wb) {return_text}",
        "__wret_bnodes",
        "__wret_brels",
        rel_props=[
            c
            for c in affected.columns
            if c not in RelField.RESERVED and c not in ("REL_ID", "REL_ID2")
        ],
    )
    anchor = f"JOIN __wret_brels AS {rvar} ON"
    if anchor not in ret_sql:
        raise CypherUnsupported(
            "trailing RETURN items after a batch relationship write "
            f"must reference only the rel variable {rvar!r}"
        )
    return spark.sql(ret_sql)


def execute_unwind_merge(
    spark: SparkSession, nodes: DataFrame, rels: DataFrame | None, spec: dict
):
    """Set-based batch MERGE (see :func:`parse_unwind_merge` for the
    documented semantics): ONE window pass picks the first row per
    merge key, one anti-join against the label-filtered graph finds
    the keys to create, and ON MATCH applies as one left join +
    conditional projection with last-row-wins values — no per-row
    existence probes, O(batch) work regardless of graph size on the
    probe side (the key semi-join is the only graph-wide touch)."""
    from pyspark.sql.window import Window

    if spec["n_rows"] == 0:
        return nodes, rels, _summary(spark, "merge"), _ids_return(spark, spec)
    fields = {f.name: f.dataType.simpleString() for f in nodes.schema.fields}
    kprops = spec["keys"]
    kcols = [f"__k{i}" for i in range(len(kprops))]
    B = _values_frame(spark, *spec["b_rows"])
    Bk = B.select(
        "__ix",
        *[
            # try_cast, not cast: under ANSI a malformed value would
            # throw a raw SparkNumberFormatException mid-plan; the
            # pre/post nullness probe below turns it into a targeted
            # type-mismatch refusal instead (r10 ADVICE)
            F.expr(sql).try_cast(fields[p]).alias(kc)
            if p in fields
            else F.expr(sql).alias(kc)
            for (p, sql), kc in zip(kprops, kcols)
        ],
        # pre-cast nullness per key: distinguishes a genuinely-NULL
        # merge-key value from one the schema cast NULLED (r10 ADVICE:
        # a string batch value against a long column must surface as a
        # type mismatch, not the misleading NULL-merge-key error)
        *[
            F.expr(sql).isNull().alias(f"__knull{i}")
            for i, (_p, sql) in enumerate(kprops)
        ],
        *[c for c in B.columns if c != "__ix"],
    )
    Bk = _decimals_to_double(Bk).localCheckpoint()
    bad = Bk.select(
        F.max(
            F.when(
                F.expr(
                    " OR ".join(f"__knull{i}" for i in range(len(kprops)))
                ),
                2,
            ).when(
                F.expr(" OR ".join(f"{kc} IS NULL" for kc in kcols)), 1
            ).otherwise(0)
        )
    ).collect()[0][0]
    if bad == 2:
        raise ValueError(
            "batch MERGE: cannot merge using a NULL merge-key value"
        )
    if bad == 1:
        raise ValueError(
            "batch MERGE: a merge-key value does not fit the node "
            "column's type (the cast produced NULL) — align the batch "
            "value types with the graph schema"
        )
    lcond = F.lit(True)
    for lb in spec["labels"]:
        lcond = lcond & F.array_contains(F.col(NodeField.LABELS), lb)
    missing_prop = any(p not in fields for p, _ in kprops)
    # first batch row per key decides CREATE
    w = Window.partitionBy(*kcols).orderBy("__ix")
    firsts = (
        Bk.withColumn("__rn", F.row_number().over(w))
        .filter("__rn = 1")
        .drop("__rn")
    )
    if missing_prop:
        # a merge key the schema doesn't have can never match — every
        # distinct key creates (single-MERGE parity)
        creates = firsts
    else:
        existing = (
            nodes.filter(lcond)
            .select(
                *[
                    F.col(p).alias(kc)
                    for (p, _), kc in zip(kprops, kcols)
                ]
            )
            .dropDuplicates()
        )
        creates = firsts.join(existing, kcols, "left_anti")
    creates = creates.localCheckpoint()
    n_created = creates.count()
    # created rows conformed to the node schema (auto ids above max,
    # deterministic by batch order; widening key/ON-CREATE props add
    # columns, pre-existing nodes backfill NULL via unionByName)
    oc = dict(spec["on_create"])
    kmap = {p: kc for (p, _), kc in zip(kprops, kcols)}
    if n_created:
        if NodeField.ID in kmap:
            # r10 ADVICE (high): an ID-keyed batch MERGE honors the
            # explicit id — the key IS the node's identity, exactly
            # like single-statement MERGE via _literal_rows — so
            # re-running the identical batch is idempotent. A created
            # id colliding with a node OUTSIDE the label filter is
            # refused (same contract as CREATE's collision check; one
            # distributed semi-join).
            rows = creates.withColumn(
                NodeField.ID, F.col(kmap[NodeField.ID]).cast("long")
            )
            clash = (
                rows.select(NodeField.ID)
                .join(nodes.select(NodeField.ID), NodeField.ID, "inner")
                .limit(1)
                .count()
            )
            if clash:
                raise ValueError(
                    "batch MERGE: created node id already exists in "
                    "the graph (under a label outside the merge "
                    "pattern's filter)"
                )
        else:
            base_id = (
                nodes.agg(F.max(NodeField.ID)).collect()[0][0] or 0
            ) + 1
            wid = Window.orderBy("__ix")
            rows = creates.withColumn(
                NodeField.ID,
                (F.row_number().over(wid) - 1 + F.lit(base_id)).cast(
                    "long"
                ),
            )
        rows = rows.withColumn(
            NodeField.LABELS,
            F.array(*[F.lit(lb) for lb in spec["labels"]]),
        )
        out_cols = [F.col(NodeField.ID), F.col(NodeField.LABELS)]
        for c in nodes.columns:
            if c in (NodeField.ID, NodeField.LABELS):
                continue
            if c in kmap:
                out_cols.append(F.col(kmap[c]).cast(fields[c]).alias(c))
            elif c in oc:
                out_cols.append(F.expr(oc[c]).cast(fields[c]).alias(c))
            else:
                out_cols.append(F.lit(None).cast(fields[c]).alias(c))
        for p, kc in kmap.items():  # widening merge keys
            if p not in fields:
                out_cols.append(F.col(kc).alias(p))
        for p, sql in oc.items():  # widening ON CREATE props
            if p not in fields and p not in kmap:
                out_cols.append(F.expr(sql).alias(p))
        rows = _decimals_to_double(rows.select(*out_cols))
        new_nodes = nodes.unionByName(rows, allowMissingColumns=True)
    else:
        new_nodes = nodes
    ret_ids = None
    if spec["ret"] is not None:
        # per-batch-row merged-node id, resolved on the post-CREATE
        # frame: ids are stable, so a later ON MATCH update of a merge
        # key property cannot break the resolution; duplicates per
        # batch row are INTENDED (one RETURN row per batch element)
        tagged = new_nodes.withColumn("__lbl", lcond)
        jcond = tagged["__lbl"]
        for (p, _), kc in zip(kprops, kcols):
            jcond = jcond & (tagged[p] == Bk[kc])
        ret_ids = (
            Bk.join(tagged, jcond, "inner")
            .select(tagged[NodeField.ID].alias("__rid"), Bk["__ix"])
            .localCheckpoint()
        )
    n_props = n_created * len(oc)
    om = spec["on_match"]
    if om:
        # applications: every batch row EXCEPT the creating firsts.
        # Per key, plain values take the LAST row (max_by over __ix —
        # sequential parity), additive folds SUM their per-row expr
        # (addition commutes, so base + SUM == applying row-by-row).
        # A NULL expr on any application row nulls the fold result
        # (NULL + x = NULL forever in the sequential run).
        apps = Bk.join(creates.select("__ix"), "__ix", "left_anti")
        aggs, fold_flags = [], []
        for i, e in enumerate(om):
            if e["kind"] == "value":
                aggs.append(
                    F.max_by(F.expr(e["sql"]), F.col("__ix")).alias(
                        f"__v{i}"
                    )
                )
            else:
                rest = F.expr(e["rest"])
                if e["sign"] == "-":
                    rest = -rest
                aggs.append(F.sum(rest).alias(f"__v{i}"))
                aggs.append(
                    F.max(
                        F.expr(e["rest"]).isNull().cast("int")
                    ).alias(f"__vn{i}")
                )
                fold_flags.append(f"__vn{i}")
        upd = apps.groupBy(*kcols).agg(*aggs)
        upd = _decimals_to_double(upd).localCheckpoint()
        n_upd = upd.count()
        if n_upd:
            nfields = {
                f.name: f.dataType.simpleString()
                for f in new_nodes.schema.fields
            }
            tagged = new_nodes.withColumn("__lbl", lcond)
            cond = tagged["__lbl"]
            for (p, _), kc in zip(kprops, kcols):
                if p in nfields:
                    cond = cond & (tagged[p] == upd[kc])
                else:
                    cond = F.lit(False)
            joined = tagged.join(upd, cond, "left")
            matched = F.col(kcols[0]).isNotNull()
            for i, e in enumerate(om):
                p = e["prop"]
                if e["kind"] == "value":
                    val = F.col(f"__v{i}")
                else:
                    base = (
                        F.col(p) if p in nfields else F.lit(None)
                    )
                    if e["init"] is not None:
                        base = F.coalesce(base, F.expr(e["init"]))
                    val = F.when(
                        F.col(f"__vn{i}") == 1, F.lit(None)
                    ).otherwise(base + F.col(f"__v{i}"))
                if p in nfields:
                    val = val.cast(nfields[p])
                    joined = joined.withColumn(
                        p, F.when(matched, val).otherwise(F.col(p))
                    )
                else:  # widening ON MATCH prop
                    joined = joined.withColumn(p, F.when(matched, val))
            new_nodes = joined.drop(
                "__lbl",
                *kcols,
                *[f"__v{i}" for i in range(len(om))],
                *fold_flags,
            )
            n_props += n_upd * len(om)
    return (
        new_nodes,
        rels,
        _summary(spark, "merge", nodes_created=n_created, props_set=n_props),
        _ids_return(spark, spec, ret_ids),
    )


def parse_unwind_rel(stmt: WriteStatement):
    """``UNWIND $batch AS row MATCH (a:L1 {k: row.x}), (b:L2 {k:
    row.y}) CREATE/MERGE (a)-[r:T {w: row.w}]->(b)`` — the canonical
    Neo4j bulk EDGE-load idiom, set-based. Returns a spec for
    :func:`execute_unwind_rel`, or None when the statement is not this
    shape.

    Semantics (documented): per batch row, each anchor resolves by
    label + property equality (a row matching several nodes on a side
    joins combinatorially, like Cypher MATCH; rows matching nothing
    drop silently, like Cypher MATCH). Edges land one per DISTINCT
    endpoint pair (the engine's documented create_rel multiplicity),
    with the LAST batch row's property values winning per pair; MERGE
    additionally skips pairs whose (endpoints, type, pattern props)
    already exist. ON CREATE/ON MATCH SET and trailing RETURN are v1
    refusals here. The batch is ONE inline-table frame
    (:func:`_batch_rows`), so there is no parse limit on batch size."""
    query, params = stmt.head, stmt.params
    m = re.match(
        r"\s*UNWIND\s+\$([A-Za-z_]\w*)\s+AS\s+([A-Za-z_]\w*)\s+MATCH\b",
        query,
        re.IGNORECASE,
    )
    if not m:
        return None
    pname, alias = m.group(1), m.group(2)
    toks = _tokenize(query[m.end():])
    # cheap shape test BEFORE any param validation: the statement is
    # ours only if a depth-0 CREATE/MERGE clause token follows the
    # MATCH (batch SET/DELETE belongs to parse_unwind_node_write)
    depth, is_rel_shape = 0, False
    prev_tx = ""
    for t in toks:
        tx = t[1]
        if tx in ("(", "[", "{"):
            depth += 1
        elif tx in (")", "]", "}"):
            depth -= 1
        elif (
            depth == 0
            and t[0] == "name"
            and prev_tx not in (".", "AS", ":")
            and tx.upper() in ("CREATE", "MERGE")
        ):
            is_rel_shape = True
            break
        prev_tx = tx
    if not is_rel_shape:
        return None
    batch = _batch_param(params, pname, alias)
    cur = _TokCursor(toks, "batch rel write")
    peek, nxt, expect = cur.peek, cur.nxt, cur.expect

    def expr_tokens() -> list:
        return cur.expr_tokens(lambda kind, text: text == ",")

    def anchor():
        expect("(")
        vt = nxt()
        if vt[0] != "name":
            raise CypherSyntaxError(
                "batch rel write: anchor patterns need a variable"
            )
        var = vt[1]
        labels = []
        while peek()[1] == ":":
            nxt()
            lt = nxt()
            if lt[0] not in ("name", "kw"):
                raise CypherSyntaxError("expected label name")
            labels.append(lt[2] if len(lt) > 2 else lt[1])
        props = []
        if peek()[1] == "{":
            nxt()
            while True:
                kt = nxt()
                if kt[0] not in ("name", "kw"):
                    raise CypherSyntaxError("expected property name")
                prop = kt[2] if len(kt) > 2 else kt[1]
                expect(":")
                props.append((prop, expr_tokens()))
                if peek()[1] == ",":
                    nxt()
                    continue
                break
            expect("}")
        expect(")")
        if not props:
            raise CypherUnsupported(
                f"batch rel write: anchor ({var}…) needs at least one "
                "key property to resolve against the batch"
            )
        return var, labels, props

    a = anchor()
    if peek()[0] == "kw" and peek()[1] == "WHERE":
        raise CypherSyntaxError(
            "batch rel write: WHERE goes after the LAST anchor "
            "pattern (MATCH (a {…}), (b {…}) WHERE …)"
        )
    expect(",")
    b = anchor()
    if peek()[1] == ",":
        raise CypherUnsupported(
            "batch rel write supports exactly two anchor patterns (v1)"
        )
    where_run: list | None = None
    if peek()[0] == "kw" and peek()[1] == "WHERE":
        # r10 verdict #4: WHERE over the anchors' properties and/or
        # batch values — evaluated on the joined (batch row × a-match
        # × b-match) frame, before the edge write (Cypher order)
        nxt()
        where_run = []
        wdepth = 0
        while True:
            kind, text = peek()[0], peek()[1]
            if kind == "eof":
                break
            prev_dot = bool(where_run) and where_run[-1][1] == "."
            if (
                wdepth == 0
                and not prev_dot
                and kind == "name"
                and text.upper() in ("CREATE", "MERGE")
            ):
                break
            if text in ("(", "[", "{"):
                wdepth += 1
            elif text in (")", "]", "}"):
                wdepth -= 1
            where_run.append(nxt())
            continue
        if not where_run:
            raise CypherSyntaxError("batch rel write: empty WHERE")
    vt = nxt()
    verb = vt[1].upper() if vt[0] in ("name", "kw") else ""
    if verb not in ("CREATE", "MERGE"):
        raise CypherSyntaxError(
            f"batch rel write: expected CREATE or MERGE, got {vt[1]!r}"
        )
    expect("(")
    e1 = nxt()[1]
    expect(")")
    d1 = nxt()[1]
    if d1 not in ("-", "<-"):
        raise CypherSyntaxError("expected a relationship pattern")
    expect("[")
    rvar = None
    if peek()[0] == "name" and toks[cur.pos + 1][1] == ":":
        rvar = nxt()[1]
    expect(":")
    tt = nxt()
    if tt[0] not in ("name", "kw"):
        raise CypherSyntaxError("expected relationship type")
    rtype = tt[2] if len(tt) > 2 else tt[1]
    rprops = []
    if peek()[1] == "{":
        nxt()
        while True:
            kt = nxt()
            if kt[0] not in ("name", "kw"):
                raise CypherSyntaxError("expected property name")
            prop = kt[2] if len(kt) > 2 else kt[1]
            expect(":")
            rprops.append((prop, expr_tokens()))
            if peek()[1] == ",":
                nxt()
                continue
            break
        expect("}")
    expect("]")
    d2 = nxt()[1]
    expect("(")
    e2 = nxt()[1]
    expect(")")
    if d1 == "-" and d2 == "->":
        src_var, dst_var = e1, e2
    elif d1 == "<-" and d2 == "-":
        src_var, dst_var = e2, e1
    else:
        raise CypherUnsupported(
            "batch rel write: the relationship must be directed "
            "(-> or <-)"
        )
    by_var = {a[0]: a, b[0]: b}
    if src_var not in by_var or dst_var not in by_var or src_var == dst_var:
        raise CypherSyntaxError(
            f"batch rel write: endpoints {e1!r}/{e2!r} must be the two "
            "MATCH anchor variables"
        )
    # ON CREATE SET / ON MATCH SET on the batch rel MERGE (r11):
    # targets the rel variable; values are batch keys / params /
    # literals (self-references keep a targeted refusal). Applied
    # set-based: ON CREATE folds into the created rows (last row per
    # pair wins, like the pattern props), ON MATCH is one conditional
    # projection over the matched identities.
    r_on_create: list[tuple[str, list]] = []
    r_on_match: list[tuple[str, list]] = []
    while peek()[0] == "name" and peek()[1].upper() == "ON":
        if verb != "MERGE":
            raise CypherSyntaxError(
                "ON CREATE/ON MATCH SET is only valid after MERGE"
            )
        if rvar is None:
            raise CypherUnsupported(
                "name the merged relationship to use ON CREATE/ON "
                "MATCH SET ((a)-[r:T]->(b) …)"
            )
        nxt()
        wt = nxt()
        which = wt[1].upper() if wt[0] in ("name", "kw") else ""
        if which not in ("CREATE", "MATCH"):
            raise CypherSyntaxError(
                f"expected CREATE or MATCH after ON, got {wt[1]!r}"
            )
        st = nxt()
        if not (st[0] in ("name", "kw") and st[1].upper() == "SET"):
            raise CypherSyntaxError(
                f"expected SET after ON {which}, got {st[1]!r}"
            )
        tgt = r_on_create if which == "CREATE" else r_on_match
        while True:
            v2 = nxt()
            if v2[0] != "name" or v2[1] != rvar:
                raise CypherUnsupported(
                    f"ON {which} SET targets the merged rel variable "
                    f"{rvar!r}, got {v2[1]!r}"
                )
            expect(".")
            pt = nxt()
            if pt[0] not in ("name", "kw"):
                raise CypherSyntaxError("expected property name after '.'")
            prop = pt[2] if len(pt) > 2 else pt[1]
            if prop in RelField.RESERVED:
                raise CypherUnsupported(
                    f"ON {which} SET cannot modify the immutable "
                    f"column {prop!r}"
                )
            expect("=")
            run = []
            depth = 0
            while True:
                kind, text = peek()[0], peek()[1]
                if kind == "eof":
                    break
                prev_dot = bool(run) and run[-1][1] == "."
                if text in ("(", "[", "{"):
                    depth += 1
                elif text in (")", "]", "}"):
                    if depth == 0:
                        break
                    depth -= 1
                elif depth == 0 and not prev_dot and (
                    text == ","
                    or (kind == "name" and text.upper() == "ON")
                ):
                    break
                run.append(nxt())
                continue
            if not run:
                raise CypherSyntaxError(
                    f"ON {which} SET {rvar}.{prop}: empty value"
                )
            tgt.append((prop, run))
            if peek()[1] == ",":
                nxt()
                continue
            break
    if peek()[0] != "eof":
        raise CypherSyntaxError(
            f"batch rel write: unexpected trailing input: {peek()[1]!r}"
        )
    keys_used: set[str] = set()
    forbidden = frozenset(
        v for v in (a[0], b[0], rvar) if v
    )
    rewrite = _batch_rewriter(
        alias,
        params,
        keys_used,
        forbidden=forbidden,
        forbid_msg=(
            "the value cannot reference pattern variable {var!r} in "
            "the batch form"
        ),
    )
    anchors = [
        (v, labels, [(p, rewrite(run, f"{v}.{p}")) for p, run in props])
        for v, labels, props in (by_var[src_var], by_var[dst_var])
    ]
    rprop_sqls = [
        (p, rewrite(run, f"relationship property {p}"))
        for p, run in rprops
    ]
    roc_sqls = [
        (p, rewrite(run, f"ON CREATE SET {rvar}.{p}"))
        for p, run in r_on_create
    ]
    rom_sqls = [
        (p, rewrite(run, f"ON MATCH SET {rvar}.{p}"))
        for p, run in r_on_match
    ]
    # pattern props define the merge identity; an ON CREATE value for
    # the same property loses to the pattern (single merge_rel parity)
    rp_key_names = {p for p, _ in rprop_sqls}
    roc_sqls = [(p, s) for p, s in roc_sqls if p not in rp_key_names]
    if any(p in rp_key_names for p, _ in rom_sqls):
        raise CypherUnsupported(
            "ON MATCH SET on a batch rel MERGE cannot modify a "
            "pattern (merge-key) property — it would change the "
            "match identity"
        )
    where_sql, wprops = None, []
    if where_run is not None:
        # anchor property accesses (a.age) become per-side columns
        # (__w0_age) the executor adds to the anchor frames; the rest
        # goes through the expr rewriter (row.* keys, $params) — any
        # remaining bare pattern variable refuses by name there
        side_of = {src_var: 0, dst_var: 1}
        wseen: set[tuple[int, str]] = set()
        wtrans, i = [], 0
        while i < len(where_run):
            t = where_run[i]
            if (
                t[0] == "name"
                and t[1] in side_of
                and i + 2 < len(where_run)
                and where_run[i + 1][1] == "."
            ):
                pt = where_run[i + 2]
                p = pt[2] if len(pt) > 2 else pt[1]
                s = side_of[t[1]]
                wseen.add((s, p))
                wtrans.append(("name", f"__w{s}_{p}"))
                i += 3
                continue
            wtrans.append(t)
            i += 1
        wprops = sorted(wseen)
        wrewrite = _batch_rewriter(
            alias,
            params,
            keys_used,
            forbidden=forbidden,
            forbid_msg=(
                "the WHERE predicate cannot reference pattern "
                "variable {var!r} bare — use {var!r}.<prop>"
            ),
            mode="expr",
            extra_bound=frozenset(f"__w{s}_{p}" for s, p in wprops),
        )
        where_sql = wrewrite(wtrans, "batch rel WHERE")
    if stmt.ret is not None:
        validate_batch_rel_return(rvar, stmt.ret)
    return {
        "ret": stmt.ret,
        "op": "create_rel" if verb == "CREATE" else "merge_rel",
        "anchors": anchors,  # [src, dst] in edge direction
        "rtype": rtype,
        "rvar": rvar,
        "rprops": rprop_sqls,
        "on_create": roc_sqls,
        "on_match": rom_sqls,
        "where": where_sql,
        "wprops": wprops,  # [(side, prop)] the WHERE references
        "b_rows": _batch_rows(batch, keys_used, "batch rel write"),
        "n_rows": len(batch),
    }


def parse_unwind_node_write(stmt: WriteStatement):
    """``UNWIND $batch AS row MATCH (n:L {k: row.k}) SET n.p = expr[,
    …]`` and ``… [DETACH] DELETE n`` — the batch UPDATE / DELETE-by-key
    idioms, set-based. Returns a spec for
    :func:`execute_unwind_node_write`, or None when the statement is
    not this shape (notably: a second anchor or a CREATE/MERGE verb —
    those belong to the batch-rel path).

    Semantics (documented): per batch row the anchor resolves by
    label + property equality (rows matching nothing drop silently —
    MATCH semantics); for SET the LAST batch row's values win per key
    (sequential-equivalent for non-self-referential values —
    self-references refuse); DELETE removes every matched node, DETACH
    dropping incident edges first. The batch is ONE inline-table frame
    (:func:`_batch_rows`), so there is no parse limit on batch size."""
    query, params = stmt.head, stmt.params
    m = re.match(
        r"\s*UNWIND\s+\$([A-Za-z_]\w*)\s+AS\s+([A-Za-z_]\w*)\s+MATCH\b",
        query,
        re.IGNORECASE,
    )
    if not m:
        return None
    pname, alias = m.group(1), m.group(2)
    toks = _tokenize(query[m.end():])
    # cheap shape test BEFORE any param validation: a single anchor
    # followed by SET / [DETACH] DELETE at depth 0 — anything else
    # (two anchors, CREATE/MERGE) is not ours
    depth, verb_at, prev_tx = 0, None, ""
    for i, t in enumerate(toks):
        tx = t[1]
        if tx in ("(", "[", "{"):
            depth += 1
        elif tx in (")", "]", "}"):
            depth -= 1
        elif (
            depth == 0
            and prev_tx != "."  # `n.set` is a property, not a verb
            and t[0] == "name"
            and tx.upper() in ("SET", "DELETE", "DETACH")
        ):
            verb_at = i
            break
        elif depth == 0 and prev_tx != "." and (
            tx == "," or (t[0] == "name" and tx.upper() in ("CREATE", "MERGE"))
        ):
            return None
        prev_tx = tx
    if verb_at is None:
        return None
    batch = _batch_param(params, pname, alias)
    cur = _TokCursor(toks, "batch node write")
    peek, nxt, expect = cur.peek, cur.nxt, cur.expect

    def expr_tokens() -> list:
        return cur.expr_tokens(lambda kind, text: text == ",")

    expect("(")
    vt = nxt()
    if vt[0] != "name":
        raise CypherSyntaxError("batch node write: anchor needs a variable")
    var = vt[1]
    labels = []
    while peek()[1] == ":":
        nxt()
        lt = nxt()
        if lt[0] not in ("name", "kw"):
            raise CypherSyntaxError("expected label name")
        labels.append(lt[2] if len(lt) > 2 else lt[1])
    props = []
    if peek()[1] == "{":
        nxt()
        while True:
            kt = nxt()
            if kt[0] not in ("name", "kw"):
                raise CypherSyntaxError("expected property name")
            prop = kt[2] if len(kt) > 2 else kt[1]
            expect(":")
            props.append((prop, expr_tokens()))
            if peek()[1] == ",":
                nxt()
                continue
            break
        expect("}")
    expect(")")
    if not props:
        raise CypherUnsupported(
            "batch node write: the anchor needs at least one key "
            "property to resolve against the batch"
        )
    where_run = None
    if peek()[0] == "kw" and peek()[1] == "WHERE":
        # r10: WHERE over the anchor's properties and/or batch values —
        # evaluated on the joined (batch row × matched node) frame
        nxt()
        where_run = []
        wdepth = 0
        while True:
            kind, text = peek()[0], peek()[1]
            if kind == "eof":
                break
            # a clause keyword directly after '.' is a PROPERTY
            # (``WHERE n.set = 9``), never the verb (r10 ADVICE)
            prev_dot = bool(where_run) and where_run[-1][1] == "."
            if wdepth == 0 and not prev_dot and (
                kind == "name" and text.upper() in ("SET", "DELETE", "DETACH")
            ):
                break
            if text in ("(", "[", "{"):
                wdepth += 1
            elif text in (")", "]", "}"):
                wdepth -= 1
            where_run.append(nxt())
        if not where_run:
            raise CypherSyntaxError("batch node write: empty WHERE")
    vt = nxt()
    verb = vt[1].upper()
    detach = False
    if verb == "DETACH":
        detach = True
        verb = nxt()[1].upper()
    keys_used: set[str] = set()
    rewrite = _batch_rewriter(
        alias,
        params,
        keys_used,
        forbidden=frozenset([var]),
        forbid_msg=(
            "the value cannot reference the matched variable {var!r} — "
            "per-key folds are not supported in the batch form (v1); "
            "run a plain MATCH…SET instead"
        ),
    )
    sets: list[tuple[str, str]] = []
    if verb == "SET":
        while True:
            v2 = nxt()
            if v2[0] != "name" or v2[1] != var:
                raise CypherUnsupported(
                    f"batch SET targets the matched variable {var!r}, "
                    f"got {v2[1]!r}"
                )
            expect(".")
            pt = nxt()
            if pt[0] not in ("name", "kw"):
                raise CypherSyntaxError("expected property name after '.'")
            prop = pt[2] if len(pt) > 2 else pt[1]
            if prop in ("ID", "LABELS"):
                raise CypherUnsupported(
                    f"SET {var}.{prop}: node identity/label columns "
                    "are immutable"
                )
            expect("=")
            run = expr_tokens()
            if any(t[0] == "name" and t[1] == var for t in run):
                # ADDITIVE self-referencing fold (r11 — the SET twin
                # of the batch-MERGE ON MATCH fold): n.c = n.c + expr
                # applies as base + SUM(expr) over the rows matching
                # the node
                fold = _match_additive_fold(prop, run, var)
                if fold is None:
                    raise CypherUnsupported(
                        f"SET {var}.{prop}: only ADDITIVE "
                        f"self-referencing folds ({var}.{prop} = "
                        f"{var}.{prop} + expr, or "
                        f"coalesce({var}.{prop}, init) + expr) are "
                        "supported in the batch form; run a plain "
                        "MATCH…SET instead"
                    )
                if any(p2 == prop for p2, _ in props):
                    raise CypherUnsupported(
                        f"SET {var}.{prop}: a fold on a match-key "
                        "property would change the match identity "
                        "mid-batch — not supported in the batch form"
                    )
                init_run, sign, rest = fold
                sets.append(
                    {
                        "prop": prop,
                        "kind": "fold",
                        "sign": sign,
                        "init": (
                            rewrite(init_run, f"SET {var}.{prop} init")
                            if init_run
                            else None
                        ),
                        "rest": rewrite(rest, f"SET {var}.{prop}"),
                    }
                )
            else:
                sets.append(
                    {
                        "prop": prop,
                        "kind": "value",
                        "sql": rewrite(run, f"SET {var}.{prop}"),
                    }
                )
            if peek()[1] == ",":
                nxt()
                continue
            break
    elif verb == "DELETE":
        v2 = nxt()
        if v2[0] != "name" or v2[1] != var:
            raise CypherUnsupported(
                f"batch DELETE targets the matched variable {var!r}, "
                f"got {v2[1]!r}"
            )
    else:
        raise CypherSyntaxError(
            f"batch node write: expected SET or DELETE, got {verb!r}"
        )
    if peek()[0] != "eof":
        raise CypherSyntaxError(
            f"batch node write: unexpected trailing input: {peek()[1]!r}"
        )
    key_sqls = [
        (p, rewrite(run, f"match key {p}")) for p, run in props
    ]
    where_sql = None
    if where_run is not None:
        wrewrite = _batch_rewriter(
            alias,
            params,
            keys_used,
            strip_var=var,
            mode="expr",
        )
        where_sql = wrewrite(where_run, "batch WHERE")
    return {
        "op": verb.lower(),
        "var": var,
        "labels": labels,
        "keys": key_sqls,
        "sets": sets,
        "where": where_sql,
        "detach": detach,
        "ret": stmt.ret,
        "b_rows": _batch_rows(batch, keys_used, "batch node write"),
        "n_rows": len(batch),
    }


def execute_unwind_node_write(
    spark: SparkSession, nodes: DataFrame, rels: DataFrame | None, spec: dict
):
    """Set-based batch SET / DELETE (see
    :func:`parse_unwind_node_write`): one window pass collapses the
    batch to last-row-wins values per key, one join against the
    label-filtered node frame resolves the targets, and the update is
    the standard conditional projection (DELETE: the standard
    anti-joins, with the plain-DELETE incident-edge check). A trailing
    RETURN projects the per-batch-row matched nodes."""
    from pyspark.sql.window import Window

    op = spec["op"]
    if spec["n_rows"] == 0:
        return nodes, rels, _summary(spark, op), _ids_return(spark, spec)
    nfields = {f.name: f.dataType.simpleString() for f in nodes.schema.fields}
    kprops = spec["keys"]
    kcols = [f"__k{i}" for i in range(len(kprops))]
    B = _values_frame(spark, *spec["b_rows"])
    Bk = B.select(
        "__ix",
        *[
            F.expr(sql).cast(nfields[p]).alias(kc)
            if p in nfields
            else F.expr(sql).alias(kc)
            for (p, sql), kc in zip(kprops, kcols)
        ],
        *[c for c in B.columns if c != "__ix"],
    )
    Bk = _decimals_to_double(Bk).localCheckpoint()
    lcond = F.lit(True)
    for lb in spec["labels"]:
        lcond = lcond & F.array_contains(F.col(NodeField.LABELS), lb)
    missing = any(p not in nfields for p, _ in kprops)
    if missing:
        # a key property absent from the schema matches nothing
        return nodes, rels, _summary(spark, op), _ids_return(spark, spec)
    tagged = nodes.withColumn("__lbl", lcond)
    jcond = tagged["__lbl"]
    for (p, _), kc in zip(kprops, kcols):
        jcond = jcond & (tagged[p] == Bk[kc])
    # one (batch row × matched node) frame — the WHERE (which may mix
    # node properties and batch values) filters it, and everything
    # downstream (ids for RETURN, last-applicable-row-per-node update,
    # delete targets) derives from it
    joined0 = Bk.join(tagged, jcond, "inner")
    if spec.get("where"):
        joined0 = joined0.filter(F.expr(spec["where"]))
    ret_ids = None
    if spec["ret"] is not None:
        ret_ids = joined0.select(
            tagged[NodeField.ID].alias("__rid"), Bk["__ix"]
        ).localCheckpoint()
    if op == "set":
        # per matched node: plain values take the LAST applicable row
        # (max_by over __ix — sequential parity), additive folds SUM
        # their per-row expr (base + SUM == row-by-row application); a
        # NULL fold expr on any row nulls the result (NULL + x = NULL
        # forever in the sequential run)
        sets = spec["sets"]
        aggs, fold_flags = [], []
        for i, e in enumerate(sets):
            if e["kind"] == "value":
                aggs.append(
                    F.max_by(F.expr(e["sql"]), F.col("__ix")).alias(
                        f"__v{i}"
                    )
                )
            else:
                rest = F.expr(e["rest"])
                if e["sign"] == "-":
                    rest = -rest
                aggs.append(F.sum(rest).alias(f"__v{i}"))
                aggs.append(
                    F.max(
                        F.expr(e["rest"]).isNull().cast("int")
                    ).alias(f"__vn{i}")
                )
                fold_flags.append(f"__vn{i}")
        upd = joined0.groupBy(
            tagged[NodeField.ID].alias("__sid")
        ).agg(*aggs)
        upd = _decimals_to_double(upd).localCheckpoint()
        n_set = upd.count()
        joined = nodes.join(
            upd, nodes[NodeField.ID] == upd["__sid"], "left"
        )
        matched = F.col("__sid").isNotNull()
        for i, e in enumerate(sets):
            p = e["prop"]
            if e["kind"] == "value":
                val = F.col(f"__v{i}")
            else:
                base = F.col(p) if p in nfields else F.lit(None)
                if e["init"] is not None:
                    base = F.coalesce(base, F.expr(e["init"]))
                val = F.when(
                    F.col(f"__vn{i}") == 1, F.lit(None)
                ).otherwise(base + F.col(f"__v{i}"))
            if p in nfields:
                val = val.cast(nfields[p])
                joined = joined.withColumn(
                    p, F.when(matched, val).otherwise(F.col(p))
                )
            else:  # schema-widening batch SET
                joined = joined.withColumn(p, F.when(matched, val))
        out = joined.drop(
            "__sid",
            *[f"__v{i}" for i in range(len(sets))],
            *fold_flags,
        )
        return (
            out,
            rels,
            _summary(spark, "set", props_set=n_set * len(sets)),
            _ids_return(spark, spec, ret_ids),
        )
    # delete
    ids = (
        joined0.select(tagged[NodeField.ID].alias("__sid"))
        .dropDuplicates()
        .localCheckpoint()
    )
    n_del = ids.count()
    new_rels = rels
    r_del = 0
    if rels is not None:
        inc_src = rels.join(
            ids, rels[RelField.START_ID] == ids["__sid"], "left_semi"
        )
        inc_dst = rels.join(
            ids, rels[RelField.END_ID] == ids["__sid"], "left_semi"
        )
        if not spec["detach"]:
            if inc_src.limit(1).count() or inc_dst.limit(1).count():
                raise ValueError(
                    "DELETE: node still has relationships — use DETACH "
                    "DELETE"
                )
        else:
            kept = rels.join(
                ids, rels[RelField.START_ID] == ids["__sid"], "left_anti"
            )
            kept = kept.join(
                ids, kept[RelField.END_ID] == ids["__sid"], "left_anti"
            )
            new_rels = kept
            r_del = rels.count() - kept.count()
    new_nodes = nodes.join(
        ids, nodes[NodeField.ID] == ids["__sid"], "left_anti"
    )
    return (
        new_nodes,
        new_rels,
        _summary(spark, "delete", nodes_deleted=n_del, rels_deleted=r_del),
        # DELETE projects the PRE-delete values (openCypher)
        _ids_return(spark, spec, ret_ids, frame=nodes),
    )


def execute_unwind_rel(
    spark: SparkSession, nodes: DataFrame, rels: DataFrame | None, spec: dict
):
    """Set-based batch edge load (see :func:`parse_unwind_rel`): the
    batch expands to one literal frame, each anchor resolves with ONE
    equi-join against the label-filtered node frame (broadcastable —
    the batch side is small), a WHERE (if present) filters the joined
    frame before the write (Cypher clause order), edges dedupe per
    endpoint pair with last-row-wins properties, and MERGE anti-joins
    the TYPE-filtered existing frame. No per-row probes; the only
    graph-wide touches are the two anchor joins and the type-filtered
    existence probe. A trailing RETURN projects one POST-STATEMENT
    affected edge per batch row × anchor match — openCypher
    multiplicity, set-based values."""
    from pyspark.sql.window import Window

    def ret(affected):
        if spec["ret"] is None:
            return None
        return lambda n, _r: project_batch_rel_return(
            spark, n, affected, spec["rvar"], spec["ret"]
        )

    if rels is None:
        raise ValueError("graph has no relationship frame to extend")
    if spec["n_rows"] == 0:
        return nodes, rels, _summary(spark, spec["op"]), ret(rels.limit(0))
    nfields = {f.name: f.dataType.simpleString() for f in nodes.schema.fields}
    B = _values_frame(spark, *spec["b_rows"])
    # per-anchor key columns, cast to the node column's type
    sides = []
    sel = ["__ix"] + [c for c in B.columns if c != "__ix"]
    exprs = list(sel)
    for s, (var, labels, props) in enumerate(spec["anchors"]):
        kcols = []
        for i, (p, sql) in enumerate(props):
            kc = f"__s{s}k{i}"
            cast = f" AS {nfields[p]}" if p in nfields else ""
            exprs.append(
                f"CAST(({sql}){cast}) AS {kc}" if cast else f"({sql}) AS {kc}"
            )
            kcols.append(kc)
        sides.append((var, labels, props, kcols))
    Bk = _decimals_to_double(B.selectExpr(*exprs)).localCheckpoint()
    pairs = Bk
    out_ids = []
    for s, (var, labels, props, kcols) in enumerate(sides):
        lcond = F.lit(True)
        for lb in labels:
            lcond = lcond & F.array_contains(F.col(NodeField.LABELS), lb)
        missing = any(p not in nfields for p, _ in props)
        idc = f"__id{s}"
        out_ids.append(idc)
        wcols = [
            (p, f"__w{s}_{p}")
            for (s2, p) in spec.get("wprops") or []
            if s2 == s
        ]
        if missing:
            # a key property absent from the schema matches nothing —
            # Cypher MATCH drops every row
            pairs = pairs.join(
                spark.createDataFrame([], f"{idc} long"), how="cross"
            ).limit(0)
            for _p, wc in wcols:
                pairs = pairs.withColumn(wc, F.lit(None))
            continue
        nf = nodes.filter(lcond).select(
            F.col(NodeField.ID).alias(idc),
            *[F.col(p).alias(f"__s{s}p{i}") for i, (p, _) in enumerate(props)],
            # WHERE-referenced anchor props ride along; a prop the
            # schema lacks reads as NULL (openCypher)
            *[
                (F.col(p) if p in nfields else F.lit(None)).alias(wc)
                for p, wc in wcols
            ],
        )
        cond = None
        for i, kc in enumerate(kcols):
            c = pairs[kc] == nf[f"__s{s}p{i}"]
            cond = c if cond is None else (cond & c)
        pairs = pairs.join(nf, cond, "inner")
    if spec.get("where"):
        # Cypher clause order: the predicate filters the MATCHed
        # (batch row × a × b) combinations before any edge is written
        pairs = pairs.filter(F.expr(spec["where"]))
    rfields = {f.name: f.dataType.simpleString() for f in rels.schema.fields}
    rp = spec["rprops"]
    oc = spec.get("on_create") or []
    om = spec.get("on_match") or []
    proj = (
        [F.col(out_ids[0]), F.col(out_ids[1])]
        + [F.expr(sql).alias(f"__rp{i}") for i, (_p, sql) in enumerate(rp)]
        + [F.expr(sql).alias(f"__oc{i}") for i, (_p, sql) in enumerate(oc)]
        + [F.expr(sql).alias(f"__om{i}") for i, (_p, sql) in enumerate(om)]
    )
    pairs = pairs.select(F.col("__ix"), *proj)
    want_ret = spec["ret"] is not None
    if want_ret:
        # pre-dedup multiplicity: one RETURN row per batch row ×
        # anchor match (openCypher); values resolve post-statement
        ret_pairs = pairs.select("__ix", *out_ids).localCheckpoint()
    # one edge per DISTINCT endpoint pair, LAST batch row's props win
    # (the same last-row rule covers the ON CREATE/ON MATCH values)
    w = Window.partitionBy(out_ids[0], out_ids[1]).orderBy(
        F.col("__ix").desc()
    )
    pairs = (
        pairs.withColumn("__rn", F.row_number().over(w))
        .filter("__rn = 1")
        .drop("__rn", "__ix")
    )
    cols = [
        F.col(out_ids[0]).cast("long").alias(RelField.START_ID),
        F.col(out_ids[1]).cast("long").alias(RelField.END_ID),
        F.lit(spec["rtype"]).alias(RelField.TYPE),
    ]
    rp_names = {p for p, _ in rp}
    rp_ix = {p: i for i, (p, _) in enumerate(rp)}
    oc_ix = {p: i for i, (p, _) in enumerate(oc)}
    for c in rels.schema.fieldNames():
        if c in RelField.RESERVED or c in ("REL_ID", "REL_ID2"):
            continue
        if c in rp_names:
            cols.append(F.col(f"__rp{rp_ix[c]}").cast(rfields[c]).alias(c))
        elif c in oc_ix:  # ON CREATE SET over the created rows
            cols.append(F.col(f"__oc{oc_ix[c]}").cast(rfields[c]).alias(c))
        else:
            cols.append(F.lit(None).cast(rfields[c]).alias(c))
    for p in rp_names - set(rfields):  # schema-widening rel property
        cols.append(F.col(f"__rp{rp_ix[p]}").alias(p))
    for p in oc_ix:  # schema-widening ON CREATE property
        if p not in rfields and p not in rp_names:
            cols.append(F.col(f"__oc{oc_ix[p]}").alias(p))
    new = _decimals_to_double(pairs.select(*cols))
    cand = new
    mergeable = spec["op"] == "merge_rel" and not (rp_names - set(rfields))
    if spec["op"] == "merge_rel":
        # merge identity = endpoints + type + PATTERN props (the same
        # rule as single merge_rel); a widening prop can never match
        keys = [RelField.START_ID, RelField.END_ID, RelField.TYPE] + sorted(
            rp_names & set(rfields)
        )
        if mergeable:
            new = new.join(
                _merge_probe_frame(rels, spec["rtype"], keys),
                keys,
                "left_anti",
            )
    new = new.localCheckpoint()  # consumed by count + union
    n_new = new.count()
    # ON MATCH SET: one conditional projection over the rel frame —
    # matched identities take the per-pair (last-row) values; created
    # pairs never join (their identity was just proven absent)
    rels_out, matched_aff, n_matched = rels, None, 0
    if mergeable and om:
        ikeys = sorted(rp_names & set(rfields))
        mupd = pairs.select(
            *out_ids,
            *[F.col(f"__rp{rp_ix[p]}").alias(f"__mk_{p}") for p in ikeys],
            *[F.col(f"__om{i}") for i in range(len(om))],
        ).localCheckpoint()
        cond = (
            (rels[RelField.START_ID] == mupd[out_ids[0]])
            & (rels[RelField.END_ID] == mupd[out_ids[1]])
            & (rels[RelField.TYPE] == spec["rtype"])
        )
        for p in ikeys:
            cond = cond & (rels[p] == mupd[f"__mk_{p}"])
        joined = rels.join(mupd, cond, "left")
        flag = F.col(out_ids[0]).isNotNull()
        for i, (p, _sql) in enumerate(om):
            val = F.col(f"__om{i}")
            if p in rfields:
                val = val.cast(rfields[p])
                joined = joined.withColumn(
                    p, F.when(flag, val).otherwise(F.col(p))
                )
            else:  # widening ON MATCH rel property
                joined = joined.withColumn(p, F.when(flag, val))
        drops = (
            list(out_ids)
            + [f"__mk_{p}" for p in ikeys]
            + [f"__om{i}" for i in range(len(om))]
        )
        if want_ret:
            matched_aff = joined.filter(flag).drop(*drops)
        rels_out = joined.drop(*drops)
        n_matched = (
            rels.filter(F.col(RelField.TYPE) == spec["rtype"])
            .join(
                cand.select(
                    RelField.START_ID, RelField.END_ID, RelField.TYPE,
                    *ikeys,
                ).dropDuplicates(),
                [RelField.START_ID, RelField.END_ID, RelField.TYPE]
                + ikeys,
                "leftsemi",
            )
            .count()
        )
    merged = _union_rels(rels_out, new)
    affected = None
    if want_ret:
        # affected edge per endpoint pair: the created one, or (MERGE)
        # the matched edge with its POST-ON-MATCH values; join back to
        # the pre-dedup pairs for openCypher row multiplicity
        aff = new
        if mergeable:
            if matched_aff is None:
                keys = [
                    RelField.START_ID,
                    RelField.END_ID,
                    RelField.TYPE,
                ] + sorted(rp_names & set(rfields))
                matched_aff = rels.filter(
                    F.col(RelField.TYPE) == spec["rtype"]
                ).join(cand.select(*keys).dropDuplicates(), keys, "leftsemi")
            aff = new.unionByName(matched_aff, allowMissingColumns=True)
        jc = (aff[RelField.START_ID] == ret_pairs[out_ids[0]]) & (
            aff[RelField.END_ID] == ret_pairs[out_ids[1]]
        )
        affected = (
            ret_pairs.join(aff, jc, "inner")
            .drop("__ix", *out_ids)
            .localCheckpoint()
        )
    return (
        nodes,
        merged,
        _summary(
            spark,
            spec["op"],
            rels_created=n_new,
            props_set=n_new * len(oc) + n_matched * len(om),
        ),
        ret(affected),
    )


#: aggregate-function heads that must not appear in write VALUES (SET /
#: ON SET / property maps): there is no group to aggregate over in a
#: write clause, and letting them through surfaces Spark's raw
#: MISSING_GROUP_BY analysis stack (r9 verdict, Wrong #2)
_AGG_HEAD_RE = re.compile(
    r"(?<![\w.])(?:count|sum|avg|collect_list|collect_set|min|max|"
    r"stddev(?:_samp|_pop)?|var(?:iance)?(?:_samp|_pop)?|"
    r"percentile(?:_cont|_disc|_approx)?)\s*\(",
    re.IGNORECASE,
)


def _reject_aggregates(expr: str, ctx: str) -> None:
    """Raise a targeted error when a write value contains an aggregate
    function (string literals excluded)."""
    m = _search_outside_strings(_AGG_HEAD_RE, expr)
    if m:
        raise CypherUnsupported(
            f"aggregates are not allowed in {ctx} values "
            f"(found {m.group().strip()}…))"
        )


def _reject_aggregates_in_ast(ast: dict) -> None:
    """Walk every value expression a write AST carries and reject
    aggregate heads — one central parse-as-validation pass so no
    write shape can leak a MISSING_GROUP_BY analysis stack."""
    for v, prop, rhs in ast.get("sets") or []:
        _reject_aggregates(rhs, f"SET {v}.{prop}")
    for which in ("on_create", "on_match"):
        for prop, rhs in ast.get(which) or []:
            _reject_aggregates(
                rhs, f"ON {'CREATE' if which == 'on_create' else 'MATCH'} SET"
            )
    for p in ast.get("patterns") or []:
        for k, rhs in p.props:
            _reject_aggregates(rhs, f"property {k}")
    for _si, _ti, r in ast.get("chain_rels") or []:
        for k, rhs in r.props:
            _reject_aggregates(rhs, f"relationship property {k}")
    for k, rhs in ast.get("rprops") or []:
        _reject_aggregates(rhs, f"relationship property {k}")


def _single_return_var(ast: dict, return_text: str | None) -> str | None:
    """The ONE created pattern variable a trailing RETURN references
    (None when zero or several do) — multi-pattern CREATE RETURNs
    project exactly one created node's values."""
    if return_text is None:
        return None
    pvars = [p.var for p in ast.get("patterns") or [] if p.var]
    try:
        toks = _tokenize(return_text)
    except CypherSyntaxError:
        return None
    names = {t[1] for t in toks if t[0] == "name"}
    hit = [v for v in pvars if v in names]
    return hit[0] if len(hit) == 1 else None


def validate_trailing_return(
    ast: dict,
    batch_var: str | None = None,
    return_text: str | None = None,
) -> None:
    """Submit-time compatibility check between a write op and its
    trailing RETURN — raises the same targeted errors the executor
    would, but BEFORE the job thread starts (CypherMessage parity:
    statement validation belongs at submit). ``batch_var`` marks a
    batch-expanded multi-pattern CREATE whose RETURN projects the
    original (pre-uniquify) variable over ALL created nodes — the
    single-pattern rule is waived for it."""
    op = ast["op"]
    if op in ("create", "merge"):
        if batch_var is not None and op == "create":
            if ast.get("chain_rels"):
                raise CypherUnsupported(
                    "RETURN after a batch CREATE with relationship "
                    "chains is not supported (v1)"
                )
            if return_text is not None:
                # the projection binds ONLY the returned source
                # variable — property access on a sibling created
                # variable or the UNWIND alias must refuse by name at
                # submit, not die unresolved in the job (r10 ADVICE,
                # high). prev2 guard: `a.d.year` chains stay legal.
                prev2, prev = ("", ""), ("", "")
                for t in _tokenize(return_text):
                    if (
                        t[1] == "."
                        and prev[0] in ("name", "kw")
                        and prev2[1] != "."
                        and prev[1] != batch_var
                    ):
                        raise CypherUnsupported(
                            "trailing RETURN after a batch CREATE "
                            "must reference only the created node "
                            f"variable {batch_var!r} (got {prev[1]!r})"
                        )
                    prev2, prev = prev, (t[0], t[1])
            return
        if len(ast["patterns"]) == 1 and not ast.get("chain_rels"):
            if not ast["patterns"][0].var:
                raise CypherUnsupported(
                    "RETURN after CREATE/MERGE needs a named node "
                    "variable"
                )
            return
        # r10: multi-pattern / chain CREATE — the RETURN may reference
        # exactly ONE of the created node variables (its assigned id
        # is known per pattern); merge is single-pattern by grammar
        if (
            return_text is not None
            and _single_return_var(ast, return_text) is None
        ):
            raise CypherUnsupported(
                "trailing RETURN after a multi-pattern CREATE must "
                "reference exactly one created node variable"
            )
    elif op in ("create_rel", "merge_rel"):
        if not ast.get("rvar"):
            raise CypherUnsupported(
                "RETURN after CREATE/MERGE relationship needs a named "
                "rel variable ((a)-[r:T]->(b) … RETURN r.prop)"
            )
    elif op not in ("set", "label", "set_rel", "delete", "delete_rel"):
        raise CypherUnsupported(
            f"RETURN after a {op!r} write is not supported (v1)"
        )


def split_trailing_return(query: str) -> tuple[str, str | None]:
    """Split a write statement's trailing ``RETURN items [ORDER BY/
    SKIP/LIMIT]`` clause off the raw text (Neo4j writes may project
    their affected entities). The write subset has no other top-level
    RETURN (no CALL { } / EXISTS { } in write clauses), so the FIRST
    depth-0 RETURN token starts the clause. Returns ``(write_text,
    return_text | None)`` — return_text includes the RETURN keyword."""
    depth, i, prev = 0, 0, ""
    while i < len(query):
        m = _TOKEN_RE.match(query, i)
        if not m:
            raise CypherSyntaxError(
                f"cannot tokenize at: {query[i:i+20]!r}"
            )
        text = m.group()
        if m.lastgroup != "ws":
            if text in ("(", "[", "{"):
                depth += 1
            elif text in (")", "]", "}"):
                depth -= 1
            elif (
                depth == 0
                and m.lastgroup == "kw"
                and text.upper() == "RETURN"
                # a RETURN directly after '.' is a property name
                # (``SET n.return = 1``), not the clause keyword —
                # the tokenizer deliberately allows keyword-looking
                # identifiers in property position
                and prev != "."
            ):
                return query[: m.start()].rstrip(), query[m.start():]
            prev = text
        i = m.end()
    return query, None


def is_cypher_write(query: str) -> bool:
    """Cheap dispatch for the write subset: a leading CREATE/MERGE, or
    a MATCH statement containing a top-level SET / [DETACH] DELETE
    token (names directly after ``.`` are property accesses, not
    clauses — ``n.set`` must not trigger)."""
    try:
        toks = _tokenize(query)
    except CypherSyntaxError:
        return False
    if not toks:
        return False
    first = toks[0][1].upper()
    if first in ("CREATE", "MERGE"):
        return True
    if first == "UNWIND":
        # only the bulk-write HEAD shapes route to the write path:
        # `UNWIND $param AS alias CREATE/MERGE …` (node batches) and
        # `UNWIND $param AS alias MATCH … CREATE/MERGE …` (edge
        # batches — the CREATE/MERGE clause token must come BEFORE any
        # top-level RETURN, so reads whose text merely contains the
        # word (`RETURN x AS create`) never misroute).
        if not (
            len(toks) >= 5
            and toks[1][0] == "param"
            and toks[2][1].upper() == "AS"
            and toks[3][0] in ("name", "kw")
        ):
            return False
        if toks[4][1].upper() in ("CREATE", "MERGE"):
            return True
        if toks[4][1].upper() != "MATCH":
            return False
        prev_text = ""
        for kind, text in ((tt[0], tt[1]) for tt in toks[5:]):
            if kind == "kw" and text == "RETURN":
                return False
            if (
                kind == "name"
                # not a property access (.create), alias (AS create),
                # or label/type (:Create) spelled like the verb
                and prev_text not in (".", "AS", ":")
                and text.upper()
                in ("CREATE", "MERGE", "SET", "DELETE", "DETACH")
            ):
                return True
            prev_text = text
        return False
    if first != "MATCH":
        return False
    prev_text = ""
    for kind, text in ((tt[0], tt[1]) for tt in toks):
        if (
            kind in ("name", "kw")
            and prev_text != "."
            and text.upper() in _WRITE_WORDS
        ):
            return True
        prev_text = text
    return False


class _WriteParser(_Parser):
    """Grammar::

        CREATE node_pattern ("," node_pattern)*
        CREATE node_pattern (rel_pattern node_pattern)+   (directed chain)
        MERGE  node_pattern [ON CREATE SET …] [ON MATCH SET …]
        MATCH pattern [WHERE expr] SET var.prop = expr ("," …)*
        MATCH pattern [WHERE expr] SET var += {map}
        MATCH pattern [WHERE expr] [DETACH] DELETE var
        MATCH pattern [WHERE expr] CREATE/MERGE (a)-[:T]->(b)

    Undirected/varlength CREATE relationships and multi-variable SET
    targets are rejected with explicit errors rather than silently
    mis-executed."""

    def parse_write(self) -> dict:
        t = self.peek()[1].upper()
        if t in ("CREATE", "MERGE"):
            self.next()
            pats = [self.node()]
            chain_rels: list[tuple[int, int, _RelPat]] = []
            # CREATE (a:X)-[:T]->(b:Y)-…[, (c:Z)-[:U]->(a)…] — literal
            # node-rel chains, comma-separable (r9: the UNWIND-batch
            # expansion joins one chain per batch row under a single
            # CREATE); a repeated variable in ANY group reuses the
            # first occurrence's node
            var_ix = {pats[0].var: 0}
            cur = 0
            while True:
                while t == "CREATE" and self.peek()[1] in ("-", "<-"):
                    r = self.rel()
                    n = self.node()
                    if r.is_varlength:
                        raise CypherUnsupported(
                            "variable-length CREATE relationship"
                        )
                    if len(r.rtypes) != 1:
                        raise CypherUnsupported(
                            "CREATE relationship needs exactly one type"
                        )
                    if r.direction == "-":
                        raise CypherUnsupported(
                            "CREATE relationship must be directed (-> or <-)"
                        )
                    if n.var in var_ix:
                        if n.labels or n.props:
                            raise CypherUnsupported(
                                f"repeated CREATE variable {n.var!r} cannot "
                                "redeclare labels/properties"
                            )
                        ti = var_ix[n.var]
                    else:
                        var_ix[n.var] = len(pats)
                        pats.append(n)
                        ti = var_ix[n.var]
                    si = cur
                    if r.direction == "<-":
                        si, ti = ti, si
                    chain_rels.append((si, ti, r))
                    cur = var_ix[n.var]
                if not self.accept(","):
                    break
                n = self.node()
                if n.var in var_ix:
                    if n.labels or n.props:
                        raise CypherUnsupported(
                            f"repeated CREATE variable {n.var!r} cannot "
                            "redeclare labels/properties"
                        )
                else:
                    var_ix[n.var] = len(pats)
                    pats.append(n)
                cur = var_ix[n.var]
            if t == "MERGE" and len(pats) != 1:
                raise CypherUnsupported("MERGE takes exactly one node pattern")
            on_create: list[tuple[str, str]] = []
            on_match: list[tuple[str, str]] = []
            while self.peek()[1].upper() == "ON":
                # ON CREATE SET / ON MATCH SET sub-clauses (MERGE only)
                if t != "MERGE":
                    raise CypherUnsupported("ON CREATE/ON MATCH is MERGE-only")
                self.next()
                kind2, which = self.next()
                which = which.upper()
                if which not in ("CREATE", "MATCH"):
                    raise CypherSyntaxError(
                        f"expected CREATE or MATCH after ON, got {which!r}"
                    )
                self.expect("SET")
                target = on_create if which == "CREATE" else on_match
                while True:
                    var = self.expect_name()
                    if var != pats[0].var:
                        raise CypherUnsupported(
                            f"ON {which} SET targets the merge variable "
                            f"{pats[0].var!r}, got {var!r}"
                        )
                    self.expect(".")
                    prop = self.expect_name(kw_ok=True)
                    self.expect("=")
                    # r9: full expressions (ON MATCH SET n.hits =
                    # coalesce(n.hits, 0) + 1 — the counter idiom);
                    # the executor strips the merge-var prefix so the
                    # expression evaluates over the node frame's own
                    # columns. ON CREATE self-references are rejected
                    # at execution (the node doesn't exist yet).
                    target.append((prop, self.value()))
                    if not self.accept(","):
                        break
            if self.peek()[0] != "eof":
                raise CypherSyntaxError(
                    f"unexpected trailing input: {self.peek()[1]!r}"
                )
            for p in pats:
                if not p.labels:
                    raise CypherUnsupported(
                        f"{t} node {p.var!r} needs at least one label"
                    )
            return {
                "op": t.lower(),
                "patterns": pats,
                "chain_rels": chain_rels,
                "on_create": on_create,
                "on_match": on_match,
            }

        self.expect("MATCH")
        chains = self.patterns()
        where = None
        # r9: consecutive MATCH clauses before the write verb compose
        # exactly like comma patterns (shared-variable joins /
        # cartesian products — the read transpiler's chain machinery);
        # a WHERE may trail any MATCH and the conjuncts AND together
        while True:
            if self.accept("WHERE"):
                self._bound = {
                    n.var for ch in chains for n in ch[0]
                }
                w = self.expr()
                where = f"({where}) AND ({w})" if where else w
            if self.peek()[1] != "MATCH":
                break
            self.next()
            chains += self.patterns()
        nodes, rels = _flatten_chains(chains)
        kind, tok = self.next()
        t = tok.upper() if kind == "name" else tok
        base = {"nodes": nodes, "rels": rels, "chains": chains, "where": where}
        if t == "REMOVE":
            # REMOVE n.prop [, n.prop2 …] — property removal is a SET
            # to NULL over the same matched-id machinery; REMOVE n:Label
            # strips labels from matched nodes
            var = self.expect_name()
            if self.peek()[1] == ":":
                labels = []
                while self.accept(":"):
                    labels.append(self.expect_name(kw_ok=True))
                if self.peek()[0] != "eof":
                    raise CypherSyntaxError(
                        f"unexpected trailing input: {self.peek()[1]!r}"
                    )
                if var not in {n.var for n in nodes}:
                    raise CypherSyntaxError(
                        f"REMOVE target {var!r} is not bound"
                    )
                return {**base, "op": "label", "add": False, "var": var,
                        "labels": labels}
            sets: list[tuple[str, str, str]] = []
            while True:
                self.expect(".")
                prop = self.expect_name(kw_ok=True)
                sets.append((var, prop, "NULL"))
                if not self.accept(","):
                    break
                var = self.expect_name()
            if self.peek()[0] != "eof":
                raise CypherSyntaxError(
                    f"unexpected trailing input: {self.peek()[1]!r}"
                )
            tvars = {v for v, _, _ in sets}
            if len(tvars) != 1:
                raise CypherUnsupported(
                    f"REMOVE targets one variable per statement "
                    f"(got {sorted(tvars)})"
                )
            tv = next(iter(tvars))
            if tv in {r.var for r in rels if r.var}:
                # r9: REMOVE r.prop — a rel-frame SET to NULL
                _check_rel_set_props(sets)
                return {**base, "op": "set_rel", "sets": sets}
            if tv not in {n.var for n in nodes}:
                raise CypherSyntaxError(f"REMOVE target {tvars} is not bound")
            return {**base, "op": "set", "sets": sets}
        if t in ("CREATE", "MERGE"):
            # MATCH … CREATE/MERGE (a)-[:TYPE {props}]->(b): create one
            # relationship per DISTINCT matched endpoint pair (MERGE
            # additionally skips pairs that already carry the type)
            bound = {n.var for n in nodes}
            self.expect("(")
            a = self.expect_name()
            self.expect(")")
            r = self.rel()
            self.expect("(")
            b = self.expect_name()
            self.expect(")")
            # r9: MERGE …-[r:T]->… ON CREATE SET r.p = v / ON MATCH
            # SET r.p = v — the rel twin of node-MERGE's sub-clauses
            r_on_create: list[tuple[str, str]] = []
            r_on_match: list[tuple[str, str]] = []
            while self.peek()[1].upper() == "ON":
                if t != "MERGE":
                    raise CypherUnsupported("ON CREATE/ON MATCH is MERGE-only")
                self.next()
                _k2, which = self.next()
                which = which.upper()
                if which not in ("CREATE", "MATCH"):
                    raise CypherSyntaxError(
                        f"expected CREATE or MATCH after ON, got {which!r}"
                    )
                self.expect("SET")
                tgt = r_on_create if which == "CREATE" else r_on_match
                if not r.var:
                    raise CypherUnsupported(
                        "name the merged relationship to use ON "
                        "CREATE/ON MATCH SET (MERGE (a)-[r:T]->(b) …)"
                    )
                while True:
                    var = self.expect_name()
                    if var != r.var:
                        raise CypherUnsupported(
                            f"ON {which} SET targets the merged "
                            f"relationship variable {r.var!r}, got {var!r}"
                        )
                    self.expect(".")
                    prop = self.expect_name(kw_ok=True)
                    self.expect("=")
                    tgt.append((prop, self.value()))
                    if not self.accept(","):
                        break
                _check_rel_set_props(
                    [(r.var, p, e) for p, e in r_on_create + r_on_match]
                )
            if self.peek()[0] != "eof":
                raise CypherSyntaxError(
                    f"unexpected trailing input: {self.peek()[1]!r}"
                )
            if a not in bound or b not in bound:
                raise CypherSyntaxError(
                    f"CREATE relationship endpoints {a!r}/{b!r} must be "
                    "bound by the MATCH"
                )
            if r.is_varlength:
                raise CypherUnsupported("variable-length CREATE relationship")
            if len(r.rtypes) != 1:
                raise CypherUnsupported(
                    "CREATE relationship needs exactly one type"
                )
            if r.direction == "-":
                raise CypherUnsupported(
                    "CREATE relationship must be directed (-> or <-)"
                )
            if r.direction == "<-":
                a, b = b, a
            return {
                **base,
                "op": "create_rel" if t == "CREATE" else "merge_rel",
                "a": a,
                "b": b,
                "rtype": r.rtypes[0],
                "rprops": r.props,
                "rvar": r.var,
                "on_create": r_on_create,
                "on_match": r_on_match,
            }
        if t == "FOREACH":
            # FOREACH (x IN <list> | SET target.prop = <expr>). Two
            # compiled shapes, both exact openCypher:
            #
            # 1. target is a MATCH-bound variable (the conditional-
            #    update idiom and per-element accumulation): the update
            #    applies once per list element IN ORDER. An RHS that
            #    never reads the property it sets is loop-invariant up
            #    to the element, so the final value is the LAST
            #    element's — spliced as element_at(list, size(list)).
            #    An RHS that DOES read its own target property is a
            #    sequential fold (openCypher applies SET per element:
            #    `SET n.total = n.total + x` over [1,2,3] adds 6, not
            #    3) — compiled to the aggregate() higher-order fold
            #    with the property as the init and the RHS as the
            #    merge lambda.
            # 2. target IS the iteration variable over a literal list
            #    of bound node variables (`FOREACH (x IN [p, q] | SET
            #    x.seen = true)`) — each listed node gets the update;
            #    compiled to the multi-target SET executor.
            self.expect("(")
            it = self.expect_name()
            self.expect("IN")
            self._bound = {n.var for n in nodes}

            def _parse_sets() -> list[tuple[str, str, str]]:
                self.expect("|")
                self.expect("SET")
                out: list[tuple[str, str, str]] = []
                while True:
                    var = self.expect_name()
                    self.expect(".")
                    prop = self.expect_name(kw_ok=True)
                    self.expect("=")
                    out.append((var, prop, self.value()))
                    if not self.accept(","):
                        break
                self.expect(")")
                if self.peek()[0] != "eof":
                    raise CypherSyntaxError(
                        f"unexpected trailing input: {self.peek()[1]!r}"
                    )
                return out

            bound_vars = {n.var for n in nodes}
            # literal list of bound node variables? ([p] / [p, q]) —
            # lookahead on raw tokens before generic value() parsing
            if self.peek()[1] == "[":
                save = self.pos
                names: list[str] = []
                self.next()
                while self.peek()[0] == "name":
                    names.append(self.next()[1])
                    if not self.accept(","):
                        break
                is_node_list = (
                    bool(names)
                    and self.peek()[1] == "]"
                    and all(n in bound_vars for n in names)
                )
                if is_node_list:
                    self.expect("]")
                    self.unwind_aliases.add(it)
                    fsets = _parse_sets()
                    tvars = {v for v, _, _ in fsets}
                    if tvars == {it}:
                        # shape 2: SET on the loop elements — expand to
                        # one set per listed node var, substituting the
                        # iterator (x / x.prop references read the
                        # element's pre-statement state, exactly
                        # openCypher within-statement visibility)
                        def _sub(expr: str, v: str) -> str:
                            parts = re.split(
                                r"('(?:[^'\\]|\\.)*')", expr
                            )
                            for i in range(0, len(parts), 2):
                                parts[i] = re.sub(
                                    rf"(?<![\w.]){re.escape(it)}\b",
                                    v,
                                    parts[i],
                                )
                            return "".join(parts)

                        msets = [
                            (v, p, _sub(e, v))
                            for v in names
                            for _, p, e in fsets
                        ]
                        return {**base, "op": "set_multi", "sets": msets}
                    # a literal node list but SET targets a bound var —
                    # fall through to shape 1 with the list re-parsed
                self.pos = save
            self.unwind_aliases.add(it)
            lst = self.value()
            fsets = _parse_sets()
            tvars = {v for v, _, _ in fsets}
            if len(tvars) != 1:
                raise CypherUnsupported(
                    "FOREACH … SET targets one variable per statement "
                    f"(got {sorted(tvars)})"
                )
            tvar = next(iter(tvars))
            if tvar == it:
                raise CypherUnsupported(
                    "FOREACH SET on the loop variable needs a literal "
                    "list of bound node variables (e.g. FOREACH (x IN "
                    "[p, q] | SET x.prop = …))"
                )
            if tvar not in bound_vars:
                raise CypherSyntaxError(
                    f"FOREACH SET target {tvars} is not bound"
                )
            last = f"element_at(({lst}), size(({lst})))"
            set_props = {(v, p) for v, p, _ in fsets}

            def _splice(expr: str, pat: str, repl: str) -> str:
                parts = re.split(r"('(?:[^'\\]|\\.)*')", expr)
                for i in range(0, len(parts), 2):
                    parts[i] = re.sub(pat, repl, parts[i])
                return "".join(parts)

            out_sets: list[tuple[str, str, str]] = []
            for v, p, e in fsets:
                selfref = re.search(
                    rf"(?<![\w.]){re.escape(v)}\.{re.escape(p)}\b", e
                )
                others = [
                    (ov, op)
                    for ov, op in set_props
                    if (ov, op) != (v, p)
                    and re.search(
                        rf"(?<![\w.]){re.escape(ov)}\.{re.escape(op)}\b", e
                    )
                ]
                if others:
                    raise CypherUnsupported(
                        f"FOREACH SET {v}.{p} reads another property "
                        f"set in the same FOREACH ({others}) — the "
                        "element-interleaved evaluation order is not "
                        "supported; split into separate statements"
                    )
                if selfref:
                    # sequential fold: init = current property value,
                    # merge = the RHS with self-references -> the
                    # accumulator and the iterator as the lambda param
                    body = _splice(
                        e,
                        rf"(?<![\w.]){re.escape(v)}\.{re.escape(p)}\b",
                        "_facc",
                    )
                    out_sets.append(
                        (v, p,
                         f"aggregate(({lst}), {v}.{p}, "
                         f"(_facc, {it}) -> ({body}))")
                    )
                else:
                    # loop-invariant up to the element: last element
                    out_sets.append(
                        (v, p,
                         _splice(e, rf"(?<![\w.]){re.escape(it)}\b", last))
                    )
            empty_guard = f"size(({lst})) > 0"
            fwhere = f"({where}) AND {empty_guard}" if where else empty_guard
            return {**base, "where": fwhere, "op": "set", "sets": out_sets}
        if t == "SET":
            var = self.expect_name()
            if self.peek()[1] == ":":
                # SET n:Label [:More] — label addition on matched nodes
                labels = []
                while self.accept(":"):
                    labels.append(self.expect_name(kw_ok=True))
                if self.peek()[0] != "eof":
                    raise CypherSyntaxError(
                        f"unexpected trailing input: {self.peek()[1]!r}"
                    )
                if var not in {n.var for n in nodes}:
                    raise CypherSyntaxError(f"SET target {var!r} is not bound")
                return {**base, "op": "label", "add": True, "var": var,
                        "labels": labels}
            if (
                self.peek()[1] == "="
                and self.toks[self.pos + 1][1] == "{"
            ):
                # r9: SET n = {map} — openCypher REPLACE semantics:
                # the listed keys set, every OTHER property of the
                # matched entity nulls out
                self.next()
                self.expect("{")
                sets = []
                while True:
                    prop = self.expect_name(kw_ok=True)
                    self.expect(":")
                    sets.append((var, prop, self.value()))
                    if not self.accept(","):
                        break
                self.expect("}")
                if self.peek()[0] != "eof":
                    raise CypherSyntaxError(
                        f"unexpected trailing input: {self.peek()[1]!r}"
                    )
                if var in {r.var for r in rels if r.var}:
                    _check_rel_set_props(sets)
                    return {
                        **base, "op": "set_rel", "sets": sets,
                        "replace": True,
                    }
                if var not in {n.var for n in nodes}:
                    raise CypherSyntaxError(
                        f"SET target {var!r} is not bound"
                    )
                return {**base, "op": "set", "sets": sets, "replace": True}
            if self.peek()[1] == "+":
                # SET n += {k: v, …} — openCypher map-merge: each key
                # updates/creates that property, keys absent from the
                # map keep their values. Exactly a multi-prop SET.
                self.next()
                self.expect("=")
                self.expect("{")
                sets = []
                while True:
                    prop = self.expect_name(kw_ok=True)
                    self.expect(":")
                    sets.append((var, prop, self.value()))
                    if not self.accept(","):
                        break
                self.expect("}")
                if self.peek()[0] != "eof":
                    raise CypherSyntaxError(
                        f"unexpected trailing input: {self.peek()[1]!r}"
                    )
                if var in {r.var for r in rels if r.var}:
                    # r9: SET r += {map} on a relationship variable
                    _check_rel_set_props(sets)
                    return {**base, "op": "set_rel", "sets": sets}
                if var not in {n.var for n in nodes}:
                    raise CypherSyntaxError(
                        f"SET target {var!r} is not bound"
                    )
                return {**base, "op": "set", "sets": sets}
            sets: list[tuple[str, str, str]] = []
            while True:
                self.expect(".")
                prop = self.expect_name(kw_ok=True)
                self.expect("=")
                sets.append((var, prop, self.value()))
                if not self.accept(","):
                    break
                var = self.expect_name()
            if self.peek()[0] != "eof":
                raise CypherSyntaxError(
                    f"unexpected trailing input: {self.peek()[1]!r}"
                )
            tvars = {v for v, _, _ in sets}
            rvset = {r.var for r in rels if r.var}
            nvset = {n.var for n in nodes}
            if len(tvars) != 1:
                # r11: multi-variable SET — node vars route through
                # the set_multi union machinery, a rel var through
                # set_rel, mixed applies both over the same MATCH
                for v, _, _ in sets:
                    if v not in rvset and v not in nvset:
                        raise CypherSyntaxError(
                            f"SET target {v!r} is not bound"
                        )
                rel_sets = [t for t in sets if t[0] in rvset]
                node_sets = [t for t in sets if t[0] not in rvset]
                if len({t[0] for t in rel_sets}) > 1:
                    raise CypherUnsupported(
                        "SET supports one RELATIONSHIP variable per "
                        "statement (v1)"
                    )
                if rel_sets:
                    _check_rel_set_props(rel_sets)
                    return {
                        **base,
                        "op": "set_mixed",
                        "sets": sets,
                        "node_sets": node_sets,
                        "rel_sets": rel_sets,
                    }
                return {**base, "op": "set_multi", "sets": sets}
            tv = next(iter(tvars))
            if tv in rvset:
                # r9: SET r.prop = … on a relationship variable —
                # routes to the rel-frame update (op set_rel)
                _check_rel_set_props(sets)
                return {**base, "op": "set_rel", "sets": sets}
            if tv not in nvset:
                raise CypherSyntaxError(f"SET target {tvars} is not bound")
            return {**base, "op": "set", "sets": sets}
        detach = False
        if t == "DETACH":
            detach = True
            kind, tok = self.next()
            t = tok.upper() if kind == "name" else tok
        if t == "DELETE":
            var = self.expect_name()
            if self.peek()[0] != "eof":
                raise CypherSyntaxError(
                    f"unexpected trailing input: {self.peek()[1]!r}"
                )
            if var in {r.var for r in rels if r.var}:
                # relationship delete: matched edges drop by their
                # (src, dst, type) triple — parallel edges sharing the
                # triple all go (the frame has no per-edge identity)
                if detach:
                    raise CypherUnsupported(
                        "DETACH applies to node deletes; relationships "
                        "delete directly"
                    )
                return {**base, "op": "delete_rel", "var": var}
            if var not in {n.var for n in nodes}:
                raise CypherSyntaxError(f"DELETE target {var!r} is not bound")
            return {**base, "op": "delete", "detach": detach, "var": var}
        raise CypherSyntaxError(f"expected SET or DELETE, got {tok!r}")


def _decimals_to_double(df: DataFrame) -> DataFrame:
    """Cypher's numeric literals are long/double — Spark parses `42.0`
    as DECIMAL, which the graph property model rejects. Normalize any
    decimal-typed update values before they become node columns."""
    from pyspark.sql import types as T

    casts = [
        F.col(f.name).cast("double").alias(f.name)
        if isinstance(f.dataType, T.DecimalType)
        else F.col(f.name)
        for f in df.schema.fields
    ]
    return df.select(*casts)


def _union_rels(rels: DataFrame, new: DataFrame) -> DataFrame:
    """Union created relationship rows into the graph's rel frame.
    When the frame carries the surrogate REL_ID column (catalog
    registration mints it), the ids are re-minted over the WHOLE union:
    the minting is content-deterministic (hash of columns + duplicate-
    group index), so minting new rows separately would collide with an
    existing identical edge — re-minting the union gives every
    duplicate-group member a distinct index. A plain union for
    schema-less (triple-identity) frames. allowMissingColumns: a
    schema-widening CREATE adds new rel property columns, pre-existing
    edges backfill NULL (note the re-mint then hashes the widened
    column set, so REL_IDs change — documented: identity is a content
    hash per registration, not stable across schema changes)."""
    if "REL_ID" not in rels.columns:
        return rels.unionByName(new, allowMissingColumns=True)
    from neo4j_arrow_spark.catalog import mint_rel_ids

    return mint_rel_ids(
        rels.drop("REL_ID", "REL_ID2").unionByName(
            new, allowMissingColumns=True
        )
    )


def _merge_probe_frame(rels: DataFrame, rtype: str, keys: list) -> DataFrame:
    """The merge_rel existence probe's right side: the rel frame
    TYPE-filtered before the key projection. Every candidate row
    carries the pattern's literal type, so the filter is free
    correctness-wise and pushes to the scan — the probe must not read
    the full frame (r9 verdict #6)."""
    return rels.filter(F.col(RelField.TYPE) == rtype).select(*keys)


def _props_cond(p) -> "F.Column":
    """The node pattern's property equalities as one boolean Column."""
    cond = F.lit(True)
    for k, v in p.props:
        cond = cond & F.expr(f"{k} = {v}")
    return cond


def _read_ast(nodes, rels, where, items, chains=None, rel_id=False) -> dict:
    """Synthesize a READ ast projecting ``items`` over the write's
    MATCH pattern — the whole matched-id computation rides the proven
    read transpiler. ``rel_id`` mirrors the graph frame's surrogate
    edge-id mode so within-clause uniqueness matches the read path."""
    return {
        "rel_id": rel_id,
        "shortest": False,
        "nodes": nodes,
        "rels": rels,
        "chains": chains,
        "optionals": [],
        "where": where,
        "unwinds": [],
        "withs": [],
        "post_match": None,
        "distinct": True,
        "items": items,
        "order": [],
        "skip": None,
        "limit": None,
        "dialect": "spark",
    }


def _literal_rows(
    spark: SparkSession, nodes: DataFrame, patterns
) -> DataFrame:
    """The created nodes as one literal row each (one inline table,
    :func:`_values_frame`), conformed to the node frame's schema
    (missing properties NULL, values cast to the column's type).
    Properties not yet in the schema WIDEN it (Neo4j is schema-free —
    ``CREATE (n {newprop: 1})`` is bread-and-butter Cypher): the
    created rows carry the new columns and the caller's
    ``unionByName(allowMissingColumns=True)`` backfills NULL onto
    every pre-existing node. Returns ``(rows_df, id_sqls)``: the
    per-pattern id expressions let a CREATE chain wire its
    relationship endpoints to the assigned node ids."""
    fields = {f.name: f.dataType.simpleString() for f in nodes.schema.fields}
    prop_cols = [
        f.name
        for f in nodes.schema.fields
        if f.name not in (NodeField.ID, NodeField.LABELS)
    ]
    new_props = sorted(
        {k for p in patterns for k in dict(p.props)} - set(fields)
    )
    needs_auto = [p for p in patterns if "ID" not in dict(p.props)]
    base_id = 0
    if needs_auto:
        # deterministic id assignment: above BOTH the graph's max(ID)
        # (a scalar aggregate) and any explicit ID in this statement
        base_id = nodes.agg(F.max(NodeField.ID)).collect()[0][0] or 0
        for p in patterns:
            lit = dict(p.props).get("ID")
            if lit is not None and lit.lstrip("-").isdigit():
                base_id = max(base_id, int(lit))
        base_id += 1
    rows = []
    id_sqls: list[str] = []
    for p in patterns:
        props = dict(p.props)
        if "ID" in props:
            id_sql = f"CAST({props['ID']} AS BIGINT)"
        else:
            id_sql = f"CAST({base_id} AS BIGINT)"
            base_id += 1
        labels_sql = "array(" + ", ".join(
            "'" + lb.replace("'", "''") + "'" for lb in p.labels
        ) + ")"
        rows.append(
            [id_sql, labels_sql]
            + [f"CAST({props.get(c, 'NULL')} AS {fields[c]})" for c in prop_cols]
            # untyped NULL for the patterns that don't set a new
            # property — the inline table's coercion resolves the
            # column type from the setting patterns' literals
            + [props.get(c, "NULL") for c in new_props]
        )
        id_sqls.append(id_sql)
    names = [NodeField.ID, NodeField.LABELS, *prop_cols, *new_props]
    return _decimals_to_double(_values_frame(spark, names, rows)), id_sqls


def parse_statement(stmt: WriteStatement) -> dict:
    """The general write form — every statement the batch and pipeline
    forms leave: CREATE / MERGE / MATCH…SET / REMOVE / [DETACH] DELETE,
    and ``UNWIND $batch AS row CREATE …``, expanded here to ONE
    multi-pattern CREATE (:func:`expand_unwind_batch`; an empty batch
    is a zero-counter no-op, spec ``query`` None). Parse-as-validation
    (CypherMessage.java:36-52 parity): syntax errors, aggregate-valued
    writes and op-incompatible trailing RETURNs all raise here, at
    submit (the RETURN's items still compile in the job through the
    read transpiler)."""
    query, ret, batch_var = stmt.head, stmt.ret, None
    expanded, batch_handled = expand_unwind_batch(query, stmt.params)
    if batch_handled:
        # the RETURN (if any) references the PRE-uniquify pattern
        # variable — capture it before the expansion renames
        m_bv = re.search(
            r"CREATE\s*\(\s*([A-Za-z_]\w*)\s*[:{]", query, re.IGNORECASE
        )
        batch_var = m_bv.group(1) if m_bv else None
        if ret is not None and batch_var is None:
            raise CypherUnsupported(
                "RETURN after a batch CREATE needs a named node variable"
            )
        if expanded is None:
            return {"query": None, "ret": ret, "var": batch_var}
    query = expanded
    if stmt.params:
        # write clauses bind $params by literal inlining (reads bind
        # through Spark's named-parameter channel, but the write path
        # builds frames, not one SQL statement); token-level so $n
        # never clobbers $name and string-literal '$…' text survives.
        # After a batch expansion the consumed $batch marker is gone,
        # so leftover params are harmless.
        query = render_write_params(query, stmt.params)
        if ret is not None:
            ret = render_write_params(ret, stmt.params)
    ast = _WriteParser(query).parse_write()
    _reject_aggregates_in_ast(ast)
    if ret is not None:
        validate_trailing_return(ast, batch_var=batch_var, return_text=ret)
    return {"query": query, "ret": ret, "var": batch_var, "views": stmt.views}


def execute_cypher_write(
    spark: SparkSession, nodes: DataFrame, rels: DataFrame | None, spec: dict
):
    """Apply one general write statement (:func:`parse_statement`).
    ``ret`` projects the trailing ``RETURN`` over the affected
    entities. Supported RETURN forms (r10 — every write op): after
    MATCH…SET / SET-label / REMOVE-label / SET on a rel variable
    (post-update values), after CREATE / MERGE of nodes — single
    pattern, or multi-pattern/chain referencing ONE created variable —
    after relationship CREATE / MERGE (the affected edges, named rel
    variable required), and after [DETACH] DELETE (pre-delete values).
    Items compile through the read transpiler, so aggregates /
    ORDER BY / LIMIT work everywhere."""
    query, ret_text = spec["query"], spec["ret"]
    if query is None:  # empty batch CREATE
        return nodes, rels, _summary(spark, "create"), _ids_return(spark, spec)
    nodes_view, rels_view = spec["views"]
    aff_out: dict = {}
    new_nodes, new_rels, summ = _execute_write(
        spark, nodes, rels, query, nodes_view, rels_view,
        aff_out=aff_out if ret_text is not None else None,
    )
    if ret_text is None:
        return new_nodes, new_rels, summ, None

    def ret(post_nodes, post_rels):
        return _trailing_return_result(
            spark, nodes, post_nodes, query, ret_text, nodes_view,
            rels_view, pre_rels=rels, post_rels=post_rels,
            affected_rels=aff_out.get("rels"), batch_var=spec["var"],
            var_ids=aff_out.get("create_var_ids"),
        )

    return new_nodes, new_rels, summ, ret


def _trailing_return_result(
    spark: SparkSession,
    pre_nodes: DataFrame,
    post_nodes: DataFrame,
    write_text: str,
    return_text: str,
    nodes_view: str,
    rels_view: str,
    pre_rels: DataFrame | None = None,
    post_rels: DataFrame | None = None,
    affected_rels: DataFrame | None = None,
    batch_var: str | None = None,
    var_ids: dict | None = None,
) -> DataFrame:
    """Evaluate the trailing RETURN against the POST-write node frame,
    restricted to the affected ids. Matched ids come from re-running
    the write's own MATCH on the PRE-write views (openCypher: the
    pattern matches the pre-SET snapshot); created ids are the
    post-minus-pre frame difference. The RETURN items compile through
    the read transpiler over a one-node pattern, so aggregates /
    ORDER BY / SKIP / LIMIT all work; referencing more than the single
    affected variable raises."""
    from neo4j_arrow_spark.cypher import cypher_to_sql

    parser = _WriteParser(write_text)
    ast = parser.parse_write()
    validate_trailing_return(
        ast, batch_var=batch_var, return_text=return_text
    )
    op = ast["op"]
    if op == "set":
        var = ast["sets"][0][0]
    elif op == "label":
        var = ast["var"]
    elif op in ("create", "merge"):
        pats = ast["patterns"]
        if batch_var is not None and op == "create":
            # batch-expanded CREATE: one pattern per batch element,
            # all uniquified from ONE source variable — the RETURN
            # projects that variable over every created node (one row
            # per batch element, openCypher parity)
            var = batch_var
        elif len(pats) == 1 and not ast.get("chain_rels"):
            var = pats[0].var
        else:
            # r10: multi-pattern / chain CREATE — project the single
            # referenced variable's created node by its assigned id
            var = _single_return_var(ast, return_text)
            assert var is not None  # validate_trailing_return gated
    elif op == "set_rel":
        # r9: RETURN after a relationship SET — the POST-write rel
        # frame restricted to the matched edge identities, projected
        # through the read transpiler over an anonymous-endpoint
        # pattern (so aggregates/ORDER BY/LIMIT all work)
        var = ast["sets"][0][0]
        has_eid = pre_rels is not None and "REL_ID" in pre_rels.columns
        keys = (
            ["REL_ID", "REL_ID2"]
            if has_eid
            else [RelField.START_ID, RelField.END_ID, RelField.TYPE]
        )
        kcols = [f"__k{i}" for i in range(len(keys))]
        items = [(f"{var}.{k}", kc, False) for k, kc in zip(keys, kcols)]
        sql = _plain_sql(
            _read_ast(
                ast["nodes"], ast["rels"], ast["where"], items,
                ast["chains"], rel_id=has_eid,
            ),
            nodes_view,
            rels_view,
        )
        spark.sql(sql).createOrReplaceTempView("__wret_rkeys")
        assert post_rels is not None
        post_rels.createOrReplaceTempView("__wret_rels")
        ret_sql = cypher_to_sql(
            f"MATCH (__wa)-[{var}]->(__wb) {return_text}",
            nodes_view,
            "__wret_rels",
            rel_id=has_eid,
        )
        anchor = f"JOIN __wret_rels AS {var} ON"
        if anchor not in ret_sql:
            raise CypherUnsupported(
                "trailing RETURN items after a relationship SET must "
                f"reference only the affected rel variable {var!r}"
            )
        on = " AND ".join(
            f"__x.{k} = __wret_rkeys.{kc}" for k, kc in zip(keys, kcols)
        )
        ret_sql = ret_sql.replace(
            anchor,
            f"JOIN (SELECT __x.* FROM __wret_rels __x JOIN __wret_rkeys "
            f"ON {on}) AS {var} ON",
        )
        return spark.sql(ret_sql)
    elif op in ("create_rel", "merge_rel", "delete_rel"):
        # r10 (r9 verdict #1): RETURN after a relationship CREATE /
        # MERGE / DELETE — the executor hands back the AFFECTED edge
        # rows (created rows post-ON-CREATE, matched rows
        # post-ON-MATCH, deleted rows PRE-delete per openCypher), so
        # the projection is the rel-SET shape with the affected frame
        # AS the rel view directly: the read transpiler over an
        # anonymous-endpoint pattern gives aggregates / ORDER BY /
        # LIMIT for free. One row per affected edge (created edges are
        # one per DISTINCT endpoint pair — the documented create_rel
        # multiplicity).
        rvar = ast.get("rvar") if op != "delete_rel" else ast["var"]
        if not rvar:
            raise CypherUnsupported(
                "RETURN after CREATE/MERGE relationship needs a named "
                "rel variable ((a)-[r:T]->(b) … RETURN r.prop)"
            )
        # property accesses on anything but the rel variable have no
        # binding in the affected-edge projection — refuse by name
        # instead of letting the analyzer fail on a synthesized alias
        prev = ("", "")
        for t in _tokenize(return_text):
            if (
                t[1] == "."
                and prev[0] in ("name", "kw")
                and prev[1] != rvar
            ):
                raise CypherUnsupported(
                    "trailing RETURN items after a relationship "
                    "CREATE/MERGE must reference only the affected "
                    f"rel variable {rvar!r} (got {prev[1]!r})"
                )
            prev = (t[0], t[1])
        assert affected_rels is not None
        affected_rels.createOrReplaceTempView("__wret_arels")
        ret_sql = cypher_to_sql(
            f"MATCH (__wa)-[{rvar}]->(__wb) {return_text}",
            nodes_view,
            "__wret_arels",
            rel_props=[
                c
                for c in affected_rels.columns
                if c not in RelField.RESERVED
                and c not in ("REL_ID", "REL_ID2")
            ],
        )
        anchor = f"JOIN __wret_arels AS {rvar} ON"
        if anchor not in ret_sql:
            raise CypherUnsupported(
                "trailing RETURN items after a relationship "
                "CREATE/MERGE must reference only the affected rel "
                f"variable {rvar!r}"
            )
        return spark.sql(ret_sql)
    elif op == "delete":
        # r9: RETURN after [DETACH] DELETE — openCypher evaluates the
        # items against the PRE-delete values of the deleted nodes
        var = ast["var"]
    else:
        raise CypherUnsupported(
            f"RETURN after a {op!r} write is not supported (v1)"
        )
    if op in ("set", "label"):
        items = [(f"{var}.ID", "__sid", False)]
        sql = _plain_sql(
            _read_ast(
                ast["nodes"], ast["rels"], ast["where"], items,
                ast["chains"],
            ),
            nodes_view,
            rels_view,
        )
        ids = spark.sql(sql).select(F.col("__sid").alias("__rid"))
    elif op == "merge":
        p = ast["patterns"][0]
        cond = F.lit(True)
        for lb in p.labels:
            cond = cond & F.array_contains(F.col(NodeField.LABELS), lb)
        match_df = pre_nodes.filter(cond & _props_cond(p))
        if match_df.limit(1).count() > 0:
            ids = match_df.select(
                F.col(NodeField.ID).alias("__rid")
            )
        else:  # created branch — same as CREATE
            ids = post_nodes.select(NodeField.ID).subtract(
                pre_nodes.select(NodeField.ID)
            ).select(F.col(NodeField.ID).alias("__rid"))
    elif op == "delete":
        ids = pre_nodes.select(NodeField.ID).subtract(
            post_nodes.select(NodeField.ID)
        ).select(F.col(NodeField.ID).alias("__rid"))
    else:  # create
        batch_inst_sqls: list[str] = []
        if batch_var is not None and var_ids:
            # batch-expanded CREATE: the expansion uniquified the
            # returned source variable per element (a → a_u0, a_u1 …).
            # Project ONLY those instances' ids — a multi-pattern
            # batch element also creates the OTHER variables' nodes,
            # which must not leak into RETURN a.* (r10 ADVICE, high).
            pat = re.compile(rf"^{re.escape(batch_var)}_u\d+$")
            batch_inst_sqls = [
                s for v, s in var_ids.items() if pat.match(v)
            ]
        if batch_inst_sqls:
            ids = _values_frame(
                spark,
                ["__rid"],
                [[f"CAST(({s}) AS BIGINT)"] for s in batch_inst_sqls],
            )
        elif (
            batch_var is None
            and (len(ast["patterns"]) > 1 or ast.get("chain_rels"))
            and var_ids
        ):
            # multi-pattern/chain: ONLY the referenced variable's node
            # (the assigned-id expression is a self-contained literal)
            ids = spark.sql(
                f"SELECT CAST(({var_ids[var]}) AS BIGINT) AS __rid"
            )
        else:
            ids = post_nodes.select(NodeField.ID).subtract(
                pre_nodes.select(NodeField.ID)
            ).select(F.col(NodeField.ID).alias("__rid"))
    # DELETE reads back the PRE-delete snapshot (the entities are gone
    # from the post frame); every other op reads the post-write values
    (pre_nodes if op == "delete" else post_nodes).createOrReplaceTempView(
        "__wret_nodes"
    )
    ids.createOrReplaceTempView("__wret_ids")
    ret_sql = cypher_to_sql(
        f"MATCH ({var}) {return_text}", "__wret_nodes", rels_view
    )
    anchor = f"__wret_nodes AS {var}"
    if anchor not in ret_sql:
        raise CypherUnsupported(
            "trailing RETURN items must reference only the affected "
            f"node variable {var!r}"
        )
    ret_sql = ret_sql.replace(
        anchor,
        f"__wret_nodes AS {var} JOIN __wret_ids "
        f"ON {var}.ID = __wret_ids.__rid",
        1,
    )
    return spark.sql(ret_sql)


def _execute_write(
    spark: SparkSession,
    nodes: DataFrame,
    rels: DataFrame | None,
    query: str,
    nodes_view: str,
    rels_view: str,
    aff_out: dict | None = None,
    ast_override: dict | None = None,
) -> tuple[DataFrame, DataFrame | None, DataFrame]:
    """``aff_out`` (when given) receives ``{"rels": frame}`` for
    relationship CREATE/MERGE — the affected edge rows (created rows
    post-ON-CREATE plus, for MERGE, matched rows post-ON-MATCH) that a
    trailing RETURN projects. Only computed on request so bare writes
    pay nothing."""
    if ast_override is not None:
        ast = ast_override
    else:
        parser = _WriteParser(query)
        ast = parser.parse_write()
        _reject_aggregates_in_ast(ast)
        if parser.params_used:
            raise CypherUnsupported(
                "parameters in write clauses are not supported (v1)"
            )
    _rid = rels is not None and "REL_ID" in rels.columns

    op = ast["op"]
    if op in ("create", "merge"):
        pats = ast["patterns"]
        if op == "merge":
            p = pats[0]
            cond = F.lit(True)
            for lb in p.labels:
                cond = cond & F.array_contains(F.col(NodeField.LABELS), lb)
            match_df = nodes.filter(cond)
            for k, v in p.props:
                match_df = match_df.filter(F.expr(f"{k} = {v}"))
            matched = match_df.limit(1).count() > 0  # scalar existence probe
            if matched:
                sets = ast.get("on_match") or []
                if not sets:
                    return nodes, rels, _summary(spark, "merge")
                # ON MATCH SET: conditional projection over the matched
                # predicate — same snapshot-update shape as MATCH…SET
                fields = {
                    f.name: f.dataType.simpleString()
                    for f in nodes.schema.fields
                }
                n_matched = match_df.count()
                # Materialize the match mask ONCE before any update: each
                # SET must see the pre-update snapshot, or a SET that
                # rewrites a merge-key property would make later SET items
                # in the same clause stop matching (Neo4j applies all).
                out = nodes.withColumn("__m", cond & _props_cond(p))
                for prop, lit in sets:
                    # expressions reference the merge var (n.hits):
                    # existing columns lose the prefix; a property the
                    # frame doesn't have yet reads NULL (openCypher —
                    # the coalesce(n.hits, 0) + 1 counter idiom).
                    # String literals in the value stay verbatim.
                    lit = _sub_outside_strings(
                        rf"(?<![\w.]){re.escape(p.var)}\.(\w+)",
                        lambda m: m.group(1)
                        if m.group(1) in fields
                        else "NULL",
                        lit,
                    )
                    if prop in fields:
                        val = F.expr(lit).cast(fields[prop])
                        out = out.withColumn(
                            prop,
                            F.when(F.col("__m"), val).otherwise(F.col(prop)),
                        )
                    else:
                        # schema-widening SET (Neo4j is schema-free):
                        # the new column takes the literal's type on
                        # matched rows and NULL everywhere else — the
                        # same rule as MATCH…SET on a new property
                        out = out.withColumn(
                            prop, F.when(F.col("__m"), F.expr(lit))
                        )
                return out.drop("__m"), rels, _summary(
                    spark, "merge", props_set=n_matched * len(sets)
                )
            if ast.get("on_create"):
                # fold ON CREATE SET values into the pattern's props
                # (pattern keys win — they define the merge identity);
                # a value referencing the node being created has
                # nothing to read from — reject
                for k, v in ast["on_create"]:
                    if _search_outside_strings(
                        rf"(?<![\w.]){re.escape(p.var)}\.", v
                    ):
                        raise CypherUnsupported(
                            f"ON CREATE SET {p.var}.{k}: the value "
                            "cannot reference the node being created"
                        )
                have = {k for k, _ in p.props}
                p.props = list(p.props) + [
                    (k, v) for k, v in ast["on_create"] if k not in have
                ]
        # Neo4j properties_set parity (r10 verdict #5): every non-NULL
        # property written by a pattern map counts, one per assignment
        # (a batch-expanded CREATE counts per element — each element
        # is its own pattern here). ID/LABELS are identity, not props;
        # a missing batch key renders as the literal NULL and is NOT
        # set, exactly like Cypher.
        def _map_props(prs) -> int:
            return sum(
                1
                for k, v in prs
                if k not in (NodeField.ID, NodeField.LABELS)
                and str(v).strip().upper() != "NULL"
            )

        n_map_props = sum(_map_props(p.props) for p in pats)
        rows, id_sqls = _literal_rows(spark, nodes, pats)
        if aff_out is not None:
            # per-variable assigned-id expressions (self-contained
            # literals) — a multi-pattern/chain CREATE's trailing
            # RETURN projects ONE variable's created node by its id
            aff_out["create_var_ids"] = {
                p.var: id_sqls[i] for i, p in enumerate(pats) if p.var
            }
        # id-collision check mirrors the K1 write contract
        # (operators/ingest.py): creating an existing id is an error
        clash = rows.join(
            nodes.select(NodeField.ID), NodeField.ID, "left_semi"
        ).limit(1).count()
        if clash:
            raise ValueError("CREATE: node id already exists in the graph")
        # allowMissingColumns: a schema-widening CREATE adds new
        # property columns — pre-existing nodes backfill NULL
        new_nodes = nodes.unionByName(rows, allowMissingColumns=True)
        chain = ast.get("chain_rels") or []
        if not chain:
            return new_nodes, rels, _summary(
                spark, op, nodes_created=len(pats), props_set=n_map_props
            )
        # CREATE chain: literal relationship rows between the ids just
        # assigned, conformed to the rel frame's schema
        if rels is None:
            raise ValueError("graph has no relationship frame to extend")
        rfields = {
            f.name: f.dataType.simpleString() for f in rels.schema.fields
        }
        rprop_cols = [
            f.name
            for f in rels.schema.fields
            if f.name not in RelField.RESERVED
        ]
        rnew_props = sorted(
            {k for _, _, r in chain for k in dict(r.props)} - set(rfields)
        )
        rrows = []
        for si, ti, r in chain:
            props = dict(r.props)
            ty = r.rtypes[0].replace("'", "''")
            rrows.append(
                [id_sqls[si], id_sqls[ti], f"'{ty}'"]
                + [
                    f"CAST({props.get(c, 'NULL')} AS {rfields[c]})"
                    for c in rprop_cols
                ]
                # schema-widening rel property — see _literal_rows
                + [props.get(c, "NULL") for c in rnew_props]
            )
        rnames = [RelField.START_ID, RelField.END_ID, RelField.TYPE]
        rrows = _decimals_to_double(
            _values_frame(spark, rnames + rprop_cols + rnew_props, rrows)
        )
        n_map_props += sum(_map_props(r.props) for _, _, r in chain)
        return (
            new_nodes,
            _union_rels(rels, rrows),
            _summary(
                spark,
                op,
                nodes_created=len(pats),
                props_set=n_map_props,
                rels_created=len(chain),
            ),
        )

    if op in ("create_rel", "merge_rel"):
        if rels is None:
            raise ValueError("graph has no relationship frame to extend")
        items = [
            (f"{ast['a']}.ID", "__src", False),
            (f"{ast['b']}.ID", "__dst", False),
        ]
        sql = _plain_sql(
            _read_ast(
                ast["nodes"], ast["rels"], ast["where"], items,
                ast["chains"], rel_id=_rid,
            ),
            nodes_view,
            rels_view,
        )
        pairs = spark.sql(sql)  # DISTINCT endpoint pairs (docstring above)
        rfields = {f.name: f.dataType.simpleString() for f in rels.schema.fields}
        props = dict(ast["rprops"])
        unknown = sorted(set(props) - set(rfields))
        cols = [
            F.col("__src").cast("long").alias(RelField.START_ID),
            F.col("__dst").cast("long").alias(RelField.END_ID),
            F.lit(ast["rtype"]).alias(RelField.TYPE),
        ]
        for c in rels.schema.fieldNames():
            if c in RelField.RESERVED:
                continue
            cols.append(F.expr(f"CAST({props.get(c, 'NULL')} AS {rfields[c]})").alias(c))
        for c in unknown:
            # schema-widening rel property — see _literal_rows
            cols.append(F.expr(props[c]).alias(c))
        new = _decimals_to_double(pairs.select(*cols))
        if op == "merge_rel":
            # MERGE identity is the full pattern: endpoints, type, AND the
            # pattern's relationship properties. An existing T edge with a
            # *different* w must not suppress MERGE ()-[:T {w: 5}]->() —
            # Cypher matches on the whole property map and creates a second
            # edge. Props absent from the pattern stay out of the key.
            keys = [RelField.START_ID, RelField.END_ID, RelField.TYPE] + sorted(
                props
            )
            allpairs = new
            if unknown:
                # a merge keyed on a property the schema doesn't have
                # yet can never match an existing edge (every edge
                # lacks it) — skip the anti-join, create all pairs
                pass
            else:
                new = new.join(
                    _merge_probe_frame(rels, ast["rtype"], keys),
                    keys,
                    "left_anti",
                )
        rvar = ast.get("rvar") or "r"
        rcols = set(rels.schema.fieldNames())

        def _self_stripped(ex: str) -> str:
            # r.prop → prop when the rel frame has it, NULL otherwise
            # (openCypher: a missing property reads NULL); string
            # literals in the value stay verbatim
            return _sub_outside_strings(
                rf"(?<![\w.]){re.escape(rvar)}\.(\w+)",
                lambda m: m.group(1) if m.group(1) in rcols else "NULL",
                ex,
            )

        n_props = 0
        matched_after = None  # MERGE-matched rows post-ON-MATCH (aff_out)
        for prop, ex in ast.get("on_create") or []:
            # r9: ON CREATE SET over the to-create rows — the value
            # may reference the merged rel's own (pattern) properties
            new = new.withColumn(prop, F.expr(_self_stripped(ex)))
        if op == "merge_rel" and (ast.get("on_match") or []) and not unknown:
            # r9: ON MATCH SET over the edges the merge key matched —
            # one conditional projection over the rel frame
            marker = (
                allpairs.select(*keys)
                .dropDuplicates()
                .withColumn("__m", F.lit(True))
            )
            rels2 = rels.join(marker, keys, "left")
            rfields2 = {
                f.name: f.dataType.simpleString()
                for f in rels.schema.fields
            }
            n_matched = rels.join(marker, keys, "left_semi").count()
            for prop, ex in ast["on_match"]:
                val = F.expr(_self_stripped(ex))
                if prop in rfields2:
                    val = val.cast(rfields2[prop])
                    rels2 = rels2.withColumn(
                        prop, F.when(F.col("__m"), val).otherwise(F.col(prop))
                    )
                else:
                    rels2 = rels2.withColumn(prop, F.when(F.col("__m"), val))
            # captured BEFORE the marker drops: an ON MATCH SET that
            # rewrites a merge-key property would make a post-update
            # key re-join miss these rows
            matched_after = rels2.filter(F.col("__m")).drop("__m")
            rels = rels2.drop("__m")
            n_props += n_matched * len(ast["on_match"])
        new = _decimals_to_double(new)
        new = new.localCheckpoint()  # consumed by count + union
        n_new = new.count()
        if aff_out is not None:
            aff = new
            if op == "merge_rel" and not unknown:
                if matched_after is None:
                    # no ON MATCH ran — matched edges are unchanged,
                    # re-derive them by the merge key
                    mk = allpairs.select(*keys).dropDuplicates()
                    matched_after = rels.join(mk, keys, "left_semi")
                aff = matched_after.unionByName(
                    new, allowMissingColumns=True
                )
            aff_out["rels"] = aff
        # Neo4j properties_set parity (r11): pattern-map props count
        # one per created edge (non-NULL values), like node CREATE maps
        n_pat_props = sum(
            1
            for _p, v in ast.get("rprops") or []
            if str(v).strip().upper() != "NULL"
        )
        return nodes, _union_rels(rels, new), _summary(
            spark,
            op,
            rels_created=n_new,
            props_set=n_props
            + n_new * (len(ast.get("on_create") or []) + n_pat_props),
        )

    if op == "label":
        # label add/remove over the matched ids: conditional projection
        # on LABELS — array_union keeps the set semantics, array_except
        # strips; sort keeps the labels() rendering stable
        var = ast["var"]
        items = [(f"{var}.ID", "__sid", False)]
        sql = _plain_sql(
            _read_ast(
                ast["nodes"], ast["rels"], ast["where"], items,
                ast["chains"], rel_id=_rid,
            ),
            nodes_view,
            rels_view,
        )
        ids = spark.sql(sql).localCheckpoint()  # count + join
        n_set = ids.count()
        lit = F.array(*[F.lit(lb) for lb in ast["labels"]])
        matched = F.col("__sid").isNotNull()
        fn = F.array_union if ast["add"] else F.array_except
        out = (
            nodes.join(ids, nodes[NodeField.ID] == ids["__sid"], "left")
            .withColumn(
                NodeField.LABELS,
                F.when(
                    matched, F.sort_array(fn(F.col(NodeField.LABELS), lit))
                ).otherwise(F.col(NodeField.LABELS)),
            )
            .drop("__sid")
        )
        return out, rels, _summary(
            spark, "label", props_set=n_set * len(ast["labels"])
        )

    if op == "delete_rel":
        if rels is None:
            raise ValueError("graph has no relationship frame")
        rv = ast["var"]
        items = [
            (f"{rv}.{RelField.START_ID}", "__ds", False),
            (f"{rv}.{RelField.END_ID}", "__dd", False),
            (f"{rv}.{RelField.TYPE}", "__dt", False),
        ]
        sql = _plain_sql(
            _read_ast(
                ast["nodes"], ast["rels"], ast["where"], items,
                ast["chains"], rel_id=_rid,
            ),
            nodes_view,
            rels_view,
        )
        triples = spark.sql(sql).localCheckpoint()  # count + anti-join
        if aff_out is not None:
            # r10: DELETE r RETURN … projects the PRE-delete edge rows
            aff_out["rels"] = rels.join(
                triples,
                (rels[RelField.START_ID] == triples["__ds"])
                & (rels[RelField.END_ID] == triples["__dd"])
                & (rels[RelField.TYPE] == triples["__dt"]),
                "left_semi",
            )
        kept = rels.join(
            triples,
            (rels[RelField.START_ID] == triples["__ds"])
            & (rels[RelField.END_ID] == triples["__dd"])
            & (rels[RelField.TYPE] == triples["__dt"]),
            "left_anti",
        )
        r_del = rels.count() - kept.count()
        return nodes, kept, _summary(spark, "delete", rels_deleted=r_del)

    if op == "set_rel":
        # r9: SET r.prop = … / SET r += {map} / REMOVE r.prop on a
        # relationship variable. The match projects the edge identity
        # plus the new values through the read transpiler; the update
        # is one left join + conditional projection over the rel
        # frame — the exact shape node SET uses. With the surrogate
        # (REL_ID, REL_ID2) identity each physical edge updates
        # individually; triple-identity frames key on
        # (START_ID, END_ID, TYPE), so exact-duplicate parallel edges
        # update together (the documented triple-mode conflation).
        if rels is None:
            raise ValueError("graph has no relationship frame")
        rv = ast["sets"][0][0]
        reserved = set(RelField.RESERVED) | {"REL_ID", "REL_ID2"}
        for _, prop, _rhs in ast["sets"]:
            if prop in reserved:
                raise CypherUnsupported(
                    f"SET {rv}.{prop}: relationship endpoint/type/"
                    "identity columns are immutable"
                )
        if "REL_ID" in rels.columns:
            keys = ["REL_ID", "REL_ID2"]
        else:
            keys = [RelField.START_ID, RelField.END_ID, RelField.TYPE]
        kcols = [f"__k{i}" for i in range(len(keys))]
        items = [
            (f"{rv}.{k}", kc, False) for k, kc in zip(keys, kcols)
        ] + [
            (rhs, f"__v{i}", False)
            for i, (_, _, rhs) in enumerate(ast["sets"])
        ]
        sql = _plain_sql(
            _read_ast(
                ast["nodes"], ast["rels"], ast["where"], items,
                ast["chains"], rel_id=_rid,
            ),
            nodes_view,
            rels_view,
        )
        upd = _decimals_to_double(spark.sql(sql)).localCheckpoint()
        if upd.groupBy(*kcols).count().filter("count > 1").limit(1).count():
            raise ValueError(
                "SET is ambiguous: a matched relationship receives more "
                "than one distinct value — make the pattern/expression "
                "functional per relationship"
            )
        n_set = upd.count()
        matched = F.col(kcols[0]).isNotNull()
        rfields = {
            f.name: f.dataType.simpleString() for f in rels.schema.fields
        }
        out = rels.join(
            upd,
            [rels[k] == upd[kc] for k, kc in zip(keys, kcols)],
            "left",
        )
        for i, (_, prop, _rhs) in enumerate(ast["sets"]):
            val = F.col(f"__v{i}")
            if prop in rfields:
                val = val.cast(rfields[prop])
                out = out.withColumn(
                    prop, F.when(matched, val).otherwise(F.col(prop))
                )
            else:
                # schema-widening rel property (NULL on unmatched edges)
                out = out.withColumn(prop, F.when(matched, val))
        if ast.get("replace"):
            # SET r = {map}: unlisted rel properties null on matched
            listed = {p for _, p, _ in ast["sets"]}
            for c in rels.columns:
                if c in reserved or c in listed:
                    continue
                out = out.withColumn(
                    c, F.when(matched, F.lit(None)).otherwise(F.col(c))
                )
        out = out.drop(
            *kcols, *[f"__v{i}" for i in range(len(ast["sets"]))]
        )
        return nodes, out, _summary(
            spark, "set", props_set=n_set * len(ast["sets"])
        )

    if op == "set_mixed":
        # r11: SET a.x = …, r.y = … — node and relationship targets in
        # ONE statement. Both halves evaluate against the PRE-statement
        # state (the _read_ast SQL reads the registered views, which
        # re-register only after the statement commits), matching
        # openCypher's all-items-see-the-match-state rule.
        n2, r2, s1 = _execute_write(
            spark, nodes, rels, query, nodes_view, rels_view,
            ast_override={**ast, "op": "set_multi",
                          "sets": ast["node_sets"]},
        )
        n3, r3, s2 = _execute_write(
            spark, n2, r2, query, nodes_view, rels_view,
            ast_override={**ast, "op": "set_rel",
                          "sets": ast["rel_sets"]},
        )
        p1 = s1.collect()[0].props_set
        p2 = s2.collect()[0].props_set
        return n3, r3, _summary(spark, "set", props_set=p1 + p2)

    if op == "set_multi":
        # FOREACH (x IN [p, q] | SET x.prop = …) — the parser expanded
        # the loop into one set per listed node variable; a node can be
        # listed through several variables, so updates resolve through
        # a unioned (id, value) pair frame per property (exact
        # duplicates collapse; conflicting values raise, same as the
        # single-target ambiguity check).
        vars_ = list(dict.fromkeys(v for v, _, _ in ast["sets"]))
        sid = {v: f"__sid{j}" for j, v in enumerate(vars_)}
        items = [(f"{v}.ID", sid[v], False) for v in vars_] + [
            (rhs, f"__v{i}", False)
            for i, (_, _, rhs) in enumerate(ast["sets"])
        ]
        sql = _plain_sql(
            _read_ast(
                ast["nodes"], ast["rels"], ast["where"], items,
                ast["chains"], rel_id=_rid,
            ),
            nodes_view,
            rels_view,
        )
        upd = _decimals_to_double(spark.sql(sql)).localCheckpoint()
        fields = {
            f.name: f.dataType.simpleString() for f in nodes.schema.fields
        }
        out = nodes
        n_props = 0
        for prop in dict.fromkeys(p for _, p, _ in ast["sets"]):
            pieces = [
                upd.select(
                    F.col(sid[v]).alias("__sid"),
                    F.col(f"__v{i}").alias("__val"),
                )
                for i, (v, p, _) in enumerate(ast["sets"])
                if p == prop
            ]
            pairs = pieces[0]
            for extra in pieces[1:]:
                pairs = pairs.unionByName(extra)
            pairs = pairs.dropDuplicates().localCheckpoint()
            if pairs.groupBy("__sid").count().filter("count > 1").limit(1).count():
                raise ValueError(
                    "FOREACH SET is ambiguous: a listed node receives "
                    "more than one distinct value for "
                    f"{prop!r} — make the expression functional per node"
                )
            n_props += pairs.count()
            matched = F.col("__sid").isNotNull()
            val = F.col("__val")
            joined = out.join(
                pairs, out[NodeField.ID] == pairs["__sid"], "left"
            )
            if prop in fields:
                val = val.cast(fields[prop])
                joined = joined.withColumn(
                    prop, F.when(matched, val).otherwise(F.col(prop))
                )
            else:
                joined = joined.withColumn(prop, F.when(matched, val))
            out = joined.drop("__sid", "__val")
        return out, rels, _summary(spark, "set", props_set=n_props)

    if op == "set":
        var = ast["sets"][0][0]
        items = [(f"{var}.ID", "__sid", False)] + [
            (rhs, f"__v{i}", False) for i, (_, _, rhs) in enumerate(ast["sets"])
        ]
        sql = _plain_sql(
            _read_ast(
                ast["nodes"], ast["rels"], ast["where"], items,
                ast["chains"], rel_id=_rid,
            ),
            nodes_view,
            rels_view,
        )
        upd = _decimals_to_double(spark.sql(sql)).localCheckpoint()  # consumed 3×: dup-check, count, join
        if upd.groupBy("__sid").count().filter("count > 1").limit(1).count():
            raise ValueError(
                "SET is ambiguous: a matched node receives more than one "
                "distinct value — make the pattern/expression functional "
                "per node"
            )
        n_set = upd.count()
        matched = F.col("__sid").isNotNull()
        fields = {f.name: f.dataType.simpleString() for f in nodes.schema.fields}
        out = nodes.join(upd, nodes[NodeField.ID] == upd["__sid"], "left")
        for i, (_, prop, _) in enumerate(ast["sets"]):
            val = F.col(f"__v{i}")
            if prop in fields:
                val = val.cast(fields[prop])
                out = out.withColumn(prop, F.when(matched, val).otherwise(F.col(prop)))
            else:
                out = out.withColumn(prop, F.when(matched, val))
        if ast.get("replace"):
            # SET n = {map}: every property NOT in the map nulls out
            # on the matched rows (openCypher replace semantics)
            listed = {p for _, p, _ in ast["sets"]}
            for c in nodes.columns:
                if c in (NodeField.ID, NodeField.LABELS) or c in listed:
                    continue
                out = out.withColumn(
                    c, F.when(matched, F.lit(None)).otherwise(F.col(c))
                )
        out = out.drop("__sid", *[f"__v{i}" for i in range(len(ast["sets"]))])
        return out, rels, _summary(
            spark, "set", props_set=n_set * len(ast["sets"])
        )

    # delete
    items = [(f"{ast['var']}.ID", "__sid", False)]
    sql = _plain_sql(
        _read_ast(
            ast["nodes"], ast["rels"], ast["where"], items,
            ast["chains"], rel_id=_rid,
        ),
        nodes_view,
        rels_view,
    )
    ids = spark.sql(sql).localCheckpoint()  # consumed by 2-3 joins + count
    n_del = ids.count()
    new_rels = rels
    r_del = 0
    if rels is not None:
        incident_src = rels.join(
            ids, rels[RelField.START_ID] == ids["__sid"], "left_semi"
        )
        incident_dst = rels.join(
            ids, rels[RelField.END_ID] == ids["__sid"], "left_semi"
        )
        if not ast["detach"]:
            if incident_src.limit(1).count() or incident_dst.limit(1).count():
                raise ValueError(
                    "DELETE: node still has relationships — use DETACH DELETE"
                )
        else:
            kept = rels.join(
                ids, rels[RelField.START_ID] == ids["__sid"], "left_anti"
            )
            kept = kept.join(
                ids, kept[RelField.END_ID] == ids["__sid"], "left_anti"
            )
            new_rels = kept
            r_del = rels.count() - kept.count()
    new_nodes = nodes.join(ids, nodes[NodeField.ID] == ids["__sid"], "left_anti")
    return new_nodes, new_rels, _summary(
        spark, "delete", nodes_deleted=n_del, rels_deleted=r_del
    )


#: The write forms in dispatch order. ``parse(stmt)`` returns a spec, or
#: None when the statement is not its shape, and raises at submit on a
#: malformed one; ``execute(spark, nodes, rels, spec)`` returns
#: ``(new_nodes, new_rels, summary, ret)``: the frames (the inputs
#: themselves when unchanged), the counters row, and None or
#: ``ret(nodes, rels)``, the trailing RETURN over the committed frames.
_FORMS = (
    # UNWIND $batch AS row MERGE … — the bulk UPSERT idiom (r10)
    (parse_unwind_merge, execute_unwind_merge),
    # UNWIND $batch AS row MATCH …, … CREATE/MERGE (a)-[:T]->(b) — the
    # bulk EDGE-load idiom (r10)
    (parse_unwind_rel, execute_unwind_rel),
    # UNWIND $batch AS row MATCH (n {k: row.k}) SET …/[DETACH] DELETE n
    (parse_unwind_node_write, execute_unwind_node_write),
    # MATCH … WITH <pipeline> SET/DELETE/CREATE (r11)
    (parse_pipeline_write, execute_pipeline_write),
    # everything else, UNWIND $batch AS row CREATE … included
    (parse_statement, execute_cypher_write),
)


def parse_write(
    query: str,
    params: dict | None,
    views: tuple[str, str],
    compile_read: Callable[[str], str],
):
    """Parse a write statement against a graph's views (parse errors
    raise here, at submit) and return its job body: ``form(spark,
    nodes, rels) -> (new_nodes, new_rels, summary, ret)`` (see
    ``_FORMS``). The trailing RETURN is split off first, so the batch
    forms never instantiate it per element."""
    head, ret = split_trailing_return(query)
    stmt = WriteStatement(head, ret, params, views, compile_read)
    for parse, execute in _FORMS:  # the last form takes every statement
        spec = parse(stmt)
        if spec is not None:
            return lambda spark, nodes, rels: execute(spark, nodes, rels, spec)
