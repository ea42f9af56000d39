"""Cypher-subset → ANSI SQL transpiler.

The reference's query language is Cypher, delegated to Neo4j's own
engine (it only *parses* for validation — ``common/.../CypherMessage.
java:36-52``, SURVEY §3.1). This engine's native language is Spark SQL,
but the pattern-matching shapes reference users actually stream through
neo4j-arrow translate mechanically onto the graph-table convention, so
``cypher()`` accepts them directly:

    MATCH (a:Label {prop: lit})-[r:TYPE]->(b)[-[r2:T2]->(c) ...]
    WHERE <comparisons on var.prop, AND/OR/NOT, IS [NOT] NULL, IN>
    RETURN [DISTINCT] items [AS alias] | count(*) | sum/avg/min/max/count(x.p)
    [ORDER BY item [ASC|DESC], ...] [SKIP n] [LIMIT n]

Implicit grouping follows Cypher: aggregate + non-aggregate return
items ⇒ GROUP BY the non-aggregates. ``RETURN a`` returns the node id
(``a.ID``) — the columnar engine has no "node object".

Also supported: undirected patterns (natural+reverse union view),
``OPTIONAL MATCH`` (left-join chains, with per-clause WHERE folded
into the join so it stays null-preserving — Cypher's semantics),
relationship-property maps ``-[r:T {key: lit}]->``, bounded variable-length
relationships ``-[:T*a..b]->`` (UNION ALL over fixed-length chains with
per-path relationship uniqueness enforced pairwise — r8; identity is the
physical row content, triple + all props, so only EXACT-duplicate twins
conflate within one path — see :func:`_path_edge_identity_conds`),
type alternation ``:A|B``, ``WITH`` pipeline chains (aggregate →
filter → re-project/re-aggregate, any depth; Cypher scope rules:
pattern variables die at the first WITH boundary), MATCH after
WITH anchored on a carried alias (re-join into the graph), arithmetic
expressions (``+ - * / %``, parentheses) in RETURN/WITH/WHERE, a
dialect-neutral scalar-function whitelist (upper, lower, length, abs,
round, coalesce, substring — identical semantics in Spark and DuckDB;
computed return items need an explicit ``AS``), ``collect([DISTINCT]
x)`` (emitted as a SORTED comma-joined string — documented divergence
from Cypher's encounter order, which no distributed engine reproduces
deterministically), ``UNWIND labels(n) AS x`` (LATERAL VIEW
explode / unnest per dialect), and ``MATCH p = shortestPath((a)-[:T*a..b]->(b))``
with ``length(p)`` (UNION-of-chains + MIN over the per-branch length;
one row per endpoint pair, Cypher's multiplicity), and
``[NOT] EXISTS((a)-[:T]->(b[:Label]))`` pattern predicates in WHERE
(ANSI EXISTS subqueries — semi/anti joins; target bound, labeled, or
fully existential; ``-`` checks both orientations), top-level
``UNION [ALL]`` combining complete single queries (arms must RETURN
the same column names, per Cypher; ``UNION`` dedups like SQL), and
plain fixed-length path bindings ``p = (a)-[..]->(b)`` with
``length(p)`` (the constant hop count) and ``nodes(p)`` (comma-joined
node-id string — the same string-not-list divergence as ``collect()``).
Out of scope (raise :class:`CypherUnsupported`): multiple comma
patterns, path variables on variable-length patterns outside
shortestPath, unbounded ``*``. Mutation clauses (CREATE/MERGE/SET/DELETE) live in
:mod:`neo4j_arrow_spark.cypher_write`. The generated SQL uses only
constructs DuckDB executes identically (``array_contains``, ANSI
joins), so transpiled queries plug into the oracle harness unchanged.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field


class CypherSyntaxError(ValueError):
    pass


class CypherUnsupported(ValueError):
    pass


_TOKEN_RE = re.compile(
    r"""
    (?P<ws>\s+)
  | (?P<kw>(?i:OPTIONAL|MATCH|WHERE|WITH|RETURN|DISTINCT|ORDER|BY|SKIP|LIMIT|ASC|DESC|AND|OR|NOT|IS|NULL|IN|AS|TRUE|FALSE|UNWIND|CASE|WHEN|THEN|ELSE|END)\b)
  | (?P<num>-?\d+(?:\.\d+)?)
  | (?P<str>'(?:[^'\\]|\\.)*')
  | (?P<param>\$[A-Za-z_][A-Za-z0-9_]*)
  | (?P<name>[A-Za-z_][A-Za-z0-9_]*)
  | (?P<arrow_r>->)
  | (?P<arrow_l><-)
  | (?P<cmp><=|>=|<>|!=|=~|=|<|>)
  | (?P<punct>[(){}\[\],.:*|+/%^-])
    """,
    re.VERBOSE,
)

#: openCypher temporal component accessors (``x.year``, ``x.dayOfWeek``)
#: → (spark, duckdb) emissions. Integer components are CAST to BIGINT on
#: both sides so the oracle's dtype-strict compare sees one type (Spark's
#: year() returns INT, DuckDB's BIGINT). dayOfWeek is ISO (Monday=1):
#: Spark's dayofweek() is Sunday=1, hence the modular shift; DuckDB has
#: isodow() natively. Case-sensitive names, per openCypher.
_TEMPORAL_ACCESSORS: dict[str, tuple[str, str]] = {
    "year": ("CAST(year({x}) AS BIGINT)", "CAST(year({x}) AS BIGINT)"),
    "month": ("CAST(month({x}) AS BIGINT)", "CAST(month({x}) AS BIGINT)"),
    "day": ("CAST(day({x}) AS BIGINT)", "CAST(day({x}) AS BIGINT)"),
    "hour": ("CAST(hour({x}) AS BIGINT)", "CAST(hour({x}) AS BIGINT)"),
    "minute": ("CAST(minute({x}) AS BIGINT)", "CAST(minute({x}) AS BIGINT)"),
    "second": ("CAST(second({x}) AS BIGINT)", "CAST(second({x}) AS BIGINT)"),
    "quarter": ("CAST(quarter({x}) AS BIGINT)", "CAST(quarter({x}) AS BIGINT)"),
    "week": (
        "CAST(weekofyear({x}) AS BIGINT)",
        "CAST(weekofyear({x}) AS BIGINT)",
    ),
    "dayOfWeek": (
        "CAST(((dayofweek({x}) + 5) % 7) + 1 AS BIGINT)",
        "CAST(isodow({x}) AS BIGINT)",
    ),
    "ordinalDay": (
        "CAST(dayofyear({x}) AS BIGINT)",
        "CAST(dayofyear({x}) AS BIGINT)",
    ),
    "epochSeconds": (
        "unix_seconds({x})",
        "CAST(epoch({x}) AS BIGINT)",
    ),
    "epochMillis": (
        "unix_millis({x})",
        "CAST(epoch_ms({x}) AS BIGINT)",
    ),
}

#: the tokenizer's keyword vocabulary — exactly the identifiers that can
#: only reach a name position via ``expect_name(kw_ok=True)`` and so are
#: the only ones ``_ident`` ever needs to quote in emitted SQL
_KW_NAMES = frozenset(
    "OPTIONAL MATCH WHERE WITH RETURN DISTINCT ORDER BY SKIP LIMIT ASC "
    "DESC AND OR NOT IS NULL IN AS TRUE FALSE UNWIND CASE WHEN THEN "
    "ELSE END".split()
)


_STR_ESCAPES = {"'": "'", '"': '"', "\\": "\\", "n": "\n", "t": "\t", "r": "\r"}


def _normalize_str_literal(tok: str) -> str:
    """Decode Cypher backslash escapes, then re-emit the string in the
    one form Spark and DuckDB read identically: single quotes doubled
    (``''``), no backslashes. Spark treats ``\\`` in literals as an
    escape while DuckDB reads it verbatim, so any decoded content that
    still needs a backslash (or control chars) cannot be represented
    dialect-neutrally — reject it rather than silently diverge from the
    oracle."""
    body = tok[1:-1]
    out: list[str] = []
    i = 0
    while i < len(body):
        c = body[i]
        if c == "\\":
            i += 1
            mapped = _STR_ESCAPES.get(body[i]) if i < len(body) else None
            if mapped is None:
                raise CypherSyntaxError(
                    f"unsupported escape in string literal: {tok!r}"
                )
            out.append(mapped)
        else:
            out.append(c)
        i += 1
    s = "".join(out)
    if any(ch in s for ch in "\\\n\t\r"):
        raise CypherUnsupported(
            "string literals containing backslashes or control characters "
            "have no dialect-neutral SQL form (Spark escapes \\, DuckDB "
            "does not)"
        )
    return "'" + s.replace("'", "''") + "'"


def _is_string_literal(expr: str) -> bool:
    return bool(re.fullmatch(r"'(?:[^'\\]|\\.)*'", expr))


def _tokenize(q: str) -> list[tuple[str, str]]:
    """Keyword tokens are 3-tuples ``("kw", UPPER, raw)`` — the raw
    spelling lets name positions (labels, rel types, property names)
    accept keyword-looking identifiers like ``:Order`` or ``.end``
    (openCypher reserves no words in those positions). All other
    tokens stay 2-tuples; ``peek``/``next`` slice to (kind, text)."""
    out, i = [], 0
    while i < len(q):
        m = _TOKEN_RE.match(q, i)
        if not m:
            raise CypherSyntaxError(f"cannot tokenize at: {q[i:i+20]!r}")
        i = m.end()
        kind = m.lastgroup
        if kind == "ws":
            continue
        text = m.group()
        if kind == "kw":
            out.append((kind, text.upper(), text))
        else:
            out.append((kind, text))
    out.append(("eof", ""))
    return out


@dataclass
class _NodePat:
    var: str
    labels: list[str] = field(default_factory=list)
    props: list[tuple[str, str]] = field(default_factory=list)  # (key, sql literal)


@dataclass
class _RelPat:
    var: str
    rtypes: list[str]  # empty = any type; >1 = alternation :A|B
    direction: str  # '->', '<-' or '-' (undirected)
    minlen: int = 1  # *a..b variable-length bounds; (1, 1) = fixed
    maxlen: int | None = 1  # None = unbounded (* / *a..)
    props: list[tuple[str, str]] = field(default_factory=list)
    #: property columns an undirected rel must carry through the
    #: natural+reverse union view (set per-emission by _plain_sql from
    #: the query's actual var.prop references — the view cannot select
    #: `*` because the swap renames the id columns)
    extra_props: list[str] = field(default_factory=list)

    @property
    def is_varlength(self) -> bool:
        return (self.minlen, self.maxlen) != (1, 1)

    @property
    def is_unbounded(self) -> bool:
        return self.maxlen is None


def _reverse_chain(
    nodes: list[_NodePat], rels: list[_RelPat]
) -> tuple[list[_NodePat], list[_RelPat]]:
    """Reverse a pattern chain in place: node order flips and every
    relationship's direction inverts — ``(a)-[:T]->(b)`` is the same
    pattern as ``(b)<-[:T]-(a)``. Used to re-anchor OPTIONAL MATCH
    when the bound variable sits at the chain's END."""
    flip = {"->": "<-", "<-": "->", "-": "-"}
    for r in rels:
        r.direction = flip[r.direction]
    return list(reversed(nodes)), list(reversed(rels))


class _Parser:
    def __init__(self, query: str, dialect: str = "spark"):
        if dialect not in ("spark", "duckdb"):
            raise ValueError(f"unknown dialect {dialect!r}")
        self.toks = _tokenize(query)
        self.pos = 0
        self.dialect = dialect
        self.unwind_aliases: set[str] = set()
        #: pattern variables by kind, filled as node()/rel() parse —
        #: lets the expression parser reject type() on a node variable
        #: (and id()/labels() on a rel) at parse time instead of
        #: surfacing an opaque AnalysisException later
        self.node_pat_vars: set[str] = set()
        self.rel_pat_vars: set[str] = set()
        #: rel variables bound to a VARLENGTH pattern — these are rel
        #: LISTS, so value-context uses (id(r), count(r)) must reject
        #: instead of resolving to the single-edge identity column
        self.vl_rel_vars: set[str] = set()
        #: rel variables on an UNDIRECTED slot (read the swapped-
        #: endpoint union view)
        self.und_rel_vars: set[str] = set()
        #: True while parsing final-RETURN items (not WITH): bare rel
        #: variables project as rel-object structs and computed items
        #: auto-alias by their expression text, both RETURN-only
        self._in_return: bool = False
        #: False for sub-parsers (CALL { } bodies): their RETURN feeds
        #: the outer scope like a WITH, so computed items still demand
        #: an explicit alias and bare rel vars stay identity-valued
        self._auto_alias_ok: bool = True
        #: $name query parameters referenced anywhere in the query —
        #: callers bind these at execution time
        self.params_used: set[str] = set()
        #: node property column names (everything except ID/LABELS),
        #: set by cypher_to_sql when the caller passes the graph
        #: schema — required only by keys()/properties()
        self.node_props: list[str] | None = None
        #: rel property column names (everything except the reserved
        #: START_ID/END_ID/TYPE/identity columns) — required only by
        #: bare-rel-variable RETURN projection
        self.rel_props: list[str] | None = None
        #: OPTIONAL column-name → Spark type simpleString map for the
        #: graph's property columns (node + rel merged; api.cypher
        #: passes it) — lets type-polymorphic emissions (isEmpty)
        #: dispatch on the REGISTERED type when the static analysis
        #: can't tell. None when the caller has no schema at hand.
        self.prop_types: dict[str, str] | None = None
        #: lambda/iteration variables statically known to hold STRING
        #: scalars (bound over an ``array<string>`` source) — lets the
        #: polymorphic size()/isEmpty() emissions pick length() inside
        #: reduce()/comprehension/predicate bodies (r11)
        self.string_vars: set[str] = set()
        #: rendered-name substitutions for iteration variables — the
        #: heterogeneous reduce() emission folds over an INDEX list and
        #: rebinds the element variable to an element_at() accessor
        self.var_subs: dict[str, str] = {}
        #: WITH aliases statically known to hold LISTS OF STRINGS
        #: (collect() over a string column, split(), string-literal
        #: lists) — iteration vars bound over them are string-typed
        self.string_list_aliases: set[str] = set()
        #: node variables carried BARE through WITH stages (`WITH p,
        #: count(m) AS n`): openCypher keeps them fully accessible, so
        #: later prop refs are allowed and the stage emission re-joins
        #: the node table on the carried id
        self.carried_nodes: set[str] = set()
        #: directed fixed-length rel var -> (start node var, end node
        #: var) of its pattern slot — startNode(r).prop resolves to the
        #: endpoint variable's column with ZERO extra joins (anonymous
        #: endpoints carry generated aliases, already in the FROM)
        self.rel_endpoints: dict[str, tuple[str, str]] = {}
        #: WITH aliases whose defining expression is a map literal
        #: (struct-typed column): dot access stays legal after WITH
        self.struct_aliases: set[str] = set()
        #: WITH aliases statically known to hold LISTS (collect(),
        #: list literals, slices …) — drives list-concatenating ``+``
        self.list_aliases: set[str] = set()

    @classmethod
    def _from_tokens(
        cls, toks: list, dialect: str, node_props: list[str] | None
    ) -> "_Parser":
        """A fresh parser over an already-tokenized slice (the body of
        a CALL { } subquery) — same state a text constructor builds."""
        sub = cls.__new__(cls)
        sub.toks = list(toks) + [("eof", "")]
        sub.pos = 0
        sub.dialect = dialect
        sub.unwind_aliases = set()
        sub.node_pat_vars = set()
        sub.rel_pat_vars = set()
        sub.vl_rel_vars = set()
        sub.und_rel_vars = set()
        sub._in_return = False
        sub._auto_alias_ok = False
        sub.params_used = set()
        sub.node_props = node_props
        sub.rel_props = None
        sub.prop_types = None
        sub.carried_nodes = set()
        sub.rel_endpoints = {}
        sub.struct_aliases = set()
        sub.list_aliases = set()
        sub.string_vars = set()
        sub.var_subs = {}
        sub.string_list_aliases = set()
        return sub

    # -- token helpers -----------------------------------------------------
    def peek(self) -> tuple[str, str]:
        t = self.toks[self.pos]
        return (t[0], t[1])

    def next(self) -> tuple[str, str]:
        t = self.toks[self.pos]
        self.pos += 1
        return (t[0], t[1])

    def accept(self, text: str) -> bool:
        if self.peek()[1] == text:
            self.pos += 1
            return True
        return False

    def expect(self, text: str) -> None:
        kind, tok = self.next()
        if tok != text:
            raise CypherSyntaxError(f"expected {text!r}, got {tok!r}")

    def expect_name(self, kw_ok: bool = False) -> str:
        t = self.toks[self.pos]
        self.pos += 1
        if t[0] == "name":
            return t[1]
        if kw_ok and t[0] == "kw":
            # a keyword in a name position (label / rel type / property
            # name / map key) — openCypher reserves nothing there, so
            # ``:Order`` or ``.end`` are legal; return the raw spelling
            return t[2]
        raise CypherSyntaxError(f"expected identifier, got {t[1]!r}")

    def _temporal_accessor(self, expr: str) -> str:
        """Consume a trailing ``.year`` / ``.dayOfWeek`` / … component
        accessor on a date/datetime-valued expression, if present
        (openCypher temporal instant access). Chained accessors are a
        loop so ``x.d.year`` works after a property access consumed the
        first dot. Names not in the table are left unconsumed — the
        caller's grammar decides what a plain trailing ``.`` means."""
        while self.peek()[1] == ".":
            nxt = self.toks[self.pos + 1]
            if nxt[0] != "name" or nxt[1] not in _TEMPORAL_ACCESSORS:
                break
            self.next()
            self.next()
            spark_t, duck_t = _TEMPORAL_ACCESSORS[nxt[1]]
            tpl = spark_t if self.dialect == "spark" else duck_t
            expr = tpl.format(x=expr)
        return expr

    def _missing_prop(self, var: str, prop: str) -> bool:
        """openCypher: accessing a property an entity doesn't have
        yields NULL — Neo4j never errors (the reference gets this free
        by delegating to the server, TransactionApiJob.java:41-220).
        True when the caller-supplied graph schema PROVES ``var.prop``
        cannot resolve: ``var`` is one of this statement's own pattern
        variables and ``prop`` (RAW unquoted spelling) is absent from
        the matching frame's property columns. Conservative by
        construction — unknown variables, sub-parser outer references,
        and schema-less invocations all return False and keep the
        plain column access (r11 verdict #1)."""
        if var in self.node_pat_vars:
            if self.node_props is None:
                return False
            return prop not in self.node_props and prop not in (
                "ID", "LABELS",
            )
        if var in self.rel_pat_vars and var not in self.vl_rel_vars:
            if self.rel_props is None:
                return False
            return prop not in self.rel_props and prop not in (
                "START_ID", "END_ID", "TYPE", "REL_ID",
            )
        return False

    def _null_access(self) -> str:
        """The rendering of a provably-missing property access: a bare
        NULL literal. Any chained temporal accessors (``n.nosuch.year``)
        are consumed so the caller's grammar continues cleanly — each
        wraps NULL and stays NULL."""
        return self._temporal_accessor("NULL")

    def _is_string_expr(self, v: str) -> bool:
        """True when the rendered value is STATICALLY a string: a
        string literal / string-function head, a ``var.prop`` access
        whose registered column type is string, or an iteration
        variable bound over an ``array<string>`` source. Drives the
        polymorphic size()/isEmpty() length() dispatch (Cypher's
        size(string) is its length; Spark's size() is array-only)."""
        v = v.strip()
        if self._is_list_expr(v):
            # concat( is ambiguous between string and LIST concat —
            # a recorded list emission is never a string
            return False
        if _is_string_literal(v) or v.lower().startswith(
            self._STRING_PREFIXES
        ):
            return True
        if re.fullmatch(r"[A-Za-z_]\w*", v) and v in self.string_vars:
            return True
        pm = re.fullmatch(r"[A-Za-z_]\w*\.([A-Za-z_]\w*)", v)
        if pm and self.prop_types:
            return self.prop_types.get(pm.group(1)) == "string"
        # element access over a known string array — a registered
        # array<string> column or a string-list WITH alias (the
        # heterogeneous-reduce index rebinding renders these)
        em = re.match(
            r"(?:try_)?(?:element_at|list_extract)\(\s*"
            r"([A-Za-z_]\w*(?:\.[A-Za-z_]\w*)?)\s*,",
            v,
        )
        if em:
            src = em.group(1)
            if "." in src:
                return bool(self.prop_types) and (
                    self.prop_types.get(src.split(".", 1)[1])
                    == "array<string>"
                )
            return src in self.string_list_aliases
        return False

    def _bind_string_iter(self, var: str, src: str) -> bool:
        """Register ``var`` as a string-typed iteration variable when
        ``src`` is provably an ``array<string>`` (a registered
        array<string> property column, or split()). Returns whether it
        was added (caller discards on scope exit)."""
        if var in self.string_vars:
            return False
        s = src.strip()
        is_str_arr = s.lower().startswith("split(")
        if not is_str_arr:
            pm = re.fullmatch(r"[A-Za-z_]\w*\.([A-Za-z_]\w*)", s)
            if pm and self.prop_types:
                is_str_arr = (
                    self.prop_types.get(pm.group(1)) == "array<string>"
                )
        if not is_str_arr and re.fullmatch(r"[A-Za-z_]\w*", s):
            is_str_arr = s in self.string_list_aliases
        if is_str_arr:
            self.string_vars.add(var)
            return True
        return False

    def _is_string_list_expr(self, e: str) -> bool:
        """Statically a LIST OF STRINGS: collect() over a string
        expression (either dialect's emission), split(), or a literal
        list of string literals — marks WITH aliases whose iteration
        variables are string-typed."""
        t = e.strip()
        if t.lower().startswith("split("):
            return True
        m = re.search(
            r"(?<!\w)(?:collect_list|collect_set|list)\(\s*"
            r"(?:DISTINCT\s+)?([A-Za-z_]\w*(?:\.[A-Za-z_]\w*)?)",
            t,
        )
        if m:
            return self._is_string_expr(m.group(1))
        if t.startswith("array('") or t.startswith("['"):
            return True
        return False

    def _ident(self, name: str) -> str:
        """Quote a property/column identifier when its upper-case form
        collides with a SQL keyword (it can only have arrived through
        ``expect_name(kw_ok=True)``): Spark backticks, DuckDB double
        quotes. Plain identifiers pass through untouched."""
        if name.upper() in _KW_NAMES:
            return f"`{name}`" if self.dialect == "spark" else f'"{name}"'
        return name

    def expect_count(self, what: str) -> str:
        """SKIP/LIMIT operand: a bare non-negative integer only — never
        interpolate an arbitrary token into the generated SQL."""
        kind, tok = self.next()
        if kind != "num" or not tok.isdigit():
            raise CypherSyntaxError(
                f"{what} expects a non-negative integer literal, got {tok!r}"
            )
        return tok

    # -- literals ----------------------------------------------------------
    def literal(self) -> str:
        kind, tok = self.next()
        if kind == "num":
            return tok
        if kind == "str":
            return _normalize_str_literal(tok)
        if kind == "param":
            return self._param_marker(tok)
        if tok in ("TRUE", "FALSE"):
            return tok
        if tok == "NULL":
            return "NULL"
        raise CypherSyntaxError(f"expected literal, got {tok!r}")

    def _param_marker(self, tok: str) -> str:
        """Cypher ``$name`` → the dialect's named-parameter marker
        (client parity: neo4j_arrow.py:161-180 ships params beside the
        query; CypherMessage.java:54-112 carries them to the server).
        Values are BOUND at execution, never interpolated into the SQL
        text — Spark reuses one parsed plan across bindings."""
        name = tok[1:]
        self.params_used.add(name)
        return f":{name}" if self.dialect == "spark" else f"${name}"

    # -- pattern -----------------------------------------------------------
    def node(self, anon_ok: bool = False) -> _NodePat:
        self.expect("(")
        kind, tok = self.peek()
        if kind != "name":
            if not anon_ok or tok not in (")", ":", "{"):
                raise CypherUnsupported(
                    "anonymous nodes are not supported; name every node"
                )
            # existential position (pattern predicate / COUNT {}):
            # a fresh never-referenced variable
            self._anon_n = getattr(self, "_anon_n", 0) + 1
            var = f"_an{self._anon_n}"
        else:
            var = self.expect_name()
            self.node_pat_vars.add(var)
        n = _NodePat(var)
        while self.accept(":"):
            # one colon group; `:A|B` label alternation (openCypher 5)
            # folds into a single "A|B" entry that _label_cond renders
            # as an OR of membership tests — groups themselves AND
            lbl = self.expect_name(kw_ok=True)
            while self.accept("|"):
                lbl += "|" + self.expect_name(kw_ok=True)
            n.labels.append(lbl)
        if self.accept("{"):
            while True:
                raw = self.expect_name(kw_ok=True)
                key = self._ident(raw)
                self.expect(":")
                kind, _tok = self.peek()
                if kind == "name":
                    # expression value — `{name: nation}` re-anchoring
                    # on a carried alias, or `{k: other.prop}` pattern
                    # equality; the engine's analyzer rejects refs that
                    # don't resolve
                    val = self.value()
                else:
                    val = self.literal()
                if (
                    self.node_props is not None
                    and raw not in self.node_props
                    and raw not in ("ID", "LABELS")
                ):
                    # openCypher: an inline map keyed on a property no
                    # node has matches NOTHING ({nosuch: 1} compares
                    # null = 1 → null). Render as a never-true
                    # condition on a column every node frame carries —
                    # the value expression was still parsed above so
                    # its $params register (r11 verdict #1).
                    n.props.append(("ID", "NULL"))
                else:
                    n.props.append((key, val))
                if not self.accept(","):
                    break
            self.expect("}")
        self.expect(")")
        return n

    def rel(self) -> _RelPat:
        # '-' already consumed or '<-' start
        if self.accept("<-"):
            direction = "<-"
        else:
            self.expect("-")
            direction = "?"
        var, rtypes = "", []
        minlen = maxlen = 1
        if self.accept("["):
            kind, tok = self.peek()
            if kind == "name":
                var = self.expect_name()
                self.rel_pat_vars.add(var)
            if self.accept(":"):
                # type alternation: :A|B|C
                rtypes.append(self.expect_name(kw_ok=True))
                while self.accept("|"):
                    rtypes.append(self.expect_name(kw_ok=True))
            if self.accept("*"):
                minlen, maxlen = self._varlength_bounds()
                if var:
                    self.vl_rel_vars.add(var)
            props: list[tuple[str, str]] = []
            if self.peek()[1] == "{":
                self.next()
                while True:
                    raw = self.expect_name(kw_ok=True)
                    key = self._ident(raw)
                    self.expect(":")
                    val = self.literal()
                    if (
                        self.rel_props is not None
                        and raw not in self.rel_props
                        and raw
                        not in ("START_ID", "END_ID", "TYPE", "REL_ID")
                    ):
                        # openCypher never-match on an unknown rel
                        # property key (see node() above): TYPE = NULL
                        # is valid on every rel view and never true
                        props.append(("TYPE", "NULL"))
                    else:
                        props.append((key, val))
                    if not self.accept(","):
                        break
                self.expect("}")
            # properties on a variable-length relationship apply to
            # EVERY traversed edge (openCypher: each relationship in
            # the path matches the map) — the bounded expansion carries
            # them into each hop's join condition and the recursive
            # emission filters the anchor and step edge scans
            self.expect("]")
        else:
            props = []
        if direction == "<-":
            self.expect("-")
            return _RelPat(var, rtypes, "<-", minlen, maxlen, props)
        if self.accept("->"):
            return _RelPat(var, rtypes, "->", minlen, maxlen, props)
        if self.accept("-"):
            if var:
                # undirected slots read the natural+reverse union view
                # (swapped endpoints) — bare-rel projection must use
                # the physical _OS/_OE originals
                self.und_rel_vars.add(var)
            return _RelPat(var, rtypes, "-", minlen, maxlen, props)
        raise CypherSyntaxError("malformed relationship pattern")

    _VARLENGTH_CAP = 4

    def _varlength_bounds(self) -> tuple[int, int | None]:
        """``*`` | ``*n`` | ``*a..b`` | ``*a..`` | ``*..b`` after the
        ``*`` token. Bounded forms expand to join chains (finite,
        capped); the unbounded forms (bare ``*``, open ``*a..``) return
        ``maxlen None`` and compile to a recursive-CTE frontier
        expansion with a configurable max-hop guard
        (``UNBOUNDED_HOP_GUARD``). The open-LOWER form ``*..b`` takes
        openCypher's default minimum of 1 (r11: judge-probed gap —
        ``-[:KNOWS*..2]->`` previously failed to tokenize)."""
        kind, tok = self.peek()
        if kind != "num":
            if tok == ".":
                # `*..b`: openCypher default minimum 1
                self.expect(".")
                self.expect(".")
                kind, tok = self.peek()
                if kind != "num":
                    raise CypherSyntaxError(
                        "variable-length `*..` needs an upper bound "
                        "(got no integer after '..')"
                    )
                hi = int(self.next()[1])
                if hi < 1:
                    raise CypherSyntaxError(
                        f"bad variable-length bounds *1..{hi}"
                    )
                return 1, hi
            return 1, None  # bare `*`: any length >= 1
        lo = int(self.next()[1])
        hi: int | None = lo
        if self.peek()[1] == ".":
            self.expect(".")
            self.expect(".")
            kind, tok = self.peek()
            hi = int(self.next()[1]) if kind == "num" else None  # `*a..`
        if not (1 <= lo <= (hi if hi is not None else lo)):
            raise CypherSyntaxError(f"bad variable-length bounds *{lo}..{hi}")
        # upper bounds past _VARLENGTH_CAP are legal (r7): the main
        # pattern routes them through the recursive-CTE expansion with
        # `_hops <= maxlen` instead of emitting a maxlen-way join
        # chain; stage/OPTIONAL contexts stay join-chain-expanded and
        # keep their branch-count caps
        return lo, hi

    def _pattern_chain(self) -> tuple[list[_NodePat], list[_RelPat]]:
        # anonymous nodes get fresh never-referenced variables (r6):
        # `(a)-[:T]->()` is an unconstrained endpoint, plain Cypher
        nodes = [self.node(anon_ok=True)]
        rels: list[_RelPat] = []
        while self.peek()[1] in ("-", "<-"):
            r = self.rel()
            rels.append(r)
            nodes.append(self.node(anon_ok=True))
            if r.var and not r.is_varlength and r.direction in ("->", "<-"):
                a, b = nodes[-2].var, nodes[-1].var
                if r.direction == "<-":
                    a, b = b, a
                self.rel_endpoints[r.var] = (a, b)
        return nodes, rels

    def pattern(self) -> tuple[list[_NodePat], list[_RelPat]]:
        nodes, rels = self._pattern_chain()
        if self.peek()[1] == ",":
            raise CypherUnsupported(
                "comma-separated patterns are supported only in the main "
                "MATCH clause"
            )
        return nodes, rels

    def patterns(self) -> list[tuple[list[_NodePat], list[_RelPat]]]:
        """Main-MATCH pattern list: ``pat ("," pat)*``. Chains sharing a
        node variable join on it; a chain sharing nothing is Cypher's
        cartesian product (CROSS JOIN downstream)."""
        chains = [self._pattern_chain()]
        while self.accept(","):
            chains.append(self._pattern_chain())
        return chains

    # -- expressions (WHERE) -----------------------------------------------
    def expr(self) -> str:
        return self.or_expr()

    def or_expr(self) -> str:
        left = self.xor_expr()
        while self.accept("OR"):
            left = f"({left} OR {self.xor_expr()})"
        return left

    def xor_expr(self) -> str:
        # Cypher XOR binds between OR and AND; boolean `<>` has the
        # identical truth table incl. ternary NULL in both engines
        left = self.and_expr()
        while self.peek()[0] == "name" and self.peek()[1].upper() == "XOR":
            self.next()
            left = f"({left} <> {self.and_expr()})"
        return left

    def and_expr(self) -> str:
        left = self.not_expr()
        while self.accept("AND"):
            left = f"({left} AND {self.not_expr()})"
        return left

    def not_expr(self) -> str:
        if self.accept("NOT"):
            return f"(NOT {self.not_expr()})"
        return self.comparison()

    #: when not None, we are past a WITH: only these aliases are in
    #: scope and bare names refer to them (not to node ids)
    aliases: set[str] | None = None
    #: node/rel variables of a MATCH that follows WITH — full
    #: ``var.prop`` access again, alongside the aliases
    post_vars: frozenset[str] = frozenset()
    #: relationship identity mode: True when the rels view carries the
    #: stored REL_ID column (every catalog graph's does) — then
    #: within-clause uniqueness compares REL_ID (true openCypher:
    #: exact-duplicate parallel edges are distinct relationships);
    #: False = schema-less triple mode ((START_ID, END_ID, TYPE)
    #: identity, the r6-documented divergence)
    rel_id: bool = False

    #: scalar functions with identical name/arity/semantics in Spark
    #: and DuckDB (all 1-based string indexing) — the dialect-neutral
    #: whitelist; anything else raises CypherUnsupported
    _FNS = (
        "UPPER", "LOWER", "LENGTH", "ABS", "ROUND", "COALESCE",
        "SUBSTRING", "TRIM", "REPLACE", "LTRIM", "RTRIM", "REVERSE",
        "FLOOR", "CEIL", "SQRT", "SIGN",
        # r6 widening — verified identical name/arity/semantics in
        # Spark 4.1 and DuckDB 1.0
        "CONCAT", "LEFT", "RIGHT", "REPEAT", "LPAD", "RPAD",
        "GREATEST", "LEAST", "EXP", "LN", "LOG10", "LOG2",
        "SIN", "COS", "TAN", "ASIN", "ACOS", "ATAN", "ATAN2",
        "DEGREES", "RADIANS", "PI", "CBRT", "NULLIF", "ISNAN",
    )

    #: emission prefixes that statically mark a LIST-typed expression
    #: (per dialect) — drives Cypher's list-concatenating ``+``
    _LIST_PREFIXES = {
        "spark": (
            "array(", "slice(", "split(", "sequence(", "sort_array(",
            "filter(", "transform(", "flatten(", "array_distinct(",
        ),
        "duckdb": (
            "[", "list_value(", "list_slice(", "string_split(",
            "list_sort(", "list_filter(", "list_transform(", "range(",
            "generate_series(", "list_concat(", "list_append(",
            "list_prepend(", "flatten(",
        ),
    }

    #: emission prefixes that statically mark a STRING-typed expression
    #: (shared across dialects — the scalar whitelist emits identical
    #: text). concat( is ambiguous with Spark's list concatenation, but
    #: list emissions are recorded in ``_list_emissions`` and checked
    #: FIRST by every caller, so a remaining concat( is string concat.
    _STRING_PREFIXES = (
        "upper(", "lower(", "trim(", "ltrim(", "rtrim(", "replace(",
        "substring(", "left(", "right(", "repeat(", "lpad(", "rpad(",
        "concat(", "array_join(", "array_to_string(",
    )

    def _is_list_expr(self, expr: str) -> bool:
        """Statically list-typed: a list-producing emission prefix, a
        WITH alias that was bound to one (``self.list_aliases``), or a
        recorded list-``+`` emission (Spark's list concat emits plain
        ``concat(`` — ambiguous with string concat, so value() records
        the exact emitted string instead of the prefix)."""
        if expr.startswith(self._LIST_PREFIXES[self.dialect]):
            return True
        if expr in getattr(self, "_list_emissions", ()):
            return True
        return expr in getattr(self, "list_aliases", ())

    def value(self) -> str:
        """Arithmetic expression: term (('+'|'-') term)*. Cypher's
        ``+`` also CONCATENATES strings and lists; SQL's does not —
        when either side is a string literal or a statically-knowable
        LIST expression the emission switches to concat()/list_concat()
        (scalar sides wrap/append per dialect). A string-typed property
        + property stays arithmetic ``+`` (type unknown at parse time;
        use concat() explicitly there)."""
        left = self.term()
        left_list = self._is_list_expr(left)
        while True:
            kind, tok = self.peek()
            if tok in ("+", "-"):
                self.next()
                right = self.term()
                right_list = self._is_list_expr(right)
                if tok == "+" and (left_list or right_list):
                    # Cypher list concatenation / element append-prepend
                    if self.dialect == "spark":
                        l = left if left_list else f"array({left})"
                        r = right if right_list else f"array({right})"
                        left = f"concat({l}, {r})"
                        if not hasattr(self, "_list_emissions"):
                            self._list_emissions = set()
                        self._list_emissions.add(left)
                    elif left_list and right_list:
                        left = f"list_concat({left}, {right})"
                    elif left_list:
                        left = f"list_append({left}, {right})"
                    else:
                        left = f"list_prepend({left}, {right})"
                    left_list = True
                    continue
                left_list = False
                if tok == "+" and (
                    # statically string-typed operands concat (r11:
                    # _is_string_expr folds in literals, string-function
                    # heads, REGISTERED string property columns, and
                    # string iteration/accumulator variables — so
                    # n.name + '_x' and reduce string folds both work)
                    self._is_string_expr(left)
                    or self._is_string_expr(right)
                ):
                    left = f"concat({left}, {right})"
                else:
                    left = f"({left} {tok} {right})"
            elif kind == "num" and tok.startswith("-"):
                # '2-1' tokenizes the minus into the number; re-split
                self.next()
                left = f"({left} - {tok[1:]})"
                left_list = False
            else:
                return left

    def term(self) -> str:
        left = self._postfix_index(self._pow_factor())
        while self.peek()[1] in ("*", "/", "%"):
            op = self.next()[1]
            left = f"({left} {op} {self._pow_factor()})"
        return left

    def _postfix_index(self, left: str) -> str:
        # postfix element access with a literal integer index:
        # Cypher is 0-based (negative = from the end); both engines'
        # accessors are 1-based with negative-from-end, and both
        # return NULL out of range (try_element_at / list_extract)
        while self.peek()[1] == "[":
            save = self.pos
            self.next()
            kind, tok = self.peek()
            if kind == "num" and "." not in tok and self.toks[self.pos + 1][1] == "]":
                idx = int(self.next()[1])
                self.next()  # ']'
                pos = idx + 1 if idx >= 0 else idx
                fn = (
                    "try_element_at"
                    if self.dialect == "spark"
                    else "list_extract"
                )
                left = f"{fn}({left}, {pos})"
                continue
            # literal list slice xs[a..b] / xs[..b] / xs[a..] —
            # Cypher: 0-based, end-EXCLUSIVE; Spark slice() is
            # (1-based start, length), DuckDB list_slice() is 1-based
            # INCLUSIVE-end. Non-negative literal bounds only.
            lo: int | None = None
            if (
                kind == "num"
                and "." not in tok
                and int(tok) >= 0
                and self.toks[self.pos + 1][1] == "."
                and self.toks[self.pos + 2][1] == "."
            ):
                lo = int(self.next()[1])
                self.next()
                self.next()
            elif tok == "." and self.toks[self.pos + 1][1] == ".":
                lo = 0
                self.next()
                self.next()
            if lo is not None:
                hi: int | None = None
                hk, ht = self.peek()
                if hk == "num" and "." not in ht and int(ht) >= 0:
                    hi = int(self.next()[1])
                self.expect("]")
                if self.dialect == "spark":
                    if hi is not None:
                        left = f"slice({left}, {lo + 1}, {max(hi - lo, 0)})"
                    else:
                        left = (
                            f"slice({left}, {lo + 1}, "
                            f"greatest(size({left}) - {lo}, 0))"
                        )
                else:
                    end = str(hi) if hi is not None else f"len({left})"
                    left = f"list_slice({left}, {lo + 1}, {end})"
                continue
            # dynamic index expression: xs[i] / xs[i + 1] — Cypher is
            # 0-based with negative-from-end; both engines' accessors
            # are 1-based with negative-from-end, so shift only the
            # non-negative side at runtime
            try:
                e = self.value()
                self.expect("]")
            except CypherSyntaxError:
                self.pos = save
                break
            fn = (
                "try_element_at"
                if self.dialect == "spark"
                else "list_extract"
            )
            shift = f"CASE WHEN ({e}) >= 0 THEN ({e}) + 1 ELSE ({e}) END"
            left = f"{fn}({left}, {shift})"
        return left

    def _pow_factor(self) -> str:
        """``^`` binds tighter than ``* / %`` and associates right
        (Cypher exponentiation) — power(): shared name and float
        contract in Spark and DuckDB."""
        base = self.factor()
        if self.peek()[1] == "^":
            self.next()
            return f"power({base}, {self._pow_factor()})"
        return base

    #: set by factor() when an aggregate call occurs anywhere in the
    #: expression being parsed; return_item() reads+resets it
    _saw_agg: bool = False

    def factor(self) -> str:
        kind, tok = self.peek()
        if tok == "-":
            # unary minus over an expression (negative LITERALS are
            # already folded into the num token by the tokenizer)
            self.next()
            return f"(- {self.factor()})"
        if tok == "CASE":
            # searched (CASE WHEN cond THEN val ...) and simple
            # (CASE expr WHEN val THEN res ...) forms — identical
            # syntax/semantics in Spark SQL and DuckDB, dialect-neutral
            self.next()
            base = "" if self.peek()[1] == "WHEN" else f" {self.value()}"
            arms = []
            while self.accept("WHEN"):
                cond = self.expr() if not base else self.value()
                self.expect("THEN")
                arms.append(f"WHEN {cond} THEN {self.value()}")
            if not arms:
                raise CypherSyntaxError("CASE requires at least one WHEN arm")
            els = f" ELSE {self.value()}" if self.accept("ELSE") else ""
            self.expect("END")
            return f"(CASE{base} " + " ".join(arms) + els + " END)"
        if tok == "(":
            self.next()
            inner = self.value()
            self.expect(")")
            return f"({inner})"
        if (
            tok == "["
            and self.toks[self.pos + 1][0] == "name"
            and self.toks[self.pos + 2][1].upper() == "IN"
        ):
            return self._list_comprehension()
        if tok == "[" and self._at_pattern_comprehension():
            self.next()
            return self._pattern_comprehension()
        if tok == "[":
            # plain list literal [a, b, …] in expression position
            self.next()
            if self.peek()[1] == "]":
                # empty list: element type coerces from context (both
                # engines unify CASE/array-function branches) — enables
                # the FOREACH conditional idiom `CASE WHEN c THEN [1]
                # ELSE [] END`
                self.next()
                return "array()" if self.dialect == "spark" else "[]"
            elems = [self.value()]
            while self.accept(","):
                elems.append(self.value())
            self.expect("]")
            body = ", ".join(elems)
            return f"array({body})" if self.dialect == "spark" else f"[{body}]"
        if tok == "{":
            # map literal {k: v, ...} — a struct per dialect (same
            # emission split as map projections)
            self.next()
            pairs: list[tuple[str, str]] = []
            while True:
                k = self.expect_name(kw_ok=True)
                self.expect(":")
                pairs.append((k, self.value()))
                if not self.accept(","):
                    break
            self.expect("}")
            if self.dialect == "spark":
                inner = ", ".join(f"'{k}', {v}" for k, v in pairs)
                return f"named_struct({inner})"
            inner = ", ".join(
                f"{self._ident(k)} := {v}" for k, v in pairs
            )
            return f"struct_pack({inner})"
        if (
            kind == "name"
            and tok.upper() == "COUNT"
            and self.toks[self.pos + 1][1] == "{"
        ):
            # COUNT { MATCH? (a)-[:T]->(b) } subquery: a correlated
            # scalar count — degree-style expressions without a join
            self.next()
            self.expect("{")
            self.accept("MATCH")
            out = self._exists_pattern(mode="count")
            self.expect("}")
            return out
        if (
            kind == "name"
            and tok.upper() == "DURATION"
            and self.toks[self.pos + 1][1] == "."
        ):
            # duration.inDays(a, b).days / duration.between(a, b)
            # followed by a .days / .months / .years component — the
            # calendar-exact readouts a date pair defines. days: plain
            # date difference. months (r9): Neo4j's whole-month count
            # under clamped month addition (Jan 31 + 1M = Feb 29) —
            # candidate = 12·Δyear + Δmonth, minus one when stepping
            # a by that many months overshoots b (symmetric for
            # negative ranges, truncation toward zero like Neo4j).
            # years = months div 12 (exact double division + cast —
            # CAST truncates toward zero in both engines, unlike //).
            self.next()
            self.expect(".")
            sub = self.expect_name()
            if sub.lower() not in ("indays", "between", "inmonths"):
                raise CypherUnsupported(
                    f"duration.{sub} is not supported — use "
                    "duration.inDays(a, b).days or "
                    "duration.between(a, b).days/.months/.years"
                )
            self.expect("(")
            a = self.value()
            self.expect(",")
            b = self.value()
            self.expect(")")
            if self.peek()[1] != ".":
                # a bare duration OBJECT has no columnar rendering —
                # name the component wanted (targeted, not a parse
                # error at the next clause keyword)
                raise CypherUnsupported(
                    f"duration.{sub}(a, b) as a bare value is not "
                    "supported — read a component: "
                    f"duration.{sub}(a, b).days/.months/.years"
                )
            self.expect(".")
            comp = self.expect_name()
            # inDays normalizes everything to days (its months
            # component is 0 in Neo4j) and inMonths to months — reject
            # the mismatched readouts instead of silently returning 0
            if sub.lower() == "indays" and comp != "days":
                raise CypherUnsupported(
                    f"duration.inDays(...).{comp}: inDays normalizes "
                    "to days — use duration.between(a, b)"
                    f".{comp} for the calendar component"
                )
            if sub.lower() == "inmonths" and comp == "days":
                raise CypherUnsupported(
                    "duration.inMonths(...).days: inMonths normalizes "
                    "to months — use duration.inDays(a, b).days"
                )
            if comp == "days":
                if self.dialect == "spark":
                    return f"CAST(datediff({b}, {a}) AS BIGINT)"
                return f"CAST(date_diff('day', {a}, {b}) AS BIGINT)"
            if comp in ("months", "years"):
                m0 = (
                    f"((year({b}) - year({a})) * 12 + "
                    f"(month({b}) - month({a})))"
                )
                if self.dialect == "spark":
                    stepped = f"add_months({a}, {m0})"
                else:
                    stepped = f"({a} + to_months(CAST({m0} AS INTEGER)))"
                months = (
                    f"CAST(CASE WHEN {b} >= {a} THEN {m0} - "
                    f"(CASE WHEN {stepped} > {b} THEN 1 ELSE 0 END) "
                    f"ELSE {m0} + "
                    f"(CASE WHEN {stepped} < {b} THEN 1 ELSE 0 END) "
                    f"END AS BIGINT)"
                )
                if comp == "months":
                    return months
                # trunc-toward-zero months/12: Spark's double→BIGINT
                # CAST truncates, DuckDB's ROUNDS — trunc() first there
                if self.dialect == "spark":
                    return f"CAST(CAST({months} AS DOUBLE) / 12 AS BIGINT)"
                return (
                    f"CAST(trunc(CAST({months} AS DOUBLE) / 12) AS BIGINT)"
                )
            raise CypherUnsupported(
                f"duration component .{comp} is not supported "
                "(.days/.months/.years — exact for date pairs)"
            )
        if (
            kind == "name"
            and tok.upper() in ("DATE", "DATETIME", "LOCALDATETIME")
            and self.toks[self.pos + 1][1] == "."
        ):
            # date.truncate('month', x) / datetime.truncate('day', x)
            # — openCypher temporal truncation; both engines share
            # date_trunc(unit, x) (Spark returns TIMESTAMP, so the
            # date form re-CASTs; DuckDB's returns the input family).
            # The result takes the usual component postfix
            # (date.truncate('month', d).month).
            ttype = "DATE" if tok.upper() == "DATE" else "TIMESTAMP"
            self.next()
            self.expect(".")
            sub = self.expect_name()
            if sub != "truncate":
                raise CypherUnsupported(
                    f"{tok}.{sub} is not supported (only .truncate)"
                )
            self.expect("(")
            if self.peek()[0] != "str":
                raise CypherUnsupported(
                    f"{tok}.truncate needs a literal unit string"
                )
            unit = _normalize_str_literal(self.next()[1])[1:-1].lower()
            if unit not in (
                "year", "quarter", "month", "week", "day", "hour",
                "minute", "second",
            ):
                raise CypherUnsupported(
                    f"{tok}.truncate unit {unit!r} is not supported"
                )
            if ttype == "DATE" and unit in (
                "hour", "minute", "second",
            ):
                raise CypherUnsupported(
                    f"date.truncate({unit!r}): sub-day units need "
                    "datetime.truncate"
                )
            self.expect(",")
            inner = self.value()
            self.expect(")")
            out = f"CAST(date_trunc('{unit}', {inner}) AS {ttype})"
            return self._temporal_accessor(out)
        if kind == "name" and self.toks[self.pos + 1][1] == "(":
            fn = tok.upper()
            if fn in ("ALL", "ANY", "NONE", "SINGLE"):
                # list predicates ``ALL(x IN list WHERE pred)`` →
                # higher-order array functions: Spark forall/exists/
                # filter, DuckDB list_filter + len — same lambda syntax
                self.next()
                self.expect("(")
                var = self.expect_name()
                _, t = self.next()
                if t.upper() != "IN":
                    raise CypherSyntaxError(
                        f"expected IN in {fn}(...), got {t!r}"
                    )
                src = self.value()
                self.expect("WHERE")
                shadowed = var in self.unwind_aliases
                self.unwind_aliases.add(var)
                sbound = self._bind_string_iter(var, src)
                try:
                    pred = self.expr()
                finally:
                    if not shadowed:
                        self.unwind_aliases.discard(var)
                    if sbound:
                        self.string_vars.discard(var)
                self.expect(")")
                # openCypher ternary logic: ALL is FALSE on any false,
                # NULL on any null-with-no-false; ANY is TRUE on any
                # true, NULL on any null-with-no-true; SINGLE is FALSE
                # past one true, NULL if a null could still change the
                # count. Spark's forall/exists already implement the
                # ALL/ANY/NONE tables; DuckDB's list_filter silently
                # DROPS null-predicate elements (the r6 dialect fuzz
                # caught `NOT ALL(x IN [null, 5] …)` diverging), so the
                # DuckDB side counts false/null/true hits explicitly.
                if self.dialect == "spark":
                    if fn == "SINGLE":
                        hits = f"size(filter({src}, {var} -> {pred}))"
                        nulls = f"exists({src}, {var} -> ({pred}) IS NULL)"
                        return (
                            f"(CASE WHEN {hits} > 1 THEN FALSE "
                            f"WHEN {nulls} THEN CAST(NULL AS BOOLEAN) "
                            f"ELSE {hits} = 1 END)"
                        )
                    return {
                        "ALL": f"forall({src}, {var} -> {pred})",
                        "ANY": f"exists({src}, {var} -> {pred})",
                        "NONE": f"(NOT exists({src}, {var} -> {pred}))",
                    }[fn]
                hits = f"len(list_filter({src}, {var} -> {pred}))"
                falses = f"len(list_filter({src}, {var} -> NOT ({pred})))"
                nulls = f"len(list_filter({src}, {var} -> ({pred}) IS NULL))"
                return {
                    "ALL": (
                        f"(CASE WHEN {falses} > 0 THEN FALSE "
                        f"WHEN {nulls} > 0 THEN NULL ELSE TRUE END)"
                    ),
                    "ANY": (
                        f"(CASE WHEN {hits} > 0 THEN TRUE "
                        f"WHEN {nulls} > 0 THEN NULL ELSE FALSE END)"
                    ),
                    "NONE": (
                        f"(CASE WHEN {hits} > 0 THEN FALSE "
                        f"WHEN {nulls} > 0 THEN NULL ELSE TRUE END)"
                    ),
                    "SINGLE": (
                        f"(CASE WHEN {hits} > 1 THEN FALSE "
                        f"WHEN {nulls} > 0 THEN NULL ELSE {hits} = 1 END)"
                    ),
                }[fn]
            if fn == "REDUCE":
                # ``reduce(acc = init, x IN list | body)`` → Spark
                # aggregate(list, init, (acc, x) -> body); DuckDB 1.0's
                # list_reduce has no init slot, so the init rides as a
                # prepended element (left-fold equivalence)
                self.next()
                self.expect("(")
                acc = self.expect_name()
                _, t = self.next()
                if t != "=":
                    raise CypherSyntaxError(
                        f"reduce expects 'acc = init', got {t!r}"
                    )
                init = self.value()
                self.expect(",")
                var = self.expect_name()
                _, t = self.next()
                if t.upper() != "IN":
                    raise CypherSyntaxError(
                        f"expected IN in reduce(...), got {t!r}"
                    )
                prev_ca = getattr(self, "_collect_array", False)
                self._collect_array = True  # collect() src stays ARRAY
                try:
                    src = self.value()
                finally:
                    self._collect_array = prev_ca
                self.expect("|")
                shadow = {
                    v for v in (acc, var) if v in self.unwind_aliases
                }
                self.unwind_aliases.update((acc, var))
                sbound = self._bind_string_iter(var, src)
                abound = False
                if self._is_string_expr(init) and acc not in self.string_vars:
                    # a string-initialized accumulator is string-typed
                    # throughout the fold (openCypher: + concatenates)
                    self.string_vars.add(acc)
                    abound = True
                # heterogeneous fold (r11): STRING elements with a
                # non-string accumulator (reduce(acc = 0, t IN n.tags |
                # acc + size(t))) — the init-prepend trick below would
                # cast the init into the element type (Spark) or refuse
                # the concat (DuckDB). Fold over an INDEX list instead,
                # rebinding the element variable to element_at(src, i).
                hetero = sbound and not self._is_string_expr(init)
                if hetero:
                    self.var_subs[var] = (
                        f"element_at({src}, CAST({var} AS INT))"
                        if self.dialect == "spark"
                        else f"list_extract({src}, {var})"
                    )
                try:
                    body = self.value()
                finally:
                    self.unwind_aliases.difference_update(
                        {acc, var} - shadow
                    )
                    if sbound:
                        self.string_vars.discard(var)
                    if abound:
                        self.string_vars.discard(acc)
                    self.var_subs.pop(var, None)
                self.expect(")")
                if hetero:
                    if self.dialect == "spark":
                        # slice(sequence(0, n), 2, n) = [1..n] — and []
                        # for n = 0 (sequence(1, 0) would DESCEND)
                        idx = (
                            f"slice(sequence(0, size({src})), 2, "
                            f"size({src}))"
                        )
                        s2 = f"concat(array({init}), {idx})"
                        return (
                            f"aggregate(slice({s2}, 2, size({s2}) - 1), "
                            f"element_at({s2}, 1), "
                            f"({acc}, {var}) -> {body})"
                        )
                    return (
                        f"list_reduce(list_prepend({init}, "
                        f"range(1, len({src}) + 1)), "
                        f"({acc}, {var}) -> {body})"
                    )
                if self.dialect == "spark":
                    # aggregate() requires the lambda's result type to
                    # EQUAL the init type; a bare `0` init vs BIGINT
                    # elements fails analysis. Prepending the init to
                    # the array coerces it to the element type first
                    # (mirrors the DuckDB list_prepend emission).
                    s2 = f"concat(array({init}), {src})"
                    return (
                        f"aggregate(slice({s2}, 2, size({s2}) - 1), "
                        f"element_at({s2}, 1), ({acc}, {var}) -> {body})"
                    )
                return (
                    f"list_reduce(list_prepend({init}, {src}), "
                    f"({acc}, {var}) -> {body})"
                )
            if fn in (
                "TOINTEGER", "TOFLOAT", "TOSTRING", "TOBOOLEAN",
                "TOINTEGERORNULL", "TOFLOATORNULL", "TOSTRINGORNULL",
                "TOBOOLEANORNULL",
            ):
                # Cypher cast functions; toString's target type name is
                # the one dialect split (STRING vs VARCHAR). TRY_CAST on
                # both sides: openCypher returns NULL for unconvertible
                # input (toInteger('abc')) — the *OrNull spellings are
                # then the same functions (Neo4j 5 aliases).
                self.next()
                self.expect("(")
                inner = self.value()
                self.expect(")")
                fn = fn.removesuffix("ORNULL")
                if fn == "TOINTEGER" and self.dialect != "spark":
                    # Cypher toInteger TRUNCATES toward zero (Spark's
                    # CAST does); DuckDB's float->int CAST ROUNDS
                    # half-away (12.9 -> 13) — via DOUBLE + trunc()
                    # (TRY_CAST keeps the NULL-for-garbage contract)
                    return (
                        f"TRY_CAST(trunc(TRY_CAST({inner} AS DOUBLE)) "
                        f"AS BIGINT)"
                    )
                ty = {
                    "TOINTEGER": "BIGINT",
                    "TOFLOAT": "DOUBLE",
                    "TOSTRING": "STRING" if self.dialect == "spark" else "VARCHAR",
                    "TOBOOLEAN": "BOOLEAN",
                }[fn]
                return f"TRY_CAST({inner} AS {ty})"
            if fn == "RANGE":
                self.next()
                return self._range_call()
            if fn == "RAND":
                # NONDETERMINISTIC — usable through the API (the
                # reference's own benchmark Cypher uses it, MANIFESTO.md:
                # 239-242); keep it out of oracle-compared queries
                self.next()
                self.expect("(")
                self.expect(")")
                return "rand()" if self.dialect == "spark" else "random()"
            if fn == "SPLIT":
                # split(str, sep): Spark's split takes a REGEX, DuckDB's
                # string_split a literal — regex-escape the literal on
                # the Spark side so both mean "split on this substring".
                # Literal separators only (escaping a runtime expression
                # would need SQL-side string surgery).
                self.next()
                self.expect("(")
                subject = self.value()
                self.expect(",")
                lit, _n = self._string_literal_with_len()
                self.expect(")")
                if self.dialect == "spark":
                    esc = re.sub(
                        r"([.^$*+?()\[\]{}|\\])", r"\\\\\1", lit[1:-1]
                    )
                    return f"split({subject}, '{esc}')"
                return f"string_split({subject}, {lit})"
            if fn in ("TOUPPER", "TOLOWER"):
                # Cypher spellings of the shared UPPER/LOWER functions
                self.next()
                self.expect("(")
                inner = self.value()
                self.expect(")")
                return f"{'UPPER' if fn == 'TOUPPER' else 'LOWER'}({inner})"
            if fn == "LOG":
                # Cypher log() is the NATURAL log — Spark's log(x) is
                # ln but DuckDB's log(x) is log10, so emit the shared
                # ln() spelling on both sides
                self.next()
                self.expect("(")
                inner = self.value()
                self.expect(")")
                return f"ln({inner})"
            if fn == "REVERSE":
                # Spark's reverse() is polymorphic (string | array);
                # DuckDB splits into reverse() / list_reverse() — pick
                # by the statically-known list-ness of the argument
                self.next()
                self.expect("(")
                inner = self.value()
                self.expect(")")
                if self.dialect != "spark" and self._is_list_expr(inner):
                    return f"list_reverse({inner})"
                return f"REVERSE({inner})"
            if fn == "ELEMENTID" and self.toks[self.pos + 2][0] == "name":
                # Neo4j 5 elementId(n) — a STRING node identity; the
                # honest columnar analogue is the stringified id
                if self.toks[self.pos + 3][1] == ")":
                    self.next()
                    self.expect("(")
                    var = self.expect_name()
                    self.expect(")")
                    ty = "STRING" if self.dialect == "spark" else "VARCHAR"
                    return f"CAST({var}.ID AS {ty})"
            if fn == "E" and self.toks[self.pos + 1][1] == "(":
                # e() — DuckDB has no e(); exp(1.0) is shared
                self.next()
                self.expect("(")
                self.expect(")")
                return "exp(1.0)"
            if fn == "HAVERSIN":
                # haversin(x) = sin(x/2)^2 — no native twin in either
                # engine; the identity is dialect-neutral
                self.next()
                self.expect("(")
                inner = self.value()
                self.expect(")")
                return f"power(sin(({inner}) / 2), 2)"
            if fn == "ISEMPTY":
                # isEmpty(x) is polymorphic in Cypher (string / list /
                # map) but Spark's size() is array-typed and length()
                # string-typed, so the emission dispatches on the
                # STATIC type of the argument: known lists → size()=0,
                # known strings → length()=0, anything else raises a
                # targeted error instead of shipping an emission that
                # dies in an opaque AnalysisException on a string
                # column (the r8 judge probe).
                self.next()
                self.expect("(")
                inner = self.value()
                self.expect(")")
                if self._is_list_expr(inner):
                    if self.dialect == "spark":
                        return f"(size({inner}) = 0)"
                    return f"(len({inner}) = 0)"
                if self._is_string_expr(inner):
                    # literals, string-function heads, registered
                    # string columns, and string iteration vars (r11)
                    return f"(length({inner}) = 0)"
                # r10 (r9 ADVICE): before refusing, dispatch on the
                # REGISTERED property type when the argument is a plain
                # `var.column` access and the caller passed the graph
                # schema (api.cypher does) — list-typed property
                # columns keep working without a rewrite
                pm = re.fullmatch(
                    r"[A-Za-z_]\w*\.([A-Za-z_]\w*)", inner
                )
                if pm and self.prop_types:
                    ty = self.prop_types.get(pm.group(1))
                    if ty is not None and ty.startswith("array<"):
                        if self.dialect == "spark":
                            return f"(size({inner}) = 0)"
                        return f"(len({inner}) = 0)"
                    if ty == "string":
                        return f"(length({inner}) = 0)"
                raise CypherUnsupported(
                    f"isEmpty({inner}): argument type is not statically "
                    "known — spell size(x) = 0 for lists or "
                    "length(x) = 0 / x = '' for strings"
                )
            if fn == "TIMESTAMP" and self.toks[self.pos + 1][1] == "(":
                # NONDETERMINISTIC (like rand()): ms since epoch — keep
                # out of oracle-compared queries
                self.next()
                self.expect("(")
                self.expect(")")
                if self.dialect == "spark":
                    return "unix_millis(current_timestamp())"
                return "epoch_ms(now())"
            if fn in ("STARTNODE", "ENDNODE"):
                # startNode(r)/endNode(r) -> the endpoint's node id
                # (the engine's scalar node convention, same as
                # `RETURN n` = n.ID); composes under id(...) below.
                # With a trailing `.prop` the endpoint NODE VARIABLE of
                # r's pattern slot resolves the access directly — zero
                # extra joins, anonymous endpoints included (they carry
                # generated aliases already present in the FROM).
                self.next()
                self.expect("(")
                rvar = self.expect_name()
                self.expect(")")
                col = "START_ID" if fn == "STARTNODE" else "END_ID"
                if self.peek()[1] == ".":
                    self.next()
                    raw = self.expect_name(kw_ok=True)
                    prop = self._ident(raw)
                    ep = self.rel_endpoints.get(rvar)
                    if ep is None:
                        raise CypherUnsupported(
                            f"{tok}({rvar}).{prop} needs {rvar} bound to "
                            "a directed fixed-length relationship slot "
                            "in the current MATCH"
                        )
                    nvar = ep[0] if fn == "STARTNODE" else ep[1]
                    if self._missing_prop(nvar, raw):
                        return self._null_access()
                    return self._temporal_accessor(f"{nvar}.{prop}")
                return f"{rvar}.{col}"
            if (
                fn == "ID"
                and self.toks[self.pos + 2][0] == "name"
                and self.toks[self.pos + 2][1].upper() in ("STARTNODE", "ENDNODE")
            ):
                # id(startNode(r)) — the inner call already IS the id
                self.next()
                self.expect("(")
                inner = self.factor()
                self.expect(")")
                return inner
            if fn in ("KEYS", "PROPERTIES") and (
                self.toks[self.pos + 2][0] == "name"
                and self.toks[self.pos + 3][1] == ")"
            ):
                # keys(n) / properties(n) — need the node frame's
                # property column list, which only the caller knows
                # (api.cypher passes it from the registered graph's
                # schema; the oracle helper from NODES_SQL).
                # properties(n) is a fixed-schema struct (documented
                # divergence: Cypher omits missing keys per node, a
                # columnar frame carries NULLs); keys(n) is the sorted
                # comma-joined names of the NON-NULL properties (the
                # collect() string rendering).
                self.next()
                self.expect("(")
                var = self.expect_name()
                self.expect(")")
                if var not in self.node_pat_vars or (
                    self.aliases is not None and var not in self.post_vars
                ):
                    raise CypherSyntaxError(
                        f"{fn.lower()}({var}): not a bound node variable"
                    )
                if self.node_props is None:
                    raise CypherUnsupported(
                        f"{fn.lower()}() needs the node property schema "
                        "— pass node_props to cypher_to_sql (api.cypher "
                        "does this from the registered graph)"
                    )
                cols = sorted(self.node_props)
                if fn == "PROPERTIES":
                    if self.dialect == "spark":
                        inner = ", ".join(
                            f"'{c}', {var}.{self._ident(c)}" for c in cols
                        )
                        return f"named_struct({inner})"
                    inner = ", ".join(
                        f"{self._ident(c)} := {var}.{self._ident(c)}"
                        for c in cols
                    )
                    return f"struct_pack({inner})"
                cases = ", ".join(
                    f"CASE WHEN {var}.{self._ident(c)} IS NOT NULL "
                    f"THEN '{c}' END"
                    for c in cols
                )
                if self.dialect == "spark":
                    return (
                        f"array_join(filter(array({cases}), "
                        f"_k -> _k IS NOT NULL), ',')"
                    )
                return (
                    f"array_to_string(list_filter([{cases}], "
                    f"_k -> _k IS NOT NULL), ',')"
                )
            if fn in ("ID", "LABELS", "TYPE") and self.toks[self.pos + 2][0] == "name":
                # graph accessors on a node variable: id(n) -> n.ID,
                # labels(n) -> the sorted comma-joined label string
                # (the collect() string-not-list divergence). Only when
                # the argument is a bare variable — ID( expr ) would
                # fall through to the unsupported-function error.
                if self.toks[self.pos + 3][1] == ")":
                    self.next()
                    self.expect("(")
                    var = self.expect_name()
                    self.expect(")")
                    if (
                        fn == "ID"
                        and self.aliases is not None
                        and var in self.carried_nodes
                    ):
                        # id() of a node carried BARE through a WITH /
                        # CALL boundary: the carried column IS the id
                        return var
                    if var in self.unwind_aliases or (
                        self.aliases is not None and var not in self.post_vars
                    ):
                        raise CypherSyntaxError(
                            f"{fn.lower()}({var}): not a node variable"
                        )
                    if fn == "TYPE" and var not in self.rel_pat_vars:
                        raise CypherSyntaxError(
                            f"type({var}): not a relationship variable"
                        )
                    if (
                        fn == "ID"
                        and var in self.rel_pat_vars
                        and var not in self.node_pat_vars
                    ):
                        # id(r) on a relationship variable — the
                        # stored edge identity
                        return self._rel_identity(var)
                    if fn in ("ID", "LABELS") and var not in self.node_pat_vars:
                        raise CypherSyntaxError(
                            f"{fn.lower()}({var}): not a bound node variable"
                        )
                    if fn == "ID":
                        return f"{var}.ID"
                    if fn == "TYPE":
                        # type(r): the rel's TYPE column (the undirected
                        # union view keeps TYPE through the swap, so this
                        # works in both orientations)
                        return f"{var}.TYPE"
                    if self.dialect == "spark":
                        return f"array_join(sort_array({var}.LABELS), ',')"
                    return f"array_to_string(list_sort({var}.LABELS), ',')"
            if fn in ("DATE", "DATETIME", "LOCALDATETIME"):
                # temporal constructors over an ISO literal (normalized
                # to the shared `DATE '...'`/`TIMESTAMP '...'` literal
                # syntax) or an expression (CAST). Zero-arg now()-style
                # forms are rejected — nondeterministic.
                self.next()
                self.expect("(")
                ttype = "DATE" if fn == "DATE" else "TIMESTAMP"
                if self.peek()[0] == "str":
                    lit = _normalize_str_literal(self.next()[1])
                    body = lit[1:-1].replace("T", " ")
                    body = body[:-1] if body.endswith("Z") else body
                    self.expect(")")
                    # r9: component postfix on the constructor result
                    # (``date('2024-01-05').year``) — same accessor
                    # loop property access already runs
                    return self._temporal_accessor(f"{ttype} '{body}'")
                if self.peek()[1] == ")":
                    raise CypherUnsupported(
                        f"zero-arg {fn.lower()}() (current time) is "
                        "nondeterministic and not supported"
                    )
                inner = self.value()
                self.expect(")")
                # r9: ``date(expr).year``-style postfix on the cast form
                return self._temporal_accessor(f"CAST({inner} AS {ttype})")
            if fn in ("HEAD", "LAST", "TAIL"):
                # list accessors. labels(var) keeps its ARRAY form here
                # (sorted — same determinism contract as the labels()
                # scalarization); any other argument is a general list
                # expression (alias, split(), literal, comprehension).
                self.next()
                self.expect("(")
                lst = self._list_arg()
                self.expect(")")
                el = (
                    "try_element_at"
                    if self.dialect == "spark"
                    else "list_extract"
                )
                if fn == "HEAD":
                    return f"{el}({lst}, 1)"
                if fn == "LAST":
                    return f"{el}({lst}, -1)"
                if self.dialect == "spark":
                    return f"slice({lst}, 2, greatest(size({lst}) - 1, 0))"
                return f"list_slice({lst}, 2, len({lst}))"
            if fn in self._FNS:
                self.next()
                self.expect("(")
                if self.peek()[1] == ")":  # zero-arg (pi())
                    self.next()
                    return f"{fn}()"
                args = [self.value()]
                while self.accept(","):
                    args.append(self.value())
                self.expect(")")
                return f"{fn}({', '.join(args)})"
            if fn in self._AGGS:
                self.next()
                self.expect("(")
                self._saw_agg = True
                if fn == "COUNT" and self.accept("*"):
                    inner = "*"
                else:
                    distinct = self.accept("DISTINCT")
                    inner = self.value()
                    if distinct:
                        inner = f"DISTINCT {inner}"
                self.expect(")")
                return f"{fn}({inner})"
            if fn == "COLLECT":
                # Cypher's list aggregate. In FINAL output position it
                # is emitted as a SORTED comma-joined string (documented
                # divergence: Cypher preserves encounter order, which a
                # distributed engine cannot reproduce deterministically
                # — sorting makes the result a pure function of the
                # data, which is also what lets the oracle verify it).
                # In a WITH stage (r7) it stays a REAL sorted array so
                # the alias composes downstream: UNWIND it, size() it,
                # index it — the string form only materializes at the
                # observable boundary.
                self.next()
                self.expect("(")
                self._saw_agg = True
                distinct = self.accept("DISTINCT")
                inner = self.value()
                if getattr(self, "_collect_array", False):
                    self.expect(")")
                    if self.dialect == "spark":
                        agg = (
                            f"collect_set({inner})"
                            if distinct
                            else f"collect_list({inner})"
                        )
                        return f"sort_array({agg})"
                    d = "DISTINCT " if distinct else ""
                    return (
                        f"list_sort(list({d}{inner}) "
                        f"FILTER (({inner}) IS NOT NULL))"
                    )
                self.expect(")")
                if self.peek()[1] == "[":
                    # collect(...)[i] / collect(...)[a..b]: the postfix
                    # accessor needs the ARRAY form — skip the final-
                    # boundary string rendering (term() applies the
                    # index/slice next)
                    if self.dialect == "spark":
                        agg = (
                            f"collect_set({inner})"
                            if distinct
                            else f"collect_list({inner})"
                        )
                        return f"sort_array({agg})"
                    d = "DISTINCT " if distinct else ""
                    return (
                        f"list_sort(list({d}{inner}) "
                        f"FILTER (({inner}) IS NOT NULL))"
                    )
                if self.dialect == "spark":
                    di = f"DISTINCT {inner}" if distinct else inner
                    return f"array_join(sort_array(collect_list({di})), ',')"
                # openCypher (and Spark's collect_list) SKIP NULLs and
                # render an empty collect as '' via array_join; DuckDB
                # keeps NULL elements in list(), returns NULL (not [])
                # for an all-filtered aggregate, and array_to_string of
                # an empty list is NULL — FILTER + COALESCE pin the
                # Spark semantics (found by the dialect fuzzer on an
                # all-NULL group)
                d = "DISTINCT " if distinct else ""
                return (
                    f"COALESCE(array_to_string(list_sort(list({d}{inner}) "
                    f"FILTER (({inner}) IS NOT NULL)), ','), '')"
                )
            if fn == "SIZE":
                # size(labels(var)) — the label-count idiom. labels()
                # alone emits the sorted comma-joined STRING (the
                # collect() divergence), so size() must capture the
                # array form before that rendering; only this composed
                # shape is supported.
                self.next()
                self.expect("(")
                if self.peek()[1] == "[" and self._at_pattern_comprehension():
                    # size([(a)-[:T]->(m) …]) — pattern-match count,
                    # the degree idiom; a correlated count subquery
                    self.next()
                    out = self._pattern_comprehension(mode="count")
                    self.expect(")")
                    return out
                if (
                    self.peek()[1] == "["
                    and self.toks[self.pos + 1][0] == "name"
                    and self.toks[self.pos + 2][1].upper() == "IN"
                ):
                    # size([x IN list ...]) — list-comprehension length
                    # (a plain list literal falls through to the
                    # generic value branch below)
                    lc = self._list_comprehension()
                    self.expect(")")
                    return (
                        f"size({lc})" if self.dialect == "spark" else f"len({lc})"
                    )
                if self.peek()[1] == "(":
                    # size((a)-[:T]->(b)) — the legacy Neo4j degree
                    # idiom (deprecated upstream in favor of COUNT{}):
                    # the same correlated count subquery
                    out = self._exists_pattern(mode="count")
                    self.expect(")")
                    return out
                if (
                    self.peek()[0] == "name"
                    and self.peek()[1].upper() == "COLLECT"
                    and self.toks[self.pos + 1][1] == "("
                ):
                    # size(collect([DISTINCT] x)) == count([DISTINCT] x)
                    # exactly (collect skips NULLs, count counts
                    # non-NULL) — no list materialization needed
                    self.next()
                    self.expect("(")
                    self._saw_agg = True
                    distinct = "DISTINCT " if self.accept("DISTINCT") else ""
                    inner = self.value()
                    self.expect(")")
                    if self.peek()[1] == "[":
                        # size(collect(...)[a..b]): a postfix accessor
                        # needs the real array — no COUNT shortcut
                        if self.dialect == "spark":
                            agg = (
                                f"collect_set({inner})"
                                if distinct
                                else f"collect_list({inner})"
                            )
                            arr = f"sort_array({agg})"
                        else:
                            arr = (
                                f"list_sort(list({distinct}{inner}) "
                                f"FILTER (({inner}) IS NOT NULL))"
                            )
                        arr = self._postfix_index(arr)
                        self.expect(")")
                        return (
                            f"size({arr})"
                            if self.dialect == "spark"
                            else f"len({arr})"
                        )
                    self.expect(")")
                    return f"COUNT({distinct}{inner})"
                if not (
                    self.peek()[0] == "name"
                    and self.peek()[1].lower() == "labels"
                    and self.toks[self.pos + 1][1] == "("
                ):
                    # size(<list expression>) — a carried collect()
                    # alias, split(), a list literal … (r7): plain
                    # element count. Strings should use length().
                    # A bare FIXED-length rel/node variable is not a
                    # list — reject with a targeted message instead of
                    # letting the generic branch emit an unresolvable
                    # column (varlength rel vars ARE lists and resolve
                    # via the _vlp._hops splice before reaching here).
                    nk, nv = self.peek()
                    if (
                        nk == "name"
                        and self.toks[self.pos + 1][1] == ")"
                        and nv not in self.vl_rel_vars
                        and nv not in self.unwind_aliases
                        and (self.aliases is None or nv not in self.aliases)
                        and (
                            nv in self.rel_pat_vars
                            or nv in self.node_pat_vars
                        )
                    ):
                        raise CypherUnsupported(
                            f"size({nv}): {nv} is a "
                            + (
                                "relationship"
                                if nv in self.rel_pat_vars
                                else "node"
                            )
                            + " variable, not a list — size() takes "
                            "lists (use a varlength binding, "
                            "collect(), or size(labels(n)))"
                        )
                    if (
                        self.peek()[0] == "str"
                        and self.toks[self.pos + 1][1] == ")"
                    ):
                        # size('literal') — string length (Spark's
                        # size() is array/map-only; LENGTH is shared)
                        lit, _n = self._string_literal_with_len()
                        self.expect(")")
                        return f"LENGTH({lit})"
                    v = self.value()
                    self.expect(")")
                    if self._is_string_expr(v):
                        # Cypher size(string) is its length — Spark's
                        # size() is array/map-only, so the statically
                        # string-typed arguments (schema-registered
                        # string columns, iteration vars over
                        # array<string>) dispatch to LENGTH (r11)
                        return f"LENGTH({v})"
                    return (
                        f"size({v})"
                        if self.dialect == "spark"
                        else f"len({v})"
                    )
                inner_fn = self.expect_name()
                self.expect("(")
                var = self.expect_name()
                self.expect(")")
                self.expect(")")
                # same bound-node validation as the labels() accessor —
                # an unbound/aliased/rel var must fail at parse time
                if (
                    var in self.unwind_aliases
                    or (self.aliases is not None and var not in self.post_vars)
                    or var not in self.node_pat_vars
                ):
                    raise CypherSyntaxError(
                        f"size(labels({var})): not a bound node variable"
                    )
                if self.dialect == "spark":
                    return f"size({var}.LABELS)"
                return f"len({var}.LABELS)"
            if fn in ("STDEV", "STDEVP"):
                # Cypher's sample/population standard deviation
                self.next()
                self.expect("(")
                self._saw_agg = True
                inner = self.value()
                self.expect(")")
                name = "STDDEV_SAMP" if fn == "STDEV" else "STDDEV_POP"
                return f"{name}({inner})"
            if fn == "PERCENTILEDISC":
                # nearest-rank percentile: Spark percentile_disc is
                # WITHIN-GROUP syntax and returns DOUBLE; DuckDB's
                # quantile_disc keeps the column type — CAST both
                self.next()
                self.expect("(")
                self._saw_agg = True
                inner = self.value()
                self.expect(",")
                p = self.value()
                self.expect(")")
                if self.dialect == "spark":
                    return (
                        f"percentile_disc({p}) WITHIN GROUP "
                        f"(ORDER BY {inner})"
                    )
                return f"CAST(quantile_disc({inner}, {p}) AS DOUBLE)"
            if fn == "PERCENTILECONT":
                # interpolated percentile: Spark percentile() is exact/
                # interpolated, DuckDB's twin is quantile_cont()
                self.next()
                self.expect("(")
                self._saw_agg = True
                inner = self.value()
                self.expect(",")
                p = self.value()
                self.expect(")")
                if self.dialect == "spark":
                    return f"percentile({inner}, {p})"
                return f"quantile_cont({inner}, {p})"
            raise CypherUnsupported(
                f"function {tok!r} is not in the dialect-neutral "
                f"whitelist {self._FNS}, aggregates {self._AGGS}, "
                "collect(), type(), toUpper/toLower, stDev[P], or "
                "percentileCont"
            )
        return self.operand()

    def _list_arg(self) -> str:
        """A list-valued argument that must KEEP its array form:
        ``labels(var)`` yields the sorted label array here (not the
        scalarized comma-joined string the bare accessor emits);
        anything else parses as a general value()."""
        k, t = self.peek()
        if (
            k == "name"
            and t.lower() == "labels"
            and self.toks[self.pos + 1][1] == "("
        ):
            self.next()
            self.expect("(")
            var = self.expect_name()
            self.expect(")")
            if (
                var in self.unwind_aliases
                or (self.aliases is not None and var not in self.post_vars)
                or var not in self.node_pat_vars
            ):
                raise CypherSyntaxError(
                    f"labels({var}): not a bound node variable"
                )
            if self.dialect == "spark":
                return f"sort_array({var}.LABELS)"
            return f"list_sort({var}.LABELS)"
        return self.value()

    def _quoted_alias(self, text: str) -> str:
        """Quote an arbitrary auto-generated column name for the
        emission dialect (Spark backticks / DuckDB double quotes)."""
        if self.dialect == "spark":
            return "`" + text.replace("`", "``") + "`"
        return '"' + text.replace('"', '""') + '"'

    def _rel_identity(self, var: str) -> str:
        """A fixed-length relationship variable used as a VALUE
        (``id(r)``, ``count(r)``, ``count(DISTINCT r)``, ``r1 <> r2``)
        resolves to the REL_ID column. Neo4j returns the id its store
        allocated to the edge; REL_ID is the Spark analogue: a 64-bit
        id numbered once per edge, at catalog registration or by the
        CREATE that made it, and stored with the edge, so it is stable
        within a graph version and across writes (it is not a Neo4j
        id).

        Reference gets this free via Neo4j
        (plugin/.../job/TransactionApiJob.java:41-220)."""
        if var in self.vl_rel_vars:
            raise CypherUnsupported(
                f"{var} is a variable-length relationship list — "
                "use size()/UNWIND over it, not a single-edge value"
            )
        if not self.rel_id:
            raise CypherUnsupported(
                f"relationship identity for {var!r} needs a REL_ID "
                "column, and this rels view has none (transpiled with "
                "rel_id=False)"
            )
        return f"{var}.REL_ID"

    def _rel_object(self, var: str, directed: bool) -> str:
        """``RETURN r`` — the rel-object projection. Neo4j returns a
        relationship object; the honest Spark analogue is a struct
        ``{start, end, type, <properties…>}`` (documented divergence:
        Cypher renders ids + dynamic property map, a columnar engine
        carries the fixed property schema with NULLs). Undirected
        slots read the natural+reverse union view whose endpoint
        columns are swapped per orientation, so the struct uses the
        physical ``_OS/_OE`` originals."""
        if self.rel_props is None:
            raise CypherUnsupported(
                f"RETURN {var}: bare relationship projection needs "
                "the rel property schema — pass rel_props to "
                "cypher_to_sql (api.cypher does this from the "
                "registered graph)"
            )
        s, e = ("START_ID", "END_ID") if directed else ("_OS", "_OE")
        fields = [
            ("start", f"{var}.{s}"),
            ("end", f"{var}.{e}"),
            ("type", f"{var}.TYPE"),
        ] + [(p, f"{var}.{self._ident(p)}") for p in sorted(self.rel_props)]
        if self.dialect == "spark":
            inner = ", ".join(f"'{k}', {v}" for k, v in fields)
            return f"named_struct({inner})"
        inner = ", ".join(f"{self._ident(k)} := {v}" for k, v in fields)
        return f"struct_pack({inner})"

    def _list_comprehension(self) -> str:
        """``[x IN source [WHERE pred] | body]`` → higher-order array
        functions: Spark ``transform``/``filter``, DuckDB
        ``list_transform``/``list_filter`` — identical lambda syntax
        (``x -> expr``), only the function names split. ``source`` is a
        list literal (dialect-split: ``array(...)`` vs ``[...]``), a
        ``$param`` list, or an array property like ``n.LABELS``. The
        iteration variable scopes like an UNWIND alias (a bare scalar)
        for the predicate and body only."""
        self.expect("[")
        var = self.expect_name()
        kind, tok = self.next()
        if tok.upper() != "IN":
            raise CypherSyntaxError(f"expected IN in list comprehension, got {tok!r}")
        if self.peek()[1] == "[":
            # literal list source
            self.next()
            elems = [self.value()]
            while self.accept(","):
                elems.append(self.value())
            self.expect("]")
            src = (
                f"array({', '.join(elems)})"
                if self.dialect == "spark"
                else f"[{', '.join(elems)}]"
            )
        else:
            prev_ca = getattr(self, "_collect_array", False)
            self._collect_array = True  # collect() src stays ARRAY
            try:
                src = self.value()
            finally:
                self._collect_array = prev_ca
        shadowed = var in self.unwind_aliases
        self.unwind_aliases.add(var)  # scope the iteration variable
        sbound = self._bind_string_iter(var, src)
        try:
            pred = self.expr() if self.accept("WHERE") else None
            body = None
            if self.peek()[1] == "|":
                self.next()
                body = self.value()
        finally:
            if not shadowed:
                self.unwind_aliases.discard(var)
            if sbound:
                self.string_vars.discard(var)
        self.expect("]")
        f_filter, f_map = (
            ("filter", "transform")
            if self.dialect == "spark"
            else ("list_filter", "list_transform")
        )
        out = src
        if pred is not None:
            out = f"{f_filter}({out}, {var} -> {pred})"
        if body is not None and body != var:
            out = f"{f_map}({out}, {var} -> {body})"
        return out

    def _map_projection(self, var: str) -> str:
        """``var {.prop1, .prop2}`` map projection → a struct: Spark
        ``named_struct``, DuckDB ``struct_pack`` (no shared surface, so
        this is one of the dialect-split emissions like ``collect()``).
        Needs an explicit ``AS`` alias like any computed item."""
        self.expect("{")
        keys: list[str] = []
        while True:
            self.expect(".")
            if self.peek()[1] == "*":
                # `var {.*}` — all properties; needs the node schema
                # (same channel as properties(var))
                self.next()
                if self.node_props is None:
                    raise CypherUnsupported(
                        "{.*} needs the node property schema — pass "
                        "node_props to cypher_to_sql (api.cypher does "
                        "this from the registered graph)"
                    )
                keys.extend(sorted(self.node_props))
            else:
                keys.append(self.expect_name(kw_ok=True))
            if not self.accept(","):
                break
        self.expect("}")
        if not keys:
            raise CypherSyntaxError("empty map projection")
        if self.dialect == "spark":
            inner = ", ".join(
                f"'{k}', {var}.{self._ident(k)}" for k in keys
            )
            return f"named_struct({inner})"
        inner = ", ".join(
            f"{self._ident(k)} := {var}.{self._ident(k)}" for k in keys
        )
        return f"struct_pack({inner})"

    def operand(self) -> str:
        kind, tok = self.peek()
        if kind == "name":
            var = self.expect_name()
            if self.peek()[1] == ".":
                # apoc.text.join(...) and friends — a NAMESPACED
                # function call, not a property access (the '(' after
                # the dotted chain disambiguates; c.d.year has no
                # paren). Targeted refusal instead of a trailing-input
                # parse error (r11).
                j, parts = self.pos, [var]
                while (
                    self.toks[j][1] == "."
                    and self.toks[j + 1][0] == "name"
                ):
                    parts.append(self.toks[j + 1][1])
                    j += 2
                if len(parts) > 1 and self.toks[j][1] == "(":
                    raise CypherUnsupported(
                        f"namespaced function {'.'.join(parts)}(...) "
                        "is not supported — no APOC or procedure "
                        "namespaces; use the built-in function surface"
                    )
            if var in self.unwind_aliases:
                if var in self.struct_aliases and self.peek()[1] == ".":
                    # a leading-WITH map literal carried into MATCH
                    # scope: struct field access (chained for nested
                    # maps: m.a.b)
                    path = var
                    while self.peek()[1] == ".":
                        self.next()
                        path += "." + self._ident(
                            self.expect_name(kw_ok=True)
                        )
                    return path
                # an UNWIND-bound scalar, not a node (may carry a
                # temporal component accessor if the list held dates)
                return self._temporal_accessor(
                    self.var_subs.get(var, var)
                )
            if self.peek()[1] == "{" and self.aliases is None:
                return self._map_projection(var)
            if self.aliases is not None:
                if (
                    self.peek()[1] == "."
                    and var in self.aliases
                    and self.toks[self.pos + 1][0] == "name"
                    and self.toks[self.pos + 1][1] in _TEMPORAL_ACCESSORS
                ):
                    # a date-valued WITH alias: `WITH o.d AS d … d.year`
                    return self._temporal_accessor(var)
                if self.accept("."):
                    raw = self.expect_name(kw_ok=True)
                    prop = self._ident(raw)
                    if var in self.post_vars or var in self.carried_nodes:
                        # carried-bare node vars: the consuming stage
                        # re-joins the node table on the carried id
                        if self._missing_prop(var, raw):
                            return self._null_access()
                        return self._temporal_accessor(f"{var}.{prop}")
                    if var in self.struct_aliases:
                        # a WITH alias holding a map literal: struct
                        # field access (both engines share `col.field`;
                        # chained for nested maps)
                        path = f"{var}.{prop}"
                        while self.peek()[1] == ".":
                            self.next()
                            path += "." + self._ident(
                                self.expect_name(kw_ok=True)
                            )
                        return path
                    raise CypherUnsupported(
                        f"{var}.{prop}: pattern variables are out of scope "
                        "after WITH — carry values through as WITH aliases"
                    )
                if var in self.aliases:
                    return var
                if var in self.post_vars:
                    return f"{var}.ID"
                raise CypherSyntaxError(
                    f"unknown alias {var!r} after WITH "
                    f"(in scope: {sorted(self.aliases | self.post_vars)})"
                )
            if self.accept("."):
                raw = self.expect_name(kw_ok=True)
                if self._missing_prop(var, raw):
                    return self._null_access()
                prop = self._ident(raw)
                return self._temporal_accessor(f"{var}.{prop}")
            if (
                self.peek()[1] == "["
                and (
                    var in self.node_pat_vars
                    or var in self.rel_pat_vars
                )
                and var not in self.vl_rel_vars  # r[0] indexes the LIST
                and var not in self.unwind_aliases
            ):
                # n['name'] — dynamic property access (openCypher).
                # A STRING LITERAL key is n.name exactly (missing
                # property reads NULL); a computed key cannot resolve
                # to a column statically — targeted refusal (r11).
                if (
                    self.toks[self.pos + 1][0] == "str"
                    and self.toks[self.pos + 2][1] == "]"
                ):
                    self.next()
                    lit = self.next()[1]
                    self.next()  # ']'
                    raw = lit[1:-1].replace("\\'", "'").replace(
                        '\\"', '"'
                    )
                    if self._missing_prop(var, raw):
                        return self._null_access()
                    return self._temporal_accessor(
                        f"{var}.{self._ident(raw)}"
                    )
                raise CypherUnsupported(
                    f"{var}[…]: dynamic property access needs a string "
                    "literal key — computed keys cannot resolve to a "
                    "column statically"
                )
            if var in self.rel_pat_vars and var not in self.node_pat_vars:
                # bare fixed-length rel variable as a value —
                # count(r) / count(DISTINCT r) / collect(r) / r1 <> r2
                # all compare-or-count edge identity
                return self._rel_identity(var)
            return f"{var}.ID"
        return self.literal()

    def _exists_chain(
        self,
        chain: list[tuple[_RelPat, _NodePat]],
        src: _NodePat,
        bound: set[str],
        mode: str,
    ) -> str:
        """Multi-hop pattern predicate / COUNT subquery: ONE correlated
        subquery joining the rel table per hop (undirected hops read
        the natural+reverse union closure inline). Node labels/props
        filter via IN subqueries on the connecting id column; Cypher's
        within-pattern relationship uniqueness is enforced pairwise.
        An optional trailing WHERE may reference the hops' rel
        variables and outer bound variables."""
        base = self._exists_n
        evs: list[str] = []
        slots: list[tuple[str, bool, list[str], int]] = []
        joins: list[str] = []
        conds: list[str] = []
        ecols: list[str] = []

        def node_sub(n: _NodePat) -> str | None:
            nc = [_label_cond("", lb) for lb in n.labels]
            nc += [f"{k} = {lit}" for k, lit in n.props]
            if not nc:
                return None
            return "SELECT ID FROM __NODES__ WHERE " + " AND ".join(nc)

        for i, (r, n) in enumerate(chain):
            ev = r.var or f"_ex{base}_{i}"
            evs.append(ev)
            und = r.direction == "-"
            slots.append((ev, und, list(r.rtypes), 0))
            if und:
                rid = " REL_ID," if self.rel_id else ""
                hop_src = (
                    f"(SELECT{rid} START_ID, END_ID, TYPE,"
                    " START_ID AS _OS, END_ID AS _OE FROM __RELS__"
                    " UNION ALL"
                    f" SELECT{rid} END_ID AS START_ID, START_ID AS END_ID,"
                    " TYPE, START_ID AS _OS, END_ID AS _OE"
                    f" FROM __RELS__) AS {ev}"
                )
                scol, ecol = "START_ID", "END_ID"
            else:
                hop_src = f"__RELS__ AS {ev}"
                scol, ecol = (
                    ("END_ID", "START_ID")
                    if r.direction == "<-"
                    else ("START_ID", "END_ID")
                )
            ecols.append(ecol)
            if i == 0:
                joins.append(hop_src)
                if src.var in bound:
                    conds.append(f"{ev}.{scol} = {src.var}.ID")
                elif sub := node_sub(src):
                    conds.append(f"{ev}.{scol} IN ({sub})")
            else:
                link = f"{ev}.{scol} = {evs[i - 1]}.{ecols[i - 1]}"
                joins.append(f"JOIN {hop_src} ON {link}")
            if tc := _type_cond(r, ev):
                conds.append(tc)
            conds.extend(_prop_conds(r, ev))
            # the node AFTER hop i rides on this hop's end column
            if n.var in bound:
                conds.append(f"{ev}.{ecol} = {n.var}.ID")
            elif sub := node_sub(n):
                conds.append(f"{ev}.{ecol} IN ({sub})")
        conds.extend(_rel_uniqueness_conds(slots, self.rel_id))
        if self.accept("WHERE"):
            inner = self.expr()
            for n in [src] + [n for _, n in chain]:
                if n.var not in bound and re.search(
                    rf"\b{re.escape(n.var)}\.", inner
                ):
                    raise CypherUnsupported(
                        f"the subquery WHERE references node {n.var!r}, "
                        "which is not joined inside the EXISTS/COUNT "
                        "subquery — filter with an inline property map "
                        "instead ({key: value})"
                    )
            conds.append(f"({inner})")
        sql_from = joins[0] + "".join(f" {j}" for j in joins[1:])
        where = " AND ".join(conds)
        if mode == "exists":
            return f"EXISTS (SELECT 1 FROM {sql_from} WHERE {where})"
        return f"(SELECT count(*) FROM {sql_from} WHERE {where})"

    def _exists_pattern(self, mode: str = "exists") -> str:
        """Single-hop pattern predicate — the shared engine behind
        ``EXISTS((a)-[:T]->(b))``, ``EXISTS { (a)-[:T]->(:L) }``, a
        bare ``WHERE (a)-[:T]->()`` pattern, and ``COUNT { … }``.
        Emits an ANSI EXISTS subquery (or, for ``mode='count'``, a
        correlated scalar ``count(*)`` subquery — Spark supports
        correlated scalars when aggregated, DuckDB always) against the
        ``__RELS__``/``__NODES__`` placeholders (the view names are
        only known at emission — :func:`cypher_to_sql` substitutes
        them last). Either endpoint may be a bound variable, a fresh
        existential one, anonymous (``()``), label-filtered, or
        property-filtered; at least one endpoint must be bound (the
        correlation key). Direction ``-`` checks both orientations:
        OR of the legs for exists, sum for count. node() consumes the
        pattern's own parens."""
        src = self.node(anon_ok=True)
        chain: list[tuple[_RelPat, _NodePat]] = []
        while self.peek()[1] in ("-", "<-"):
            r_ = self.rel()
            n_ = self.node(anon_ok=True)
            chain.append((r_, n_))
        if not chain:
            raise CypherSyntaxError(
                "a pattern predicate needs a relationship"
            )
        r, dst = chain[0][0], chain[-1][1]
        if any(c[0].is_varlength for c in chain):
            raise CypherUnsupported(
                "variable-length pattern predicates are not supported"
            )
        bound = getattr(self, "_bound", set())
        pat_nodes = [src] + [n for _, n in chain]
        if not any(n.var in bound for n in pat_nodes):
            raise CypherUnsupported(
                "a pattern predicate needs at least one bound endpoint "
                f"(none of {[n.var for n in pat_nodes]} is bound)"
            )
        self._exists_n = getattr(self, "_exists_n", 0) + 1
        if len(chain) > 1:
            return self._exists_chain(chain, src, bound, mode)
        # when the pattern names its relationship, alias the subquery's
        # rel scan with that name so an inner WHERE (EXISTS { … WHERE
        # r.prop … }) resolves against it
        ev = r.var or f"_ex{self._exists_n}"
        inner_where = None
        inner_refs: set[str] = set()
        if self.accept("WHERE"):
            inner_where = self.expr()
            # r9: an inner WHERE may reference the subquery's OWN
            # unbound nodes (EXISTS { MATCH (n)-[:K]->(m) WHERE
            # m.age > 30 }) — those node tables JOIN inside the
            # subquery (the same shape pattern comprehensions emit)
            for v in (src.var, dst.var):
                if v not in bound and re.search(
                    rf"\b{re.escape(v)}\.", inner_where
                ):
                    inner_refs.add(v)

        def node_sub(n: _NodePat) -> str | None:
            conds = [_label_cond("", lb) for lb in n.labels]
            conds += [f"{k} = {lit}" for k, lit in n.props]
            if not conds:
                return None
            return "SELECT ID FROM __NODES__ WHERE " + " AND ".join(conds)

        def leg(flipped: bool) -> str:
            # flipped: src binds the edge's END_ID (reversed orientation)
            scol, ecol = ("END_ID", "START_ID") if flipped else ("START_ID", "END_ID")
            from_sql = f"__RELS__ AS {ev}"
            conds = []
            for pat, col in ((src, scol), (dst, ecol)):
                if pat.var in bound:
                    conds.append(f"{ev}.{col} = {pat.var}.ID")
                elif pat.var in inner_refs:
                    # the inner WHERE reads this node's properties —
                    # join its table inside the subquery
                    from_sql += (
                        f" JOIN __NODES__ AS {pat.var} "
                        f"ON {pat.var}.ID = {ev}.{col}"
                    )
                    conds += [
                        _label_cond(f"{pat.var}.", lb) for lb in pat.labels
                    ]
                    conds += [
                        f"{pat.var}.{k} = {lit}" for k, lit in pat.props
                    ]
                elif sub := node_sub(pat):
                    conds.append(f"{ev}.{col} IN ({sub})")
            if tc := _type_cond(r, ev):
                conds.append(tc)
            conds.extend(_prop_conds(r, ev))
            if inner_where:
                conds.append(f"({inner_where})")
            where = " AND ".join(conds)
            if mode == "exists":
                return f"EXISTS (SELECT 1 FROM {from_sql} WHERE {where})"
            return f"(SELECT count(*) FROM {from_sql} WHERE {where})"

        if r.direction == "->":
            legs = [leg(False)]
        elif r.direction == "<-":
            legs = [leg(True)]
        else:
            legs = [leg(False), leg(True)]
        if mode == "exists":
            return "(" + " OR ".join(legs) + ")"
        return "(" + " + ".join(legs) + ")"

    def _pattern_comprehension(self, mode: str = "collect") -> str:
        """``[(a)-[r:T]->(m:L) WHERE pred | expr]`` — a per-row list
        built from a correlated pattern. Emitted as ONE correlated
        scalar subquery joining the rel scan to the target node scan
        (both engines decorrelate it into an aggregate + left join —
        no per-row execution). The list renders as the SORTED
        comma-joined string, the same documented divergence/convention
        as ``collect()``; an empty match is ``''`` (Cypher: ``[]``).
        ``mode='count'`` (the ``size([...])`` wrapper) returns the
        match count instead and ignores the projection's value.

        Scope (v1): single hop, one endpoint bound (either end — an
        end-anchored pattern is reversed), target node and relationship
        variables visible to WHERE and the projection."""
        src = self.node(anon_ok=True)
        chain: list[tuple[_RelPat, _NodePat]] = []
        while self.peek()[1] in ("-", "<-"):
            r_ = self.rel()
            n_ = self.node(anon_ok=True)
            chain.append((r_, n_))
        if len(chain) != 1:
            raise CypherUnsupported(
                "pattern comprehensions support exactly one relationship"
            )
        r, dst = chain[0]
        if r.is_varlength:
            raise CypherUnsupported(
                "variable-length pattern comprehensions are not supported"
            )
        bound = getattr(self, "_bound", set())
        if src.var not in bound and dst.var in bound:
            (src, dst), = [(dst, src)]
            r.direction = {"->": "<-", "<-": "->", "-": "-"}[r.direction]
        if src.var not in bound:
            raise CypherUnsupported(
                "a pattern comprehension needs a bound endpoint "
                f"({src.var!r} / {dst.var!r})"
            )
        if dst.var in bound:
            raise CypherUnsupported(
                "pattern comprehensions with both endpoints bound are "
                "not supported — use a COUNT {} / EXISTS {} subquery"
            )
        self._exists_n = getattr(self, "_exists_n", 0) + 1
        ev = r.var or f"_ex{self._exists_n}"
        dv = dst.var
        inner_where = None
        if self.accept("WHERE"):
            inner_where = self.expr()
        proj = "1"
        if mode == "collect":
            self.expect("|")
            saw = self._saw_agg
            proj = self.value()
            self._saw_agg = saw
        elif self.accept("|"):
            saw = self._saw_agg
            self.value()  # size([... | expr]): the value is irrelevant
            self._saw_agg = saw
        self.expect("]")

        scol, ecol = (
            ("END_ID", "START_ID") if r.direction == "<-"
            else ("START_ID", "END_ID")
        )
        rel_src = f"__RELS__ AS {ev}"
        if r.direction == "-":
            # symmetric closure; carry any rel props the projection or
            # WHERE references through the column-renaming union
            refs = set(re.findall(
                rf"\b{re.escape(ev)}\.(\w+)",
                f"{proj}\n{inner_where or ''}",
            )) | {k for k, _ in r.props}
            extra = "".join(f", {p}" for p in sorted(refs - _REL_VIEW_COLS))
            rel_src = (
                f"(SELECT START_ID, END_ID, TYPE{extra} FROM __RELS__"
                f" UNION ALL SELECT END_ID AS START_ID, START_ID AS"
                f" END_ID, TYPE{extra} FROM __RELS__) AS {ev}"
            )
        conds = [f"{ev}.{scol} = {src.var}.ID"]
        if tc := _type_cond(r, ev):
            conds.append(tc)
        conds.extend(_prop_conds(r, ev))
        conds += [_label_cond(f"{dv}.", lb) for lb in dst.labels]
        conds += [f"{dv}.{k} = {lit}" for k, lit in dst.props]
        if inner_where:
            conds.append(f"({inner_where})")
        where = " AND ".join(conds)
        if mode == "count":
            agg = "count(*)"
        elif self.dialect == "spark":
            agg = (
                f"coalesce(array_join(sort_array("
                f"collect_list({proj})), ','), '')"
            )
        else:
            agg = (
                f"coalesce(array_to_string(list_sort("
                f"list({proj})), ','), '')"
            )
        return (
            f"(SELECT {agg} FROM {rel_src} "
            f"JOIN __NODES__ AS {dv} ON {dv}.ID = {ev}.{ecol} "
            f"WHERE {where})"
        )

    def _at_pattern_comprehension(self) -> bool:
        """Lookahead at a ``[``: does a relationship pattern start just
        inside it? (vs a plain list literal whose first element is a
        parenthesized expression)"""
        if self.peek()[1] != "[":
            return False
        save = self.pos
        self.pos += 1
        try:
            return self._at_pattern_predicate()
        finally:
            self.pos = save

    def _at_pattern_predicate(self) -> bool:
        """Lookahead: does a bare relationship pattern start here —
        ``(v)-[…]``, ``(v)<-``, ``()-[…]``, ``(:L)…``, ``(v:L)…``,
        ``(v {…})…``? Disambiguates from a parenthesized expression:
        ``(x) - 1`` continues with a number, never ``[`` / ``-`` /
        ``<-``, and no expression contains ``name :`` or ``name {``."""
        t = self.toks
        if t[self.pos][1] != "(":
            return False
        i = self.pos + 1
        if t[i][1] in (":", "{") or (
            t[i][0] == "name" and t[i + 1][1] in (":", "{")
        ):
            # a labeled/propertied node start — but ``(n:P)`` with no
            # relationship after the close paren is a PARENTHESIZED
            # LABEL PREDICATE expression, not a pattern (fuzz-caught:
            # ``WHERE NOT (n:P)``); scan to the matching ')' and
            # require a dash to follow
            j, depth = self.pos, 0
            while j < len(t) - 1:
                if t[j][1] == "(":
                    depth += 1
                elif t[j][1] == ")":
                    depth -= 1
                    if depth == 0:
                        break
                j += 1
            return t[j][1] == ")" and t[j + 1][1] in ("-", "<-")
        if t[i][1] == ")":
            j = i + 1  # ()
        elif t[i][0] == "name":
            if t[i + 1][1] != ")":
                return False
            j = i + 2  # (v)
        else:
            return False
        if t[j][1] == "<-":
            return True
        return t[j][1] == "-" and j + 1 < len(t) and t[j + 1][1] in ("[", "-")

    def comparison(self) -> str:
        kind0, tok0 = self.peek()
        if kind0 == "name" and tok0.lower() == "exists":
            nxt = self.toks[self.pos + 1][1]
            if nxt == "(":
                self.next()
                self.expect("(")
                k2 = self.peek()
                if k2[0] == "name" and self.toks[self.pos + 1][1] == ".":
                    # legacy property-existence form exists(n.prop)
                    # (Neo4j ≤3.x surface) — sugar for IS NOT NULL
                    inner = self.value()
                    self.expect(")")
                    return f"({inner} IS NOT NULL)"
                out = self._exists_pattern()
                self.expect(")")
                return out
            if nxt == "{":
                # EXISTS { MATCH? (a)-[:T]->(b) } subquery form
                self.next()
                self.expect("{")
                self.accept("MATCH")
                out = self._exists_pattern()
                self.expect("}")
                return out
        if self._at_pattern_predicate():
            # bare pattern predicate: WHERE (a)-[:T]->() — sugar for
            # EXISTS (openCypher pattern-expression-as-boolean)
            return self._exists_pattern()
        if self.peek()[1] == "(":
            # boolean group `(a OR b)` vs arithmetic subexpression
            # `(x + y)[0] * 2`: scan the paren span for boolean/
            # comparison tokens — only a boolean group parses here
            # (value() cannot express OR/AND/comparisons); arithmetic
            # parens fall through to value(), which keeps postfix
            # accessors and operator continuation working
            depth = 0
            bdepth = 0  # [ ] nesting (list literals / comprehensions)
            mdepth = 0  # { } nesting (map literals)
            boolish = False
            prev_tx = ""
            for ti in range(self.pos, len(self.toks)):
                t = self.toks[ti]
                tx = t[1]
                if (
                    t[0] == "name"
                    and tx.lower() == "exists"
                    and prev_tx != "."
                    and ti + 1 < len(self.toks)
                    and self.toks[ti + 1][1] in ("(", "{")
                ):
                    # exists(n.prop) / EXISTS { … } inside the group is
                    # a BOOLEAN predicate — without this the group
                    # falls to value() and dies on the function
                    # whitelist (`WHERE NOT (exists(n.age))`, r10 fuzz)
                    boolish = True
                prev_tx = tx
                if tx == "(":
                    depth += 1
                elif tx == ")":
                    depth -= 1
                    if depth == 0:
                        break
                elif tx == "[":
                    bdepth += 1
                elif tx == "]":
                    bdepth -= 1
                elif tx == "{":
                    mdepth += 1
                elif tx == "}":
                    mdepth -= 1
                elif (
                    t[0] == "cmp"
                    or tx in ("AND", "OR", "NOT", "IS")
                    or (t[0] == "name" and tx.upper() == "XOR")
                    or (
                        bdepth == 0
                        and mdepth == 0
                        and (
                            tx == "IN"
                            # parenthesized label predicate `(n:P)` —
                            # map-literal colons sit inside { }
                            or tx == ":"
                            or (
                                t[0] == "name"
                                and tx.upper()
                                in ("STARTS", "ENDS", "CONTAINS")
                            )
                        )
                    )
                ):
                    boolish = True
            if boolish:
                self.next()
                inner = self.expr()
                self.expect(")")
                return f"({inner})"
        if (
            kind0 == "name"
            and self.toks[self.pos + 1][1] == ":"
            and tok0 in self.node_pat_vars
        ):
            # label predicate in expression position: `x:A`, `x:A:B`
            # (conjunction), `x:A|B` (disjunction) — tests the node's
            # LABELS array (checked BEFORE value(), which rewrites bare
            # node vars)
            left = self.next()[1]
            conds = []
            while self.accept(":"):
                ors = [self.expect_name(kw_ok=True)]
                while self.accept("|"):
                    ors.append(self.expect_name(kw_ok=True))
                alt = " OR ".join(
                    f"array_contains({left}.LABELS, '{lb}')" for lb in ors
                )
                conds.append(f"({alt})" if len(ors) > 1 else alt)
            joined = " AND ".join(conds)
            return f"({joined})" if len(conds) > 1 else conds[0]
        left = self.value()
        kind, tok = self.peek()
        if tok == "IS":
            self.next()
            if self.accept("NOT"):
                self.expect("NULL")
                return f"({left} IS NOT NULL)"
            self.expect("NULL")
            return f"({left} IS NULL)"
        if tok == "IN":
            self.next()
            if self.peek()[1] == "[":
                self.expect("[")
                items = [self.literal()]
                while self.accept(","):
                    items.append(self.literal())
                self.expect("]")
                return f"({left} IN ({', '.join(items)}))"
            # membership in an array-valued expression (a carried
            # alias, an array property, a $param list, labels(n)):
            # array_contains(haystack, needle) — shared surface.
            # _list_arg keeps labels() in ARRAY form here (the bare
            # accessor scalarizes to the comma-joined render — r10
            # probe find: `'Q' IN labels(n)` died on the string)
            arr = self._list_arg()
            return f"array_contains({arr}, {left})"
        if kind == "name" and tok.upper() in ("STARTS", "ENDS") and (
            self.toks[self.pos + 1][1] == "WITH"
        ):
            which = tok.upper()
            self.next()
            self.next()
            if self.peek()[0] == "str":
                lit, n = self._string_literal_with_len()
                if which == "STARTS":
                    # substring equality, not LIKE: no pattern-escape
                    # divergence between the dialects
                    return f"(substring({left}, 1, {n}) = {lit})"
                # an (n-char) literal can only equal an n-char substring,
                # so no explicit length guard is needed
                return (
                    f"(substring({left}, length({left}) - {n - 1}, {n})"
                    f" = {lit})"
                )
            # expression RHS (property, carried alias, $param): same
            # substring-equality shape with a runtime length. A longer
            # needle than haystack can never satisfy the equality (the
            # substring result is at most length(left) chars), so no
            # bounds guard is needed; NULL propagates as in Cypher.
            rhs = self.value()
            if which == "STARTS":
                return f"(substring({left}, 1, length({rhs})) = {rhs})"
            return (
                f"(substring({left}, length({left}) - length({rhs}) + 1, "
                f"length({rhs})) = {rhs})"
            )
        if kind == "name" and tok.upper() == "CONTAINS":
            self.next()
            if self.peek()[0] == "str":
                lit, _ = self._string_literal_with_len()
                # instr(haystack, needle) — identical name, argument
                # order, and 1-based/0-miss contract in Spark and DuckDB
                return f"(instr({left}, {lit}) > 0)"
            return f"(instr({left}, {self.value()}) > 0)"
        if kind != "cmp":
            # no operator: a bare boolean expression (openCypher allows
            # `WHERE n.flag` / `WHERE ALL(...)`) — the engine type-checks
            return left
        if tok == "=~":
            # Cypher regex match is FULL-string; both engines' regex
            # predicates search substrings, so anchor the pattern.
            # Literal patterns only: anchoring a runtime expression
            # would need string surgery in SQL. Spark compiles Java
            # regex, DuckDB RE2 — identical for the common subset
            # (classes, quantifiers, alternation, non-capturing groups).
            self.next()
            lit, _n = self._string_literal_with_len()
            anchored = f"'^(?:{lit[1:-1]})$'"
            if self.dialect == "spark":
                return f"({left} RLIKE {anchored})"
            return f"regexp_matches({left}, {anchored})"
        self.next()
        op = "<>" if tok == "!=" else tok
        prev = self.value()
        conds = [f"({left} {op} {prev})"]
        # Cypher chains comparison operators with conjunction semantics
        # (`0 < x < 10` means `0 < x AND x < 10`)
        while self.peek()[0] == "cmp" and self.peek()[1] != "=~":
            nop = self.next()[1]
            nop = "<>" if nop == "!=" else nop
            nxt = self.value()
            conds.append(f"({prev} {nop} {nxt})")
            prev = nxt
        if len(conds) == 1:
            return conds[0]
        return "(" + " AND ".join(conds) + ")"

    def _string_literal_with_len(self) -> tuple[str, int]:
        """A STRING literal operand (STARTS WITH / ENDS WITH /
        CONTAINS need its character length at transpile time, so
        params or expressions are not accepted here)."""
        kind, tok = self.next()
        if kind != "str":
            raise CypherUnsupported(
                "STARTS WITH / ENDS WITH / CONTAINS require a string "
                f"literal, got {tok!r}"
            )
        lit = _normalize_str_literal(tok)
        body = lit[1:-1]
        return lit, len(body) - body.count("''")

    # -- RETURN items --------------------------------------------------------
    _AGGS = ("COUNT", "SUM", "AVG", "MIN", "MAX")

    def return_item(self) -> tuple[str, str, bool]:
        """-> (sql_expr, alias, is_aggregate) — aggregate means an
        aggregate call appears ANYWHERE in the expression (Cypher's
        implicit-grouping rule), including nested in scalar functions
        or arithmetic, e.g. ``round(sum(x) / count(*), 2)``."""
        self._saw_agg = False
        start = self.pos
        k0, t0 = self.peek()
        t1 = self.toks[self.pos + 1][1].upper() if len(
            self.toks
        ) > self.pos + 1 else ""
        if (
            k0 == "name"
            and t0 in self.rel_pat_vars
            and t0 not in self.node_pat_vars
            and t0 not in self.vl_rel_vars
            and (self.aliases is None or t0 in self.post_vars)
            and t1 in (
                "", ",", "AS", "ORDER", "LIMIT", "SKIP", "WHERE",
                "RETURN", "WITH", "MATCH", "OPTIONAL", "UNWIND",
                "CALL", "UNION", "FOREACH",
            )
        ):
            # a bare fixed-length relationship variable as a whole
            # item. RETURN r projects the rel-object struct (no edge
            # identity needed — handled here, before expression
            # parsing, so the emission reads no identity column);
            # WITH r (carrying the rel) is unsupported.
            self.next()
            if not self._in_return:
                raise CypherUnsupported(
                    f"WITH {t0}: carrying a relationship variable "
                    "through WITH is not supported — carry its "
                    "properties / type(r) / id(r) as aliases"
                )
            expr = self._rel_object(t0, t0 not in self.und_rel_vars)
            alias = self.expect_name() if self.accept("AS") else t0
            return expr, alias, False
        # full boolean expression grammar: openCypher allows predicate
        # return items (`RETURN a < b AS x`, `exists(n.p)`, `n:Label`,
        # XOR chains) — not just arithmetic
        expr = self.expr()
        is_agg = self._saw_agg
        m = re.fullmatch(r"(COUNT|SUM|AVG|MIN|MAX)\(.*\)", expr)
        default_alias = m.group(1).lower() if m else expr.replace(".", "_")
        consumed = self.toks[start : self.pos]
        if (
            len(consumed) == 1
            and consumed[0][0] == "name"
            and expr == f"{consumed[0][1]}.ID"
        ):
            # a bare node variable (`WITH n, ...` / `RETURN n`) keeps
            # its own name as the alias, openCypher-style — so a later
            # `MATCH (n)-…` re-anchors on `n`, not on a synthetic n_ID
            default_alias = consumed[0][1]
        if (
            len(consumed) == 1
            and consumed == [("name", "_pathobj")]
            and getattr(self, "_path_var_name", None)
        ):
            # bare `RETURN p` (the whole-path struct): alias by the
            # source path variable name, not the spliced marker
            default_alias = self._path_var_name
        if self.accept("AS"):
            alias = self.expect_name()
        else:
            if (
                not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", default_alias)
                or default_alias.startswith("_path")
            ):
                if not self._in_return:
                    raise CypherUnsupported(
                        f"computed WITH item {expr!r} needs an "
                        "explicit AS alias (openCypher requires one "
                        "in WITH)"
                    )
                # openCypher auto-names computed RETURN items by their
                # expression text — reconstruct it from the consumed
                # tokens and emit as a quoted column name (both
                # engines strip the quoting, so the output column is
                # the bare expression text in Spark and DuckDB alike)
                alias = self._quoted_alias(_token_text(consumed))
            else:
                alias = default_alias
        return expr, alias, is_agg

    # -- full query ----------------------------------------------------------
    def _splice_pathlen(self, path_var: str) -> None:
        """Rewrite every remaining ``length(<path_var>)`` token run to
        the single scalar marker ``_pathlen`` (bound like an UNWIND
        alias so bare-name resolution applies); emission maps it to the
        per-branch path length / its MIN."""
        i = self.pos
        while i < len(self.toks) - 3:
            if (
                self.toks[i][0] == "name"
                and self.toks[i][1].lower() == "length"
                and self.toks[i + 1][1] == "("
                and self.toks[i + 2] == ("name", path_var)
                and self.toks[i + 3][1] == ")"
            ):
                self.toks[i : i + 4] = [("name", "_pathlen")]
            i += 1
        self.unwind_aliases.add("_pathlen")

    def _splice_varlength_path(self, path_var: str) -> None:
        """Bounded-varlength path binding: rewrite ``length(p)`` /
        ``nodes(p)`` token runs to the scalar markers ``_pathlen`` /
        ``_pathnodes`` — emitted as per-branch columns by
        ``_varlength_sql`` (the hop total is a per-branch constant; the
        node list is the branch's comma-joined node-id string, the same
        documented string-not-list divergence as ``collect()``). Any
        other use of the path variable raises."""
        i = self.pos
        while i < len(self.toks) - 3:
            if (
                self.toks[i][0] == "name"
                and self.toks[i][1].lower() in ("length", "nodes")
                and self.toks[i + 1][1] == "("
                and self.toks[i + 2] == ("name", path_var)
                and self.toks[i + 3][1] == ")"
            ):
                marker = (
                    "_pathlen"
                    if self.toks[i][1].lower() == "length"
                    else "_pathnodes"
                )
                self.toks[i : i + 4] = [("name", marker)]
            i += 1
        for k, t in ((tt[0], tt[1]) for tt in self.toks[self.pos :]):
            if (k, t) == ("name", path_var):
                raise CypherUnsupported(
                    f"path variable {path_var!r} supports only "
                    f"length({path_var}) and nodes({path_var})"
                )
        self.unwind_aliases.update({"_pathlen", "_pathnodes"})

    def _parse_order_tail(
        self, items: list[tuple[str, str, bool]]
    ) -> tuple[list[tuple[str, str]], str | None, str | None]:
        """``[ORDER BY …] [SKIP n] [LIMIT n]`` after a RETURN or WITH
        projection. A bare name references an item alias; var.prop maps
        through _order_ref; ``name(`` / ``name{`` starts a full
        expression (``ORDER BY count(*) DESC``) that must match an
        item textually — the sort runs over the projected aliases, so
        an unmatched expression has nothing to bind to out there."""
        order: list[tuple[str, str]] = []
        if self.accept("ORDER"):
            self.expect("BY")
            while True:
                kind, tok = self.peek()
                if kind != "name":
                    raise CypherSyntaxError(f"ORDER BY expects a name, got {tok!r}")
                if (
                    self.pos + 1 < len(self.toks)
                    and self.toks[self.pos + 1][1] in ("(", "{")
                ):
                    saw = self._saw_agg
                    e = self.value()
                    self._saw_agg = saw
                    # fresh per-parse subquery aliases (_ex1, _an2 …)
                    # must not defeat the textual match — normalize
                    # both sides before comparing, then adopt the
                    # matching ITEM's expr so emission maps to its alias
                    norm = lambda s: re.sub(r"_(ex|an)\d+", r"_\1", s)
                    matched = next(
                        (ie for ie, _a, _g in items if norm(ie) == norm(e)),
                        None,
                    )
                    # an unmatched expression is openCypher's
                    # sort-by-non-projected-expression form — legal
                    # without DISTINCT/aggregation; _order_limit_tail
                    # emits it at projection level (and raises there
                    # when DISTINCT/aggregates make it unresolvable)
                    if matched is not None:
                        e = matched
                else:
                    name = self.expect_name()
                    if self.accept("."):
                        raw = self.expect_name(kw_ok=True)
                        if self._missing_prop(name, raw):
                            # openCypher: sorting on a property no
                            # entity has orders by NULL (a no-op key)
                            e = "NULL"
                        else:
                            e = f"{name}.{self._ident(raw)}"
                    else:
                        e = name
                    if self.peek()[1] == "[":
                        # ORDER BY xs[0] / xs[a..b] — postfix index or
                        # slice over a projected list alias
                        e = self._postfix_index(e)
                    if self.peek()[1] in ("+", "-", "*", "/", "%", "^"):
                        # arithmetic continuation (ORDER BY n.age % 2,
                        # ORDER BY i + 2 * 3): fold the parsed head
                        # back through the expression grammar's
                        # precedence levels — ^ (right-assoc) > * / %
                        # > + - — so mixed operators sort by the same
                        # value the projection would compute (a flat
                        # left fold would emit ((i + 2) * 3))
                        saw = self._saw_agg
                        if self.peek()[1] == "^":
                            self.next()
                            e = f"power({e}, {self._pow_factor()})"
                        while self.peek()[1] in ("*", "/", "%"):
                            op = self.next()[1]
                            e = f"({e} {op} {self._pow_factor()})"
                        while self.peek()[1] in ("+", "-"):
                            op = self.next()[1]
                            e = f"({e} {op} {self.term()})"
                        self._saw_agg = saw
                direction = "DESC" if self.accept("DESC") else ("ASC" if self.accept("ASC") else "ASC")
                order.append((e, direction))
                if not self.accept(","):
                    break
        skip = limit = None
        if self.accept("SKIP"):
            skip = self.expect_count("SKIP")
        if self.accept("LIMIT"):
            limit = self.expect_count("LIMIT")
        return order, skip, limit

    def _splice_relvar_unwind(self, rel_var: str) -> list[str]:
        """``UNWIND r AS e`` over a BOUNDED varlength rel binding (r7):
        consume the UNWIND tokens and rewrite every ``e.prop`` to the
        ``_rup_<prop>`` marker — the branch emission fans each
        length-L branch into L per-hop copies, each projecting hop k's
        relationship properties under those markers (openCypher: one
        row per relationship of the path, in path order). Returns the
        referenced property names ([] when no such UNWIND exists).
        Bare uses of the iteration variable (``RETURN e``) raise — a
        relationship has no scalar form; project ``e.prop``."""
        alias = None
        i = self.pos
        while i < len(self.toks) - 3:
            if (
                self.toks[i][1] == "UNWIND"
                and self.toks[i + 1][:2] == ("name", rel_var)
                and self.toks[i + 2][1] == "AS"
                and self.toks[i + 3][0] == "name"
            ):
                alias = self.toks[i + 3][1]
                del self.toks[i : i + 4]
                break
            i += 1
        if alias is None:
            return []
        props: set[str] = set()
        i = self.pos
        while i < len(self.toks) - 2:
            if (
                self.toks[i][:2] == ("name", alias)
                and self.toks[i + 1][1] == "."
            ):
                p = self.toks[i + 2]
                prop = p[2] if p[0] == "kw" else p[1]
                props.add(prop)
                self.toks[i : i + 3] = [("name", f"_rup_{prop}")]
            i += 1
        for k, t in ((tt[0], tt[1]) for tt in self.toks[self.pos :]):
            if (k, t) == ("name", alias):
                raise CypherUnsupported(
                    f"UNWIND {rel_var} AS {alias}: a relationship has no "
                    f"scalar form — project {alias}.<prop>"
                )
        self.unwind_aliases.update(f"_rup_{p}" for p in props)
        return sorted(props)

    def _splice_relcount(self, rel_var: str) -> None:
        """Bounded-varlength rel binding ``-[r:T*1..3]->``: rewrite
        ``size(r)`` / ``length(r)`` token runs to the per-branch
        ``_pathlen`` marker (the branch hop total — exactly the
        relationship count of the matched path). Any other use of the
        variable raises: it would denote the relationship LIST."""
        i = self.pos
        while i < len(self.toks) - 3:
            if (
                self.toks[i][0] == "name"
                and self.toks[i][1].lower() in ("size", "length")
                and self.toks[i + 1][1] == "("
                and self.toks[i + 2] == ("name", rel_var)
                and self.toks[i + 3][1] == ")"
            ):
                self.toks[i : i + 4] = [("name", "_pathlen")]
            i += 1
        for k, t in ((tt[0], tt[1]) for tt in self.toks[self.pos :]):
            if (k, t) == ("name", rel_var):
                raise CypherUnsupported(
                    f"variable-length relationship {rel_var!r} supports "
                    f"only size({rel_var}) / length({rel_var}) — the "
                    "relationship list itself is not materialized"
                )
        self.unwind_aliases.update({"_pathlen", "_pathnodes"})

    def _splice_plain_path(
        self, path_var: str, nodes: list[_NodePat], rels: list[_RelPat]
    ) -> dict[str, str]:
        """Plain fixed-length path binding ``p = (a)-[..]->(b)..``:
        rewrite ``length(p)`` / ``nodes(p)`` token runs to scalar
        markers and return the SQL substitutions applied to the final
        emitted query. ``length(p)`` is the (constant) relationship
        count, emitted as ``(0 + n)`` so an implicit GROUP BY never
        reads it as a positional ordinal; ``nodes(p)`` is the
        comma-joined node-id string (``concat_ws`` — identical in both
        dialects; same documented string-not-list divergence as
        ``collect()``).

        r8 widening — the hop slots of a PLAIN path are statically
        known, so path values unroll with zero extra joins:

        - ``[x IN nodes(p) | body]`` / ``[x IN relationships(p) |
          body]`` → an array literal with the body compiled once per
          hop slot (the iteration variable substituted by the slot's
          node/rel alias);
        - bare ``relationships(p)`` → an array of rel-object structs
          (same shape as ``RETURN r``);
        - bare ``p`` as a whole item → a path struct
          ``{nodes: [ids…], length: n}`` (documented divergence:
          Neo4j renders a full path object).

        Any other use of the path variable raises."""
        self._path_var_name = path_var
        subs: dict[str, str] = {}
        markers: set[str] = set()

        def _arr(elems: list[str]) -> str:
            body = ", ".join(elems)
            return (
                f"array({body})"
                if self.dialect == "spark"
                else f"[{body}]"
            )

        def _body_per_slot(
            body: list, iter_var: str, slot_vars: list[str]
        ) -> list[str]:
            out = []
            for sv in slot_vars:
                toks = [
                    ("name", sv) if (k == "name" and t == iter_var) else (k, t)
                    for k, t in ((tt[0], tt[1]) for tt in body)
                ]
                sub = _Parser._from_tokens(toks, self.dialect, self.node_props)
                sub.rel_props = self.rel_props
                sub.prop_types = self.prop_types
                expr = sub.expr()
                if sub.peek()[1] != "":
                    raise CypherUnsupported(
                        f"unsupported expression in a path "
                        f"comprehension body over {path_var!r}"
                    )
                out.append(expr)
            return out

        # pattern: [ x IN nodes(p) | body ] / [ x IN relationships(p) | body ]
        i = self.pos
        comp_n = 0
        while i < len(self.toks) - 8:
            t = self.toks
            if (
                t[i][1] == "["
                and t[i + 1][0] == "name"
                and t[i + 2][1] == "IN"
                and t[i + 3][0] == "name"
                and t[i + 3][1].lower() in ("nodes", "relationships")
                and t[i + 4][1] == "("
                and (t[i + 5][0], t[i + 5][1]) == ("name", path_var)
                and t[i + 6][1] == ")"
                and t[i + 7][1] == "|"
            ):
                # find the matching close bracket
                depth, j = 1, i + 8
                while j < len(t) and depth:
                    if t[j][1] == "[":
                        depth += 1
                    elif t[j][1] == "]":
                        depth -= 1
                    j += 1
                if depth:
                    raise CypherSyntaxError(
                        "unclosed path comprehension bracket"
                    )
                iter_var = t[i + 1][1]
                over_rels = t[i + 3][1].lower() == "relationships"
                body = list(t[i + 8 : j - 1])
                if over_rels:
                    for ri, r in enumerate(rels):
                        if not r.var:
                            r.var = f"_pr{ri}"
                    slot_vars = [r.var for r in rels]
                else:
                    slot_vars = [n.var for n in nodes]
                marker = f"_pathcomp{comp_n}"
                comp_n += 1
                subs[marker] = _arr(
                    _body_per_slot(body, iter_var, slot_vars)
                )
                markers.add(marker)
                self.toks[i:j] = [("name", marker)]
            i += 1
        # pattern: bare relationships(p) → array of rel-object structs
        i = self.pos
        while i < len(self.toks) - 3:
            t = self.toks
            if (
                t[i][0] == "name"
                and t[i][1].lower() == "relationships"
                and t[i + 1][1] == "("
                and (t[i + 2][0], t[i + 2][1]) == ("name", path_var)
                and t[i + 3][1] == ")"
            ):
                for ri, r in enumerate(rels):
                    if not r.var:
                        r.var = f"_pr{ri}"
                subs["_pathrels"] = _arr(
                    [
                        self._rel_object(r.var, r.direction != "-")
                        for r in rels
                    ]
                )
                markers.add("_pathrels")
                self.toks[i : i + 4] = [("name", "_pathrels")]
            i += 1
        # pattern: length(p) / nodes(p)
        i = self.pos
        while i < len(self.toks) - 3:
            if (
                self.toks[i][0] == "name"
                and self.toks[i][1].lower() in ("length", "nodes")
                and self.toks[i + 1][1] == "("
                and self.toks[i + 2] == ("name", path_var)
                and self.toks[i + 3][1] == ")"
            ):
                marker = (
                    "_pathconst"
                    if self.toks[i][1].lower() == "length"
                    else "_pathnodes"
                )
                self.toks[i : i + 4] = [("name", marker)]
            i += 1
        # pattern: bare `p` as a whole item → the path struct
        i = self.pos
        _BOUND = {
            "", ",", "AS", "ORDER", "LIMIT", "SKIP", "RETURN", "WITH",
        }
        while i < len(self.toks):
            if (self.toks[i][0], self.toks[i][1]) == ("name", path_var):
                nxt = (
                    self.toks[i + 1][1]
                    if i + 1 < len(self.toks)
                    else ""
                )
                if nxt not in _BOUND:
                    raise CypherUnsupported(
                        f"path variable {path_var!r} supports "
                        f"length()/nodes()/relationships() accessors, "
                        f"comprehensions over them, and whole-item "
                        f"projection — not this use"
                    )
                id_arr = _arr([f"{n.var}.ID" for n in nodes])
                if self.dialect == "spark":
                    subs["_pathobj"] = (
                        f"named_struct('nodes', {id_arr}, "
                        f"'length', {len(rels)})"
                    )
                else:
                    subs["_pathobj"] = (
                        f"struct_pack(nodes := {id_arr}, "
                        f"length := {len(rels)})"
                    )
                markers.add("_pathobj")
                self.toks[i] = ("name", "_pathobj")
            i += 1
        self.unwind_aliases.update({"_pathconst", "_pathnodes"} | markers)
        id_list = ", ".join(f"{n.var}.ID" for n in nodes)
        subs["_pathconst"] = f"(0 + {len(rels)})"
        subs["_pathnodes"] = f"concat_ws(',', {id_list})"
        return subs

    def _shortest_prefix(self):
        """``[p =] shortestPath( pattern )`` after MATCH; returns
        (shortest, path_var, nodes, rels) — or None if the MATCH is a
        plain pattern."""
        k0, t0 = self.peek()
        path_var = None
        sp_words = ("shortestpath", "allshortestpaths")
        if (
            k0 == "name"
            and t0.lower() not in sp_words
            and self.toks[self.pos + 1][1] == "="
        ):
            path_var = t0
            self.pos += 2
            k0, t0 = self.peek()
        if not (k0 == "name" and t0.lower() in sp_words):
            if path_var is not None:
                # plain fixed-length path binding: parse() splices the
                # supported path functions after the pattern is known
                self._plain_path = path_var
            return None
        all_paths = t0.lower() == "allshortestpaths"
        self.next()
        self.expect("(")
        nodes, rels = self.pattern()
        self.expect(")")
        if len(nodes) < 2:
            raise CypherSyntaxError("shortestPath needs a two-endpoint pattern")
        if any(r.is_unbounded for r in rels):
            # unbounded shortestPath((a)-[:T*]->(b)) — BFS level via the
            # recursive CTE's min-hops per endpoint pair; inherently
            # multiplicity-insensitive, so it always runs in
            # distinct-frontier mode (linear per hop)
            if all_paths:
                raise CypherUnsupported(
                    "allShortestPaths needs a bounded pattern (*a..b) — "
                    "unbounded path multiplicity is walk enumeration"
                )
            if len(rels) != 1:
                raise CypherUnsupported(
                    "unbounded shortestPath supports a single "
                    "variable-length segment"
                )
        else:
            for r in rels:
                if not r.is_varlength:
                    raise CypherUnsupported(
                        "shortestPath needs a bounded variable-length "
                        "pattern (-[:T*a..b]->)"
                    )
        if path_var is not None:
            self._splice_pathlen(path_var)
        return (all_paths, path_var, nodes, rels)

    def _range_call(self) -> str:
        """``range(a, b[, step])`` with the ``range`` name consumed —
        Cypher's INCLUSIVE integer range. Spark ``sequence`` and DuckDB
        ``generate_series`` share those semantics exactly (DuckDB's
        ``range`` is end-exclusive, hence the spelling split)."""
        self.expect("(")
        args = [self.value()]
        while self.accept(","):
            args.append(self.value())
        self.expect(")")
        if not 2 <= len(args) <= 3:
            raise CypherSyntaxError("range() takes (start, end[, step])")
        name = "sequence" if self.dialect == "spark" else "generate_series"
        return f"{name}({', '.join(args)})"

    def _unwind_source(self, bound: set[str]) -> tuple[str, str]:
        """One UNWIND source: ``labels(var)`` (bound var), a list
        literal ``[a, b, …]``, or a ``$param`` bound to a list —
        returns ``(array_sql, alias)`` in the active dialect."""
        kind, tok = self.peek()
        if tok == "[":
            self.next()
            items: list[str] = []

            def _elem() -> str:
                # a literal, or ONE level of nested list literal
                # (UNWIND [[1,2],[3,4]] AS pair — the pair rows then
                # take index access)
                if self.peek()[1] == "[":
                    self.next()
                    sub = [self.literal()]
                    while self.accept(","):
                        sub.append(self.literal())
                    self.expect("]")
                    body = ", ".join(sub)
                    return (
                        f"array({body})"
                        if self.dialect == "spark"
                        else f"[{body}]"
                    )
                return self.literal()

            if self.peek()[1] != "]":
                items.append(_elem())
                while self.accept(","):
                    items.append(_elem())
            self.expect("]")
            if not items:
                raise CypherUnsupported("UNWIND of an empty list literal")
            body = ", ".join(items)
            arr = f"array({body})" if self.dialect == "spark" else f"[{body}]"
        elif kind == "param":
            self.next()
            arr = self._param_marker(tok)
        elif kind == "name" and self.toks[self.pos + 1][1] == "(":
            fn = self.expect_name()
            if fn.lower() == "range":
                arr = self._range_call()
            elif fn.lower() == "labels":
                self.expect("(")
                uvar = self.expect_name()
                if uvar not in bound:
                    raise CypherSyntaxError(f"labels({uvar}): unbound variable")
                self.expect(")")
                arr = f"{uvar}.LABELS"
            else:
                raise CypherUnsupported(
                    f"UNWIND supports labels(var), range(a, b), a list "
                    f"literal, or a $param — got {fn!r}(...)"
                )
        elif (
            kind == "name"
            and self.aliases is not None
            and tok in self.aliases
        ):
            # a list-valued alias from a leading WITH
            self.next()
            arr = tok
        elif (
            kind == "name"
            and tok in bound
            and self.toks[self.pos + 1][1] == "."
        ):
            # r9: UNWIND var.prop — a node's ARRAY property (the
            # array-column explode, e.g. UNWIND n.tags AS tag)
            self.next()
            self.expect(".")
            prop = self._ident(self.expect_name(kw_ok=True))
            arr = f"{tok}.{prop}"
        else:
            raise CypherUnsupported(
                "UNWIND supports labels(var), var.listProp, "
                "range(a, b), a list literal, a $param, or a "
                "leading-WITH alias"
            )
        self.expect("AS")
        alias = self.expect_name()
        self.unwind_aliases.add(alias)
        # UNWIND over an array<string> column / labels(): rows are
        # strings — size(alias)/isEmpty(alias) dispatch to length()
        if arr.endswith(".LABELS"):
            self.string_vars.add(alias)
        else:
            self._bind_string_iter(alias, arr)
        return arr, alias

    def _parse_call_subquery(self) -> dict:
        """``CALL { [WITH imports] <inner query> }`` — openCypher
        subqueries (the reference gets them free via Neo4j,
        TransactionApiJob.java:41-220). The caller has already ensured
        ``self.aliases`` is a live stage scope (synthesizing the
        implicit ``WITH *`` stage when CALL directly follows MATCH).

        Forms, classified here and compiled by ``_call_stage_sql``:

        - **cross** (no imports): the body is a complete query compiled
          by the ordinary single-query emitter and CROSS JOINed —
          openCypher's execute-once semantics.
        - **flat** (imports, no aggregate/DISTINCT/LIMIT): the inner
          pattern joins the stage frame directly, anchored on the
          imported node's id column — per-row multiplicity is the
          join's.
        - **derived** (imports + aggregate, DISTINCT, or ORDER
          BY/LIMIT): the inner pattern compiles to a derived table
          keyed on the single imported node's id (grouped aggregate /
          DISTINCT / row_number top-k) and joins back on that key —
          Spark decorrelates lateral aggregates to exactly this shape,
          so it is emitted directly (and identically for the DuckDB
          oracle). A pure-aggregate body LEFT-joins (openCypher: one
          row per input row even on empty match) with count/sum
          coalesced to 0.
        """
        self.expect("CALL")
        self.expect("{")
        imports: list[str] = []
        if self.peek()[1] == "WITH":
            self.next()
            imports.append(self.expect_name())
            while self.accept(","):
                imports.append(self.expect_name())
            for im in imports:
                if im not in self.aliases:
                    raise CypherUnsupported(
                        f"CALL {{ WITH {im} }} imports a variable not in "
                        f"scope (have: {sorted(self.aliases)})"
                    )
        # slice the body tokens up to the matching '}'
        depth, end = 1, self.pos
        while end < len(self.toks):
            t = self.toks[end][1]
            if t == "{":
                depth += 1
            elif t == "}":
                depth -= 1
                if depth == 0:
                    break
            elif t == "":
                raise CypherSyntaxError("unterminated CALL { subquery")
            end += 1
        body = self.toks[self.pos : end]
        self.pos = end + 1
        bdepth = 0
        for t in body:
            if t[1] in ("{", "("):
                bdepth += 1
            elif t[1] in ("}", ")"):
                bdepth -= 1
            elif bdepth == 0 and t[1] == "UNION":
                raise CypherUnsupported(
                    "UNION inside CALL { } is not supported"
                )
        node_imports = [i for i in imports if i in self.carried_nodes]
        scalar_imports = [i for i in imports if i not in self.carried_nodes]
        sub = _Parser._from_tokens(body, self.dialect, self.node_props)
        sub.rel_id = self.rel_id
        sub.prop_types = self.prop_types
        # scalar imports behave as bound scalars inside the body
        sub.unwind_aliases = set(scalar_imports)
        sub_ast = sub.parse()
        self.params_used |= sub.params_used
        inner_aliases = [a for _, a, _ in sub_ast["items"]]
        clash = set(inner_aliases) & set(self.aliases)
        if clash:
            raise CypherUnsupported(
                f"CALL {{ }} RETURN aliases shadow enclosing variables: "
                f"{sorted(clash)}"
            )
        if not imports:
            el = {
                "kind": "call",
                "form": "cross",
                "sub_parser": sub,
                "sub_ast": sub_ast,
                "aliases": inner_aliases,
                "stage_aliases": sorted(self.aliases),
            }
            self.aliases = set(self.aliases) | set(inner_aliases)
            return el
        # ---- correlated: restricted to one fixed-length chain -------
        if (
            sub_ast["withs"]
            or sub_ast["pipeline"]
            or sub_ast["optionals"]
            or sub_ast["unwinds"]
            or sub_ast["shortest"]
            or sub_ast["lead_with"]
        ):
            raise CypherUnsupported(
                "a correlated CALL { WITH .. } body supports a single "
                "MATCH [WHERE] RETURN block (no WITH/OPTIONAL/UNWIND "
                "pipelines inside, v1)"
            )
        if len(sub_ast["chains"]) != 1:
            raise CypherUnsupported(
                "comma-separated patterns inside CALL { } are not "
                "supported"
            )
        nodes, rels = sub_ast["nodes"], sub_ast["rels"]
        if any(r.is_varlength for r in rels):
            raise CypherUnsupported(
                "variable-length patterns inside CALL { } are not "
                "supported"
            )
        for n in nodes:
            if n.var in self.aliases and n.var not in imports:
                raise CypherUnsupported(
                    f"CALL {{ }} pattern variable {n.var!r} shadows an "
                    "enclosing variable — import it with WITH or rename"
                )
        if not rels:
            raise CypherUnsupported(
                "a correlated CALL { } body needs a relationship pattern"
            )
        if nodes[0].var not in node_imports:
            if nodes[-1].var in node_imports:
                nodes, rels = _reverse_chain(nodes, rels)
            else:
                raise CypherUnsupported(
                    "a correlated CALL { } pattern must start or end at "
                    f"an imported node variable ({node_imports})"
                )
        items = sub_ast["items"]
        order, skip, limit = (
            sub_ast["order"], sub_ast["skip"], sub_ast["limit"]
        )
        has_agg = any(g for _, _, g in items)
        if limit is not None and not order:
            raise CypherUnsupported(
                "LIMIT inside CALL { } requires ORDER BY (a deterministic "
                "per-row top-k)"
            )
        if not order:
            skip = None  # order-free SKIP is as nondeterministic
        elif limit is None and skip is None:
            # row order is not observable through the CALL boundary —
            # the enclosing query's ORDER BY governs output order
            order = []
        for e, _a, g in items:
            if g and re.match(r"(?is)^\s*collect\s*\(", e):
                raise CypherUnsupported(
                    "collect() inside CALL { } is not supported (v1)"
                )
        form = "flat"
        if has_agg or sub_ast["distinct"] or limit is not None:
            form = "derived"
            if has_agg and limit is not None:
                raise CypherUnsupported(
                    "ORDER BY/LIMIT combined with aggregates inside "
                    "CALL { } is not supported"
                )
            if sub_ast["distinct"] and limit is not None:
                raise CypherUnsupported(
                    "DISTINCT combined with LIMIT inside CALL { } is "
                    "not supported (v1)"
                )
            if len(node_imports) != 1 or scalar_imports:
                raise CypherUnsupported(
                    "an aggregating/DISTINCT/LIMIT CALL { } body supports "
                    "exactly one imported node variable (the grouping key)"
                )
        el = {
            "kind": "call",
            "form": form,
            "nodes": nodes,
            "rels": rels,
            "where": sub_ast["where"],
            "items": items,
            "distinct": sub_ast["distinct"],
            "order": order,
            "skip": skip,
            "limit": limit,
            "aliases": inner_aliases,
            "imports": imports,
            "node_imports": node_imports,
            "scalar_imports": scalar_imports,
            "pure_agg": has_agg and all(g for _, _, g in items),
            "stage_aliases": sorted(self.aliases),
            "rel_id": self.rel_id,
        }
        self.aliases = set(self.aliases) | set(inner_aliases)
        return el

    def parse(self) -> dict:
        #: WHERE clauses attached to non-final MATCH clauses (ANDed
        #: into the main filter — conjunctive equivalence)
        self._inter_wheres: list[str] = []
        # leading WITH (no MATCH): a one-row constant projection — the
        # reference's headline benchmark shape (MANIFESTO.md:239-242:
        # WITH [...rand()...] AS fauxEmbedding UNWIND range(...) ...)
        # leading CALL { } (r7): the canonical uncorrelated-subquery
        # opener — the body executes once and its result frame is the
        # query's FROM source (CROSS JOINed in front of a following
        # MATCH pattern). Imports are impossible at query start (empty
        # scope), which _parse_call_subquery enforces.
        lead_call = None
        if self.peek()[1] == "CALL" and self.toks[self.pos + 1][1] == "{":
            self.aliases = set()
            lead_call = self._parse_call_subquery()
            self.unwind_aliases.update(lead_call["aliases"])
            self.aliases = None
        lead_with: list[tuple[str, str, bool]] = []
        if self.peek()[1] == "WITH":
            self.next()
            lead_with = [self.return_item()]
            while self.accept(","):
                lead_with.append(self.return_item())
            if any(g for _, _, g in lead_with):
                raise CypherUnsupported(
                    "aggregates in a leading WITH are not supported"
                )
            self.aliases = {a for _, a, _ in lead_with}
            self.struct_aliases = {
                a
                for e, a, _ in lead_with
                if e.startswith(("named_struct(", "struct_pack("))
            }
            self.list_aliases = {
                a for e, a, _ in lead_with if self._is_list_expr(e)
            }
            self.string_list_aliases = {
                a for e, a, _ in lead_with if self._is_string_list_expr(e)
            }
            if self.peek()[1] not in ("UNWIND", "RETURN", "MATCH", "OPTIONAL"):
                raise CypherUnsupported(
                    "a leading WITH must be followed by MATCH, OPTIONAL "
                    "MATCH, UNWIND or RETURN (it is a constant projection)"
                )
        lead_unwinds: list[tuple[str, str]] = []
        while self.accept("UNWIND"):
            lead_unwinds.append(self._unwind_source(set()))
        lead_optional = False
        if (
            self.peek()[1] == "OPTIONAL"
            and self.toks[self.pos + 1][1] == "MATCH"
        ):
            # leading OPTIONAL MATCH — no bound anchor: the pattern
            # parses as a plain MATCH and emission LEFT-JOINs its whole
            # join tree to a 1-row anchor (the lead WITH/CALL frame when
            # present), so a failed match still yields one all-NULL row
            # (openCypher: OPTIONAL MATCH at query start)
            if lead_unwinds:
                raise CypherUnsupported(
                    "UNWIND before a leading OPTIONAL MATCH is not "
                    "supported — put the OPTIONAL MATCH first"
                )
            lead_optional = True
            self.next()
        if lead_with and self.peek()[1] == "MATCH":
            # constants from the leading WITH join the pattern scope as
            # scalar aliases (the `WITH 3 AS k MATCH … WHERE x < k`
            # parameter idiom); emission CROSS JOINs the 1-row constant
            # projection into the FROM (broadcast-trivial)
            if lead_unwinds:
                raise CypherUnsupported(
                    "UNWIND between a leading WITH and MATCH is not "
                    "supported — put UNWIND after the MATCH"
                )
            self.unwind_aliases.update(a for _, a, _ in lead_with)
            self.aliases = None
        if (
            lead_unwinds
            or lead_with
            or lead_call
            or self.peek()[1] == "RETURN"
        ) and self.peek()[1] != "MATCH":
            # UNWIND-only query (batch-lookup shape) or a standalone
            # RETURN (one-row expression evaluation): no graph pattern
            shortest, path_var = False, None
            chains: list[tuple[list[_NodePat], list[_RelPat]]] = []
            chain_groups: list[int] = []
            nodes, rels = [], []
            sp = None
        else:
            self.expect("MATCH")
            sp = self._shortest_prefix()
            if sp is not None:
                if lead_optional:
                    raise CypherUnsupported(
                        "shortestPath under a leading OPTIONAL MATCH "
                        "is not supported"
                    )
                all_paths, path_var, nodes, rels = sp
                shortest = True
                chains = [(nodes, rels)]
                chain_groups = [0]
            else:
                shortest, path_var = False, None
                chains = self.patterns()
                # clause-group ids parallel to chains: Cypher's
                # relationship-uniqueness rule is scoped to ONE MATCH
                # clause, so _multi_chain must know which comma-patterns
                # shared a clause and which came from a later MATCH
                chain_groups = [0] * len(chains)
                # consecutive MATCH clauses: conjunctive, same semantics
                # as comma-separated patterns (shared vars join). A
                # WHERE attached to a non-final MATCH clause is ANDed
                # into the global filter — with inner joins the two are
                # equivalent (Cypher's clause-local filtering commutes
                # across conjunctive clauses).
                grp = 0
                while not getattr(self, "_plain_path", None):
                    if self.peek()[1] == "MATCH":
                        if lead_optional:
                            raise CypherUnsupported(
                                "MATCH after a leading OPTIONAL MATCH "
                                "is not supported — put the MATCH first"
                            )
                        self.next()
                        sp2 = self._shortest_prefix()
                        if sp2 is not None:
                            # ``MATCH (a {…}), (b {…}) MATCH p =
                            # shortestPath((a)-[*]->(b))`` — the
                            # canonical Neo4j anchor idiom (r11). The
                            # anchors MERGE into the shortestPath
                            # pattern's endpoints (label/prop
                            # conjunction), which the single-clause
                            # emission already compiles; anything
                            # beyond bare node anchors refuses.
                            if self._inter_wheres:
                                raise CypherUnsupported(
                                    "shortestPath after a MATCH "
                                    "clause: put the WHERE after the "
                                    "shortestPath clause (or fold it "
                                    "into the anchor property maps)"
                                )
                            _, path_var, sp_nodes, sp_rels = sp2
                            all_paths = sp2[0]
                            by_v = {
                                n.var: n for n in sp_nodes if n.var
                            }
                            for cn, cr in chains:
                                if len(cn) != 1 or cr:
                                    raise CypherUnsupported(
                                        "shortestPath after a MATCH "
                                        "clause: the preceding MATCH "
                                        "must bind only node anchors "
                                        "(no relationship patterns)"
                                    )
                                pn = cn[0]
                                tgt = by_v.get(pn.var)
                                if tgt is None:
                                    raise CypherUnsupported(
                                        "shortestPath after a MATCH "
                                        f"clause: anchor {pn.var!r} "
                                        "does not appear in the "
                                        "shortestPath pattern"
                                    )
                                tgt.labels.extend(
                                    lb
                                    for lb in pn.labels
                                    if lb not in tgt.labels
                                )
                                have = {k for k, _ in tgt.props}
                                tgt.props.extend(
                                    (k, v)
                                    for k, v in pn.props
                                    if k not in have
                                )
                            shortest = True
                            chains = [(sp_nodes, sp_rels)]
                            chain_groups = [0]
                            break  # final pattern clause
                        grp += 1
                        more = self.patterns()
                        chains.extend(more)
                        chain_groups.extend([grp] * len(more))
                        continue
                    if self.peek()[1] == "WHERE":
                        # consume only when another MATCH follows —
                        # otherwise it is the main clause filter
                        # (parsed after OPTIONAL MATCH below). Decide
                        # by TOKEN SCAN, not a speculative expr parse:
                        # the expr may reference markers (size(r) on a
                        # varlength binding) that are spliced in only
                        # after the full pattern block is collected.
                        # MATCH inside EXISTS{}/COUNT{} subqueries sits
                        # at bracket depth > 0 and does not count.
                        depth, follows_match = 0, False
                        for t in self.toks[self.pos + 1 :]:
                            tx = t[1]
                            if tx in ("{", "("):
                                depth += 1
                            elif tx in ("}", ")"):
                                depth -= 1
                            elif depth == 0 and tx in (
                                "MATCH", "OPTIONAL", "RETURN",
                                "WITH", "UNWIND", "",
                            ):
                                # a WHERE before another MATCH or an
                                # OPTIONAL MATCH is the preceding
                                # clause's filter — consumable here
                                # (filtering main rows before vs after
                                # the optional LEFT join is equivalent:
                                # the predicate sees only main vars)
                                follows_match = tx in ("MATCH", "OPTIONAL")
                                break
                        if follows_match:
                            self.next()
                            self._bound = {
                                n.var for cn, _ in chains for n in cn
                            }
                            self._inter_wheres.append(self.expr())
                            continue
                    break
                nodes, rels = _flatten_chains(chains)
        if lead_optional and (
            any(r.is_varlength for r in rels)
            or getattr(self, "_plain_path", None)
        ):
            raise CypherUnsupported(
                "variable-length / path patterns under a leading "
                "OPTIONAL MATCH are not supported"
            )
        path_subs: dict[str, str] = {}
        plain_path = getattr(self, "_plain_path", None)
        vlp_path = False
        if plain_path is not None:
            if len(chains) > 1:
                raise CypherUnsupported(
                    "path variables with comma-separated patterns are "
                    "not supported"
                )
            if any(r.is_varlength for r in rels):
                # path variable over a BOUNDED varlength pattern (r6):
                # length(p) / nodes(p) become per-branch scalar columns
                # (_pathlen = branch hop total, _pathnodes = comma-
                # joined node ids) emitted by _varlength_sql — one row
                # per enumerated path, Cypher's non-shortest semantics
                if any(r.is_unbounded for r in rels):
                    raise CypherUnsupported(
                        "path variables on unbounded (*) patterns are "
                        "supported only via shortestPath(...)"
                    )
                self._splice_varlength_path(plain_path)
                vlp_path = True
            else:
                path_subs = self._splice_plain_path(plain_path, nodes, rels)
        # varlength rel bound to a variable (r6): size(r) / length(r)
        # is the hop count — splice to the _pathlen marker (bounded:
        # a per-branch constant; unbounded: the recursive CTE's
        # _vlp._hops column). Any other reference raises (it would be
        # a LIST of relationships, out of scope).
        vlp_rel_unwind: list[str] = []
        for r in rels:
            if r.is_varlength and r.var:
                if sum(1 for x in rels if x.is_varlength) > 1:
                    raise CypherUnsupported(
                        "binding a variable-length relationship to a "
                        "variable needs it to be the pattern's only "
                        "varlength segment"
                    )
                if not r.is_unbounded and not _needs_recursion(r):
                    vlp_rel_unwind = self._splice_relvar_unwind(r.var)
                self._splice_relcount(r.var)
                r.var = None
                vlp_path = True
        bound = {n.var for n in nodes}
        optionals: list[
            tuple[list[_NodePat], list[_RelPat], str | None]
        ] = []
        while self.peek()[1] == "OPTIONAL":
            self.next()
            self.expect("MATCH")
            onodes, orels = self.pattern()
            if onodes[0].var not in bound and onodes[-1].var in bound:
                # end-anchored pattern: re-anchor by reversing the
                # chain — (x)-[:T]->(a) with `a` bound is the same
                # pattern as (a)<-[:T]-(x)
                onodes, orels = _reverse_chain(onodes, orels)
            anchor = onodes[0]
            if anchor.var not in bound:
                raise CypherUnsupported(
                    f"OPTIONAL MATCH must start from a bound variable; "
                    f"{anchor.var!r} is not bound"
                )
            if anchor.labels or anchor.props:
                raise CypherUnsupported(
                    "labels/properties on the bound anchor of OPTIONAL MATCH "
                    "are not supported; put them on the original MATCH"
                )
            if not orels:
                raise CypherUnsupported("OPTIONAL MATCH needs a relationship pattern")
            if any(r.is_varlength for r in orels):
                # bounded varlength supported as a single-segment chain
                # (r6): the expansion compiles to a derived length-union
                # table LEFT-JOINed on the anchor (see _plain_sql)
                seg = orels[0]
                if len(orels) != 1:
                    raise CypherUnsupported(
                        "variable-length in OPTIONAL MATCH must be the "
                        "only relationship of its pattern"
                    )
                if seg.var:
                    raise CypherUnsupported(
                        "binding a variable-length relationship to a "
                        "variable is not supported"
                    )
                if seg.maxlen is None or _needs_recursion(seg):
                    # unbounded / deep-bounded: compiled as a distinct-
                    # frontier recursive CTE LEFT-join branch (r7) — no
                    # branch-count constraint applies
                    pass
                elif seg.maxlen - seg.minlen + 1 > _MAX_VARLENGTH_BRANCHES:
                    raise CypherUnsupported(
                        f"OPTIONAL MATCH varlength expands to "
                        f"{seg.maxlen - seg.minlen + 1} branches "
                        f"(cap {_MAX_VARLENGTH_BRANCHES})"
                    )
            for n in onodes[1:]:
                if n.var in bound:
                    raise CypherUnsupported(
                        f"OPTIONAL MATCH re-binding {n.var!r} is not supported"
                    )
                bound.add(n.var)
            # Cypher rule: WHERE directly after OPTIONAL MATCH belongs
            # to that clause — it filters the optional pattern's
            # matches inside the join (null-preserving), not the rows
            self._bound = set(bound)
            owhere = self.expr() if self.accept("WHERE") else None
            optionals.append((onodes, orels, owhere))
        where = None
        if self.accept("WHERE"):
            # the main clause's WHERE: a post-join global filter
            self._bound = set(bound)  # EXISTS pattern anchor check
            where = self.expr()
        if self._inter_wheres:
            parts = [f"({w})" for w in self._inter_wheres]
            if where:
                parts.append(f"({where})")
            where = " AND ".join(parts)
        unwinds: list[tuple[str, str]] = list(lead_unwinds)
        while self.accept("UNWIND"):
            unwinds.append(self._unwind_source(bound))
        def _star_items() -> list[tuple[str, str, bool]]:
            """``*`` projection: past a WITH it is the carried aliases;
            in the first projection it is every named pattern node
            (scalarized as its id, the engine's ``RETURN n``
            convention) plus UNWIND aliases. Named relationship
            variables have no scalar form — project them explicitly."""
            if self.aliases is not None:
                return [(a, a, False) for a in sorted(self.aliases)]
            named_rels = [
                r.var
                for cn, cr in chains
                for r in cr
                if r.var and not r.var.startswith("_")
            ] + [
                r.var for on_, or_, _ow in optionals for r in or_ if r.var
            ]
            if named_rels:
                raise CypherUnsupported(
                    f"* does not include relationship variables "
                    f"({named_rels}) — project them explicitly"
                )
            seen_v: set[str] = set()
            its: list[tuple[str, str, bool]] = []
            for n in [n for cn, _ in chains for n in cn] + [
                n for on_, _or, _ow in optionals for n in on_[1:]
            ]:
                if n.var.startswith("_an") or n.var in seen_v:
                    continue
                seen_v.add(n.var)
                its.append((f"{n.var}.ID", n.var, False))
            its.extend((ua, ua, False) for _src, ua in unwinds)
            return its

        # ---- pipeline: (WITH stage [WHERE] [MATCH pattern [WHERE]])* ----
        # Each WITH resets the scope to its aliases (Cypher rule); each
        # MATCH-after-WITH re-anchors on a carried alias and opens fresh
        # graph variables (full property access) alongside the carried
        # aliases, so multi-stage MATCH…WITH agg…MATCH…RETURN composes.
        withs = []
        pipeline: list[dict] = []
        post_match = None
        while True:
            if (
                self.peek()[1] == "CALL"
                and self.toks[self.pos + 1][1] == "{"
            ):
                if pipeline and pipeline[-1]["kind"] not in ("with", "call"):
                    raise CypherUnsupported(
                        "CALL { } must directly follow the MATCH block, a "
                        "WITH stage or another CALL"
                    )
                if self.aliases is None:
                    # CALL directly after the MATCH block: synthesize
                    # the implicit `WITH *` stage (scope scalarized to
                    # node ids, nodes carried for later prop access) so
                    # the subquery composes with the pipeline machinery
                    witems = _star_items()
                    self.carried_nodes = {
                        a
                        for e, a, _g in witems
                        if e == f"{a}.ID" and a in self.node_pat_vars
                    }
                    self.aliases = {a for _, a, _ in witems}
                    self.post_vars = frozenset()
                    self.unwind_aliases = set()
                    st = {
                        "kind": "with",
                        "items": witems,
                        "distinct": False,
                        "where": None,
                        "order": [],
                        "skip": None,
                        "limit": None,
                        "carried": sorted(self.carried_nodes),
                        "implicit": True,
                    }
                    withs.append(st)
                    pipeline.append(st)
                pipeline.append(self._parse_call_subquery())
                continue
            if (
                not pipeline
                and self.aliases is None
                and self.peek()[1] == "WITH"
            ):
                # transparent WITH: `WITH a, b [WHERE pred]` carrying
                # ONLY bare in-scope pattern/unwind variables with no
                # DISTINCT/agg/ORDER/LIMIT is a scope no-op in this
                # engine — pattern variables stay live and the optional
                # WHERE conjoins with the main post-join filter
                # (null-preserving over OPTIONAL MATCH, which is what
                # the common `WITH a, b WHERE b IS NULL` idiom needs)
                scope = (
                    set(bound)
                    | {r.var for _, cr in chains for r in cr if r.var}
                    | {
                        r.var
                        for _on, orl, _ow in optionals
                        for r in orl
                        if r.var
                    }
                    | {ua for _src, ua in unwinds}
                )
                j = self.pos + 1
                if self.toks[j][1] == "*" and self.toks[j + 1][1] in (
                    "WHERE", "RETURN", "WITH",
                ):
                    # `WITH *` carries the ENTIRE scope unchanged —
                    # transparent by definition; the optional WHERE
                    # conjoins with the main filter, and later clauses
                    # keep full property access on every pattern var
                    self.next()
                    self.next()
                    if self.accept("WHERE"):
                        self._bound = set(bound)
                        tw = self.expr()
                        where = f"({where}) AND ({tw})" if where else tw
                    continue
                names: list[str] = []
                while self.toks[j][0] == "name":
                    names.append(self.toks[j][1])
                    j += 1
                    if self.toks[j][1] == ",":
                        j += 1
                    else:
                        break
                if (
                    names
                    and all(n in scope for n in names)
                    and self.toks[j][1] in ("WHERE", "RETURN", "WITH")
                ):
                    self.next()  # WITH
                    self.expect_name()
                    while self.accept(","):
                        self.expect_name()
                    if self.accept("WHERE"):
                        self._bound = set(bound)
                        tw = self.expr()
                        where = f"({where}) AND ({tw})" if where else tw
                    continue
            if self.accept("WITH"):
                wdistinct = self.accept("DISTINCT")
                first_stage = self.aliases is None
                # collect() in a WITH stage stays a real sorted array
                # (string form only at the final RETURN boundary)
                self._collect_array = True
                if self.peek()[1] == "*":
                    self.next()
                    witems = _star_items()
                    while self.accept(","):
                        witems.append(self.return_item())
                else:
                    witems = [self.return_item()]
                    while self.accept(","):
                        witems.append(self.return_item())
                self._collect_array = False
                # a node variable carried BARE through this WITH keeps
                # full property access downstream (openCypher grouping
                # semantics) — the consuming stage re-joins the node
                # table on the carried id
                if first_stage:
                    self.carried_nodes = {
                        a
                        for e, a, g in witems
                        if not g
                        and e == f"{a}.ID"
                        and a in self.node_pat_vars
                    }
                else:
                    self.carried_nodes = {
                        a
                        for e, a, g in witems
                        if not g and e == a and a in self.carried_nodes
                    }
                # everything after WITH sees only the aliases (Cypher
                # scope rule); the post-WITH WHERE is SQL HAVING when it
                # touches an aggregate alias — same thing here, the
                # stage below has already aggregated. UNWIND iteration
                # variables die at the boundary too (re-projecting one
                # in the WITH items carries it on as a plain alias).
                self.struct_aliases = {
                    a
                    for e, a, _ in witems
                    if e.startswith(("named_struct(", "struct_pack("))
                    or (e == a and a in self.struct_aliases)
                }
                self.list_aliases = {
                    a
                    for e, a, _ in witems
                    if self._is_list_expr(e)
                    or (e == a and a in self.list_aliases)
                }
                self.string_list_aliases = {
                    a
                    for e, a, _ in witems
                    if self._is_string_list_expr(e)
                    or (e == a and a in self.string_list_aliases)
                }
                self.aliases = {a for _, a, _ in witems}
                self.post_vars = frozenset()
                self.unwind_aliases = set()
                # Cypher clause order: WITH items [ORDER BY/SKIP/LIMIT]
                # [WHERE] — pagination binds to the projection, the
                # trailing WHERE then filters the paginated rows
                worder, wskip, wlimit = self._parse_order_tail(witems)
                wwhere = self.expr() if self.accept("WHERE") else None
                st = {
                    "kind": "with",
                    "items": witems,
                    "distinct": wdistinct,
                    "where": wwhere,
                    "order": worder,
                    "skip": wskip,
                    "limit": wlimit,
                    # active while the NEXT element's items parse/emit
                    "carried": sorted(self.carried_nodes),
                }
                withs.append(st)
                pipeline.append(st)
                continue
            if (
                pipeline
                and pipeline[-1]["kind"] in ("with", "call", "unwind")
                and self.peek()[1] == "MATCH"
            ):
                # MATCH after WITH: re-anchor the pipeline on a carried
                # alias. The first pattern node must BE an alias
                # (anchored by id); the rest are fresh variables with
                # full property access again.
                if pipeline[-1]["kind"] == "unwind":
                    # MATCH directly after UNWIND (the batch-rematch
                    # idiom `UNWIND ids AS i MATCH (m) WHERE m.ID = i`):
                    # synthesize the implicit WITH * stage the emission
                    # pairs the unwind element with, carrying every
                    # in-scope alias (incl. the iteration variable)
                    witems = [(a, a, False) for a in sorted(self.aliases)]
                    st = {
                        "kind": "with",
                        "items": witems,
                        "distinct": False,
                        "where": None,
                        "order": [],
                        "skip": None,
                        "limit": None,
                        "carried": [],
                        "implicit": True,
                    }
                    withs.append(st)
                    pipeline.append(st)
                self.next()
                pnodes, prels = self.pattern()
                anchor = pnodes[0]
                fresh_anchor = anchor.var not in self.aliases
                if fresh_anchor:
                    # fresh (non-alias) anchor (r6): a property-anchored
                    # re-join — `MATCH (n:L {k: alias})` joins the node
                    # table on the property equality (the prop value may
                    # reference carried aliases); with no props it is
                    # Cypher's cartesian product against the stage
                    if any(r.is_varlength for r in prels):
                        raise CypherUnsupported(
                            "a fresh (non-alias) anchor in MATCH after "
                            "WITH does not compose with variable-length"
                        )
                elif anchor.labels or anchor.props:
                    raise CypherUnsupported(
                        "labels/properties on the anchor of MATCH-after-WITH "
                        "are not supported (it is already bound)"
                    )
                fresh = {anchor.var} if fresh_anchor else set()
                for n in pnodes[1:]:
                    if n.var in self.aliases or n.var in fresh:
                        raise CypherUnsupported(
                            f"MATCH after WITH re-binding {n.var!r} is not "
                            "supported (only the first node may be an alias)"
                        )
                    fresh.add(n.var)
                for r in prels:
                    if r.is_unbounded:
                        raise CypherUnsupported(
                            "unbounded (*) variable-length in MATCH after "
                            "WITH is not supported (bounded *a..b is)"
                        )
                    if r.var:
                        if r.is_varlength:
                            raise CypherUnsupported(
                                "binding a variable-length relationship to "
                                "a variable is not supported"
                            )
                        fresh.add(r.var)
                # the anchor is rejoined to the node table, so its
                # properties are accessible again (anchor.prop); other
                # carried nodes lose prop access through this element
                # (its emission only joins the anchor)
                self.post_vars = frozenset(fresh | {anchor.var})
                self.carried_nodes = set()
                pwhere = self.expr() if self.accept("WHERE") else None
                post_match = {
                    "kind": "match",
                    "nodes": pnodes,
                    "rels": prels,
                    "where": pwhere,
                    "fresh_anchor": fresh_anchor,
                    "stage_aliases": sorted(self.aliases),
                }
                pipeline.append(post_match)
                continue
            if (
                pipeline
                and pipeline[-1]["kind"] in ("with", "call")
                and self.peek()[1] == "OPTIONAL"
            ):
                # OPTIONAL MATCH after WITH (r6): the carried aliases
                # STAY in scope (an optional clause does not reset it);
                # the pattern LEFT-joins the graph back onto the stage,
                # anchored on a carried alias (a node id)
                self.next()
                self.expect("MATCH")
                pnodes, prels = self.pattern()
                if (
                    pnodes[0].var not in self.aliases
                    and pnodes[-1].var in self.aliases
                ):
                    # end-anchored: re-anchor by reversing the chain
                    pnodes, prels = _reverse_chain(pnodes, prels)
                anchor = pnodes[0]
                if anchor.var not in self.aliases:
                    raise CypherUnsupported(
                        "OPTIONAL MATCH after WITH must start from a "
                        f"carried alias; {anchor.var!r} is not one of "
                        f"{sorted(self.aliases)}"
                    )
                if anchor.labels or anchor.props:
                    raise CypherUnsupported(
                        "labels/properties on the bound anchor of "
                        "OPTIONAL MATCH are not supported"
                    )
                if any(r.is_varlength for r in prels):
                    raise CypherUnsupported(
                        "variable-length in OPTIONAL MATCH after WITH "
                        "is not supported"
                    )
                ofresh: set[str] = set()
                for n in pnodes[1:]:
                    if n.var in self.aliases or n.var in ofresh:
                        raise CypherUnsupported(
                            f"OPTIONAL MATCH after WITH re-binding "
                            f"{n.var!r} is not supported"
                        )
                    ofresh.add(n.var)
                for r in prels:
                    if r.var:
                        ofresh.add(r.var)
                self.post_vars = frozenset(self.post_vars | ofresh)
                self.carried_nodes = set()
                powhere = self.expr() if self.accept("WHERE") else None
                pipeline.append(
                    {
                        "kind": "optmatch",
                        "nodes": pnodes,
                        "rels": prels,
                        "where": powhere,
                        "stage_aliases": sorted(self.aliases),
                    }
                )
                continue
            if pipeline and self.peek()[1] == "UNWIND":
                # UNWIND after WITH (r6): a lateral explode over the
                # stage rows; the iteration variable joins the carried
                # aliases for everything downstream
                if pipeline[-1]["kind"] not in ("with", "call"):
                    raise CypherUnsupported(
                        "UNWIND in a pipeline must directly follow a "
                        "WITH stage or a CALL { } subquery"
                    )
                self.next()
                # sources: range()/list literal/$param/carried alias —
                # pattern variables died at the WITH boundary, so the
                # bound set is empty (labels(var) correctly rejects)
                usrc, ualias = self._unwind_source(set())
                self.aliases = set(self.aliases) | {ualias}
                self.carried_nodes = set()
                pipeline.append(
                    {"kind": "unwind", "src": usrc, "alias": ualias}
                )
                continue
            break
        self.expect("RETURN")
        # pattern predicates / COUNT {} in RETURN items correlate on
        # the clause's node variables; past a WITH those are dead
        # scalars, so the bound set is empty there (parse-time reject)
        self._bound = set(bound) if self.aliases is None else set()
        distinct = self.accept("DISTINCT")
        self._in_return = self._auto_alias_ok
        if self.peek()[1] == "*":
            self.next()
            items = _star_items()
            while self.accept(","):
                items.append(self.return_item())
        else:
            items = [self.return_item()]
            while self.accept(","):
                items.append(self.return_item())
        self._in_return = False
        order, skip, limit = self._parse_order_tail(items)
        if self.peek()[0] != "eof":
            raise CypherSyntaxError(f"unexpected trailing input: {self.peek()[1]!r}")
        if shortest and (optionals or unwinds):
            raise CypherUnsupported(
                "shortestPath combined with OPTIONAL MATCH / UNWIND "
                "is not supported (v1)"
            )
        # shortestPath + WITH pipeline (r6): the pattern and the FIRST
        # WITH's items compile through the shortest branch-union
        # emission (per-endpoint-pair MIN(_pathlen) grouping), and the
        # remaining stages fold on top as plain SQL stages
        if shortest and where and re.search(r"\b_pathlen\b", where):
            raise CypherUnsupported(
                "length(path) in WHERE is not supported — filter on the "
                "RETURN alias instead"
            )
        if len(chains) > 1:
            rvars = [r.var for _, cr in chains for r in cr if r.var]
            if len(rvars) != len(set(rvars)):
                raise CypherUnsupported(
                    "a relationship variable is bound in more than one pattern"
                )
            # BOUNDED varlength composes with comma patterns /
            # consecutive MATCH clauses since late r6 — each branch of
            # the length expansion joins the other chains through
            # _multi_chain (shared variables become joins). Unbounded
            # and path-marker shapes keep the single-chain requirement.
            if any(r.is_varlength for _, cr in chains for r in cr) and (
                vlp_path
                or shortest
                or any(r.is_unbounded for _, cr in chains for r in cr)
            ):
                raise CypherUnsupported(
                    "unbounded/path-bound variable-length with "
                    "comma-separated patterns is not supported"
                )
        # a repeated variable INSIDE the varlength-bearing chain would
        # be a cycle through the expansion's synthetic nodes — not
        # supported; repeats ACROSS chains are plain shared-var joins
        for cn, cr in chains:
            vars_ci = [n.var for n in cn]
            if len(vars_ci) != len(set(vars_ci)) and any(
                r.is_varlength for r in cr
            ):
                raise CypherUnsupported(
                    "repeated node variables on variable-length patterns "
                    "are not supported"
                )
        return {
            "shortest": shortest,
            "all_paths": shortest and all_paths,
            "vlp_path": vlp_path,
            "vlp_rel_unwind": vlp_rel_unwind,
            "path_subs": path_subs,
            "chains": chains,
            "chain_groups": chain_groups,
            "lead_with": lead_with,
            "lead_call": lead_call,
            "lead_optional": lead_optional,
            "nodes": nodes,
            "rels": rels,
            "optionals": optionals,
            "where": where,
            "unwinds": unwinds,
            "withs": withs,
            "pipeline": pipeline,
            "post_match": post_match,
            "distinct": distinct,
            "items": items,
            "order": order,
            "skip": skip,
            "limit": limit,
            "dialect": self.dialect,
            "rel_id": self.rel_id,
            "rel_props": self.rel_props,
        }


def _label_cond(prefix: str, lbl: str) -> str:
    """Label condition for one colon group. A group may carry the
    openCypher label alternation ``:A|B`` (parsed by node() into the
    single entry "A|B") — it renders as an OR of membership tests;
    plain groups stay a single array_contains. ``prefix`` is
    "var." or "" (subqueries over an implicit LABELS column)."""
    if "|" in lbl:
        return (
            "("
            + " OR ".join(
                f"array_contains({prefix}LABELS, '{p}')"
                for p in lbl.split("|")
            )
            + ")"
        )
    return f"array_contains({prefix}LABELS, '{lbl}')"


def _flatten_chains(
    chains: list[tuple[list[_NodePat], list[_RelPat]]],
) -> tuple[list[_NodePat], list[_RelPat]]:
    """One node per distinct variable (first occurrence wins — later
    occurrences only contribute label/property conditions, which
    _multi_chain reads from the chains directly) plus the flat rel
    list; downstream binding checks consume these."""
    seen: set[str] = set()
    nodes: list[_NodePat] = []
    for cn, _ in chains:
        for n in cn:
            if n.var not in seen:
                seen.add(n.var)
                nodes.append(n)
    return nodes, [r for _, cr in chains for r in cr]


def _rel_source(
    r: _RelPat, rv: str, rels_view: str, rel_id: bool = False
) -> str:
    if r.direction == "-":
        # undirected: join against the natural+reverse union view —
        # the reference's own projection trick (KHOP.md:55-70).
        # Each physical edge matches in both orientations, exactly
        # Cypher's undirected semantics. The id columns swap, so the
        # view cannot `SELECT *`; rel properties the query actually
        # references ride along explicitly (extra_props, collected
        # from the emission's var.prop references by _plain_sql).
        extra = "".join(f", {p}" for p in r.extra_props)
        # _OS/_OE keep the PHYSICAL orientation through the flip so the
        # rel-uniqueness predicate compares edge identity, not the
        # view's swapped endpoints (two distinct anti-parallel edges
        # must stay distinct — r6 semantic-fuzz finding)
        rid = " REL_ID," if rel_id else ""
        return (
            f"(SELECT{rid} START_ID, END_ID, TYPE{extra},"
            f" START_ID AS _OS, END_ID AS _OE FROM {rels_view}"
            f" UNION ALL"
            f" SELECT{rid} END_ID AS START_ID, START_ID AS END_ID,"
            f" TYPE{extra}, START_ID AS _OS, END_ID AS _OE"
            f" FROM {rels_view}) AS {rv}"
        )
    return f"{rels_view} AS {rv}"


_REL_VIEW_COLS = {"START_ID", "END_ID", "TYPE"}


def _collect_undirected_prop_refs(ast: dict) -> None:
    """Fill ``extra_props`` on every named undirected rel from the
    query's actual references: ``var.prop`` occurrences in the RETURN
    items / WHERE / ORDER BY / optional-clause WHEREs, plus the
    pattern's own ``{key: lit}`` equalities."""
    texts: list[str] = [e for e, _a, _g in ast.get("items", [])]
    if ast.get("where"):
        texts.append(ast["where"])
    texts.extend(e for e, _d in ast.get("order", []))
    for _on, _or, owhere in ast.get("optionals", []):
        if owhere:
            texts.append(owhere)
    blob = "\n".join(texts)
    chains = ast.get("chains") or [(ast["nodes"], ast["rels"])]
    all_rels = [r for _, cr in chains for r in cr]
    for _on, orels, _ow in ast.get("optionals", []):
        all_rels.extend(orels)
    for r in all_rels:
        if r.direction != "-":
            continue
        want = {k for k, _ in r.props}
        if r.var:
            want.update(
                re.findall(rf"\b{re.escape(r.var)}\.(\w+)", blob)
            )
        # _OS/_OE (physical-orientation originals, referenced by the
        # bare-rel struct projection) and the identity columns are
        # carried by the union view itself — never ride-alongs
        r.extra_props = sorted(
            want - _REL_VIEW_COLS - {"_OS", "_OE", "REL_ID"}
        )


def _prop_conds(r: _RelPat, rv: str) -> list[str]:
    """``-[r:T {key: lit}]-`` relationship-property equalities."""
    return [f"{rv}.{key} = {lit}" for key, lit in r.props]


def _type_cond(r: _RelPat, rv: str) -> str | None:
    if not r.rtypes:
        return None
    if len(r.rtypes) == 1:
        return f"{rv}.TYPE = '{r.rtypes[0]}'"
    types = ", ".join(f"'{t}'" for t in r.rtypes)
    return f"{rv}.TYPE IN ({types})"


def _rel_keys(r: _RelPat, rv: str, a: str, b: str) -> tuple[str, str]:
    if r.direction == "<-":
        return f"{rv}.END_ID = {a}.ID", f"{b}.ID = {rv}.START_ID"
    return f"{rv}.START_ID = {a}.ID", f"{b}.ID = {rv}.END_ID"


def _chain(
    nodes: list[_NodePat],
    rels: list[_RelPat],
    nodes_view: str,
    rels_view: str,
    tag: str = "",
    rel_id: bool = False,
) -> tuple[str, list[str], list[str]]:
    """FROM/JOIN/WHERE fragments for one fixed-length pattern chain."""
    from_sql = f"{nodes_view} AS {nodes[0].var}"
    joins: list[str] = []
    conds: list[str] = []
    for i, r in enumerate(rels):
        rv = r.var or f"_r{tag}{i}"
        a, b = nodes[i].var, nodes[i + 1].var
        on, on2 = _rel_keys(r, rv, a, b)
        joins.append(f"JOIN {_rel_source(r, rv, rels_view, rel_id)} ON {on}")
        joins.append(f"JOIN {nodes_view} AS {b} ON {on2}")
        if cond := _type_cond(r, rv):
            conds.append(cond)
        conds.extend(_prop_conds(r, rv))
    for n in nodes:
        for lbl in n.labels:
            conds.append(_label_cond(f"{n.var}.", lbl))
        for key, lit in n.props:
            conds.append(f"{n.var}.{key} = {lit}")
    return from_sql, joins, conds


def _token_text(toks: list) -> str:
    """Reconstruct (approximate) source text from a consumed token
    run — used to auto-name computed RETURN items the way openCypher
    does. Word-ish neighbours get a separating space; punctuation
    packs tight, so `size( collect(DISTINCT  x) )` renders as
    `size(collect(DISTINCT x))`."""
    out: list[str] = []
    for t in toks:
        raw = str(t[2] if len(t) > 2 else t[1])
        if out and re.match(r"[\w$']", raw[:1]) and re.match(r"[\w$']", out[-1][-1:]):
            out.append(" ")
        out.append(raw)
    return "".join(out)


def _path_edge_identity_conds(
    slots: list[tuple[str, bool, list[str], int, bool]],
    dialect: str,
    props: list[str],
) -> list[str]:
    """Per-path relationship uniqueness for varlength-expanded hops
    (r8): openCypher forbids reusing an edge within one path. Identity
    here is the physical row — (START, END, TYPE) plus EVERY rel
    property, compared null-safely — NOT REL_ID, because these conds
    also serve rels views that have no REL_ID (triple mode). Same-triple
    parallel edges with any differing property stay distinct; only
    EXACT-duplicate twins are conflated (documented, test-pinned
    divergence). Pairs wholly
    between fixed slots of varlength-free chains are excluded — those
    carry the REL_ID-mode conds from _rel_uniqueness_conds."""
    eq = "<=>" if dialect == "spark" else "IS NOT DISTINCT FROM"
    out: list[str] = []
    for x in range(len(slots)):
        rv1, u1, t1, g1, v1 = slots[x]
        for y in range(x + 1, len(slots)):
            rv2, u2, t2, g2, v2 = slots[y]
            if g1 != g2 or not (v1 or v2):
                continue
            if t1 and t2 and not (set(t1) & set(t2)):
                continue
            s1, e1 = (
                (f"{rv1}._OS", f"{rv1}._OE")
                if u1
                else (f"{rv1}.START_ID", f"{rv1}.END_ID")
            )
            s2, e2 = (
                (f"{rv2}._OS", f"{rv2}._OE")
                if u2
                else (f"{rv2}.START_ID", f"{rv2}.END_ID")
            )
            terms = [
                f"{s1} = {s2}",
                f"{e1} = {e2}",
                f"{rv1}.TYPE = {rv2}.TYPE",
            ] + [f"{rv1}.{p} {eq} {rv2}.{p}" for p in props]
            out.append("NOT (" + " AND ".join(terms) + ")")
    return out


def _rel_uniqueness_conds(
    slots: list[tuple[str, bool, list[str], int]],
    rel_id: bool = False,
) -> list[str]:
    """Pairwise not-the-same-edge predicates for rel slots that share a
    MATCH clause group and whose declared type sets can overlap (either
    untyped or intersecting). Edge identity is the PHYSICAL
    (START_ID, END_ID, TYPE) triple: an undirected slot reads from the
    natural+reverse union view where the same edge appears flipped, so
    it compares its ``_OS/_OE`` original-orientation columns (carried
    through the view) — NOT endpoint-set equality, which the r6
    semantic fuzz proved wrong: two distinct anti-parallel edges
    (a->b, b->a, same type) are different relationships and must both
    bind (``MATCH (a)-->(b)--(c)`` with c = a)."""
    out: list[str] = []

    def ident(rv: str, und: bool) -> tuple[str, str]:
        if und:
            return f"{rv}._OS", f"{rv}._OE"
        return f"{rv}.START_ID", f"{rv}.END_ID"

    for x in range(len(slots)):
        rv1, und1, t1, g1 = slots[x]
        for y in range(x + 1, len(slots)):
            rv2, und2, t2, g2 = slots[y]
            if g1 != g2:
                continue
            if t1 and t2 and not (set(t1) & set(t2)):
                continue  # disjoint declared types can never collide
            if rel_id:
                # stored edge identity (true openCypher: exact
                # duplicates are distinct relationships); the undirected
                # union view carries the column through the flip
                out.append(f"{rv1}.REL_ID <> {rv2}.REL_ID")
                continue
            s1, e1 = ident(rv1, und1)
            s2, e2 = ident(rv2, und2)
            out.append(
                f"NOT ({s1} = {s2} AND {e1} = {e2} "
                f"AND {rv1}.TYPE = {rv2}.TYPE)"
            )
    return out


def _multi_chain(
    chains: list[tuple[list[_NodePat], list[_RelPat]]],
    nodes_view: str,
    rels_view: str,
    groups: list[int | None] | None = None,
    rel_id: bool = False,
) -> tuple[str, list[str], list[str]]:
    """FROM/JOIN/WHERE fragments for one or more pattern chains that
    may share node variables: comma-separated MATCH patterns join on
    the shared variable, a repeated variable inside one chain closes a
    cycle (both endpoint keys land in the rel's ON clause), and a chain
    sharing nothing is Cypher's cartesian product (CROSS JOIN). With a
    single acyclic chain this emits exactly what _chain does.

    Cypher's relationship-uniqueness rule (two rel slots in ONE MATCH
    clause never bind the same relationship) is enforced with pairwise
    edge-key inequality predicates between slots of the same clause
    group whose declared type sets can overlap. Edge identity here is
    the (START_ID, END_ID, TYPE) triple — the frame has no edge id, so
    exact-duplicate parallel edges count as one relationship (documented
    divergence, same family as the varlength edge-uniqueness note)."""
    if groups is None:
        groups = [0] * len(chains)
    introduced: set[str] = set()
    from_sql: str | None = None
    joins: list[str] = []
    conds: list[str] = []
    #: (alias, undirected?, rtypes, clause group) per rel slot
    slots: list[tuple[str, bool, list[str], int]] = []
    rel_ix = 0
    uniq_g = -1  # fresh group per slot for group-None chains
    for ci, (nodes, rels) in enumerate(chains):
        if nodes[0].var not in introduced:
            src = f"{nodes_view} AS {nodes[0].var}"
            if from_sql is None:
                from_sql = src
            else:
                joins.append(f"CROSS JOIN {src}")
            introduced.add(nodes[0].var)
        for i, r in enumerate(rels):
            rv = r.var or f"_r{rel_ix}"
            rel_ix += 1
            g = groups[ci]
            if g is None:
                # a varlength-expanded chain: its hops deliberately get
                # NO pairwise uniqueness (the documented bounded-
                # varlength walk divergence) — each slot in its own group
                g, uniq_g = uniq_g, uniq_g - 1
            slots.append((rv, r.direction == "-", list(r.rtypes), g))
            a, b = nodes[i].var, nodes[i + 1].var
            on, on2 = _rel_keys(r, rv, a, b)
            if b in introduced:
                # endpoint already bound: one rel join pinning both keys
                joins.append(
                    f"JOIN {_rel_source(r, rv, rels_view, rel_id)} "
                    f"ON {on} AND {on2}"
                )
            else:
                joins.append(
                    f"JOIN {_rel_source(r, rv, rels_view, rel_id)} ON {on}"
                )
                joins.append(f"JOIN {nodes_view} AS {b} ON {on2}")
                introduced.add(b)
            if cond := _type_cond(r, rv):
                conds.append(cond)
            conds.extend(_prop_conds(r, rv))
    conds.extend(_rel_uniqueness_conds(slots, rel_id))
    # label/property conditions from EVERY occurrence of a variable
    # (a var can carry different labels in different patterns), deduped
    seen_conds: set[str] = set()
    for nodes, _ in chains:
        for n in nodes:
            for lbl in n.labels:
                c = _label_cond(f"{n.var}.", lbl)
                if c not in seen_conds:
                    seen_conds.add(c)
                    conds.append(c)
            for key, lit in n.props:
                c = f"{n.var}.{key} = {lit}"
                if c not in seen_conds:
                    seen_conds.add(c)
                    conds.append(c)
    assert from_sql is not None
    return from_sql, joins, conds


def _subst_views(sql: str, nodes_view: str, rels_view: str) -> str:
    """Resolve the EXISTS-predicate placeholders (the WHERE parser has
    no access to the view names; see _Parser._exists_pattern)."""
    return sql.replace("__NODES__", nodes_view).replace("__RELS__", rels_view)


_UNION_WORD = re.compile(r"(?i)\bunion\b")
_ALL_WORD = re.compile(r"(?i)^\s*all\b")


def _split_union(query: str) -> tuple[list[str], list[bool]]:
    """Split a query on top-level ``UNION [ALL]`` separators, skipping
    occurrences inside string literals. Returns (arms, all_flags) with
    ``len(all_flags) == len(arms) - 1``. ``UNION`` cannot appear in any
    other position of the supported grammar (it is not a function or
    keyword elsewhere), so a standalone word match outside quotes IS a
    separator — an alias literally named ``union`` is not supported."""
    arms: list[str] = []
    flags: list[bool] = []
    i, start, n = 0, 0, len(query)
    while i < n:
        c = query[i]
        if c == "'":
            i += 1
            while i < n:
                if query[i] == "\\":
                    i += 2
                    continue
                if query[i] == "'":
                    i += 1
                    break
                i += 1
            continue
        m = _UNION_WORD.match(query, i)
        if m:
            arms.append(query[start : i])
            rest = query[m.end() :]
            am = _ALL_WORD.match(rest)
            flags.append(bool(am))
            i = m.end() + (am.end() if am else 0)
            start = i
            continue
        i += 1
    arms.append(query[start:])
    return arms, flags


def cypher_to_sql(
    query: str,
    nodes_view: str,
    rels_view: str,
    dialect: str = "spark",
    params_out: set[str] | None = None,
    max_hops: int | None = None,
    node_props: list[str] | None = None,
    rel_id: bool = False,
    rel_props: list[str] | None = None,
    prop_types: dict[str, str] | None = None,
) -> str:
    """Transpile the Cypher subset to one SQL string over the graph
    views. Every construct except ``collect()`` and ``UNWIND`` emits
    dialect-neutral ANSI (identical text for both dialects); those two
    have no shared surface (collect_list/LATERAL VIEW vs list/unnest),
    so the oracle harness transpiles once per ``dialect``.

    ``$name`` query parameters become named-parameter markers
    (``:name`` for Spark, ``$name`` for DuckDB); the referenced names
    are added to ``params_out`` when provided, so callers can check
    the binding set before execution.

    ``rel_id=True`` says ``rels_view`` carries the stored ``REL_ID``
    edge id (every catalog graph's rels view does): relationship values
    and uniqueness read it, so exact-duplicate parallel edges stay
    distinct. Without it (triple mode) a relationship is its
    ``(START_ID, END_ID, TYPE)`` triple."""
    return _cypher_to_sql_once(
        query, nodes_view, rels_view, dialect, params_out,
        max_hops, node_props, rel_id, rel_props=rel_props,
        prop_types=prop_types,
    )


def _cypher_to_sql_once(
    query: str,
    nodes_view: str,
    rels_view: str,
    dialect: str = "spark",
    params_out: set[str] | None = None,
    max_hops: int | None = None,
    node_props: list[str] | None = None,
    rel_id: bool = False,
    rel_props: list[str] | None = None,
    prop_types: dict[str, str] | None = None,
) -> str:
    """Single-pass transpile against one rels view (see cypher_to_sql)."""
    if re.match(r"\s*CALL\s+[A-Za-z_]", query, re.IGNORECASE):
        # CALL proc(...) — procedures; CALL { ... } subqueries parse
        # as pipeline elements inside the ordinary query path
        return _call_procedure_sql(query, nodes_view, rels_view, dialect)
    arms, all_flags = _split_union(query)
    if len(arms) > 1:
        # Cypher UNION: every arm is a complete query and must return
        # the same column names (openCypher's rule; SQL set ops are
        # positional, so the name check is what keeps a silently
        # misaligned union from type-punning columns).
        pieces: list[str] = []
        alias_sets: list[list[str]] = []
        for arm in arms:
            arm_parser = _Parser(arm, dialect)
            arm_parser.node_props = node_props
            arm_parser.rel_props = rel_props
            arm_parser.rel_id = rel_id
            arm_parser.prop_types = prop_types
            arm_ast = arm_parser.parse()
            arm_ast["max_hops"] = max_hops
            if params_out is not None:
                params_out.update(arm_parser.params_used)
            alias_sets.append([a for _, a, _ in arm_ast["items"]])
            pieces.append(
                _single_query_sql(arm_parser, arm_ast, nodes_view, rels_view)
            )
        for aliases in alias_sets[1:]:
            if aliases != alias_sets[0]:
                raise CypherUnsupported(
                    f"UNION arms must RETURN the same column names; got "
                    f"{alias_sets[0]} vs {aliases}"
                )
        out = f"({pieces[0]})"
        for flag, piece in zip(all_flags, pieces[1:]):
            out += ("\nUNION ALL\n" if flag else "\nUNION\n") + f"({piece})"
        return out
    parser = _Parser(query, dialect)
    parser.node_props = node_props
    parser.rel_props = rel_props
    parser.rel_id = rel_id
    parser.prop_types = prop_types
    ast = parser.parse()
    ast["max_hops"] = max_hops
    if params_out is not None:
        params_out.update(parser.params_used)
    return _single_query_sql(parser, ast, nodes_view, rels_view)


#: built-in procedures (CALL db.*) → (default YIELD column, emission
#: per dialect builder). The reference serves the real Neo4j procedure
#: surface through its Cypher action (TransactionApiJob.java:41-220);
#: here the catalog introspection pair every client uses is computed
#: from the graph frames themselves.
_PROCEDURES = {
    "db.labels": "label",
    "db.relationshipTypes": "relationshipType",
}

_CALL_RE = re.compile(
    r"""\s*CALL\s+(?P<proc>[A-Za-z_][\w.]*)\s*\(\s*\)\s*
        (?:YIELD\s+(?P<yield>\w+)\s*)?
        (?:RETURN\s+(?P<ret>\w+)(?:\s+AS\s+(?P<alias>\w+))?\s*)?
        (?:ORDER\s+BY\s+(?P<ord>\w+)(?:\s+(?P<dir>ASC|DESC))?\s*)?
        (?:LIMIT\s+(?P<limit>\d+)\s*)?$""",
    re.IGNORECASE | re.VERBOSE,
)


def _call_procedure_sql(
    query: str, nodes_view: str, rels_view: str, dialect: str
) -> str:
    """``CALL db.labels() YIELD label RETURN label ORDER BY label`` —
    the catalog-introspection procedures, computed from the graph
    frames (distinct exploded LABELS / distinct TYPE)."""
    m = _CALL_RE.match(query)
    if not m:
        raise CypherUnsupported(
            "CALL supports db.labels() / db.relationshipTypes() with "
            "optional YIELD / RETURN [AS] / ORDER BY / LIMIT"
        )
    proc = m.group("proc")
    col = _PROCEDURES.get(proc)
    if col is None:
        raise CypherUnsupported(
            f"unknown procedure {proc!r} — supported: "
            f"{sorted(_PROCEDURES)}"
        )
    for g in ("yield", "ret"):
        v = m.group(g)
        if v is not None and v != col:
            raise CypherUnsupported(
                f"{proc} yields exactly one column {col!r}, got {v!r}"
            )
    out = m.group("alias") or col
    if m.group("ord") not in (None, col, out):
        raise CypherUnsupported(
            f"ORDER BY must reference {col!r} (or its alias), "
            f"got {m.group('ord')!r}"
        )
    if proc == "db.labels":
        if dialect == "spark":
            base = (
                f"SELECT DISTINCT {col} AS {out} FROM "
                f"(SELECT explode(LABELS) AS {col} FROM {nodes_view})"
            )
        else:
            base = (
                f"SELECT DISTINCT unnest(LABELS) AS {out} "
                f"FROM {nodes_view}"
            )
    else:
        base = f"SELECT DISTINCT TYPE AS {out} FROM {rels_view}"
    sql = f"SELECT * FROM (\n{base}\n) AS _proc"
    if m.group("ord"):
        sql += f"\nORDER BY {out} {(m.group('dir') or 'ASC').upper()}"
    if m.group("limit"):
        sql += f"\nLIMIT {m.group('limit')}"
    return sql


def _needs_recursion(r: _RelPat) -> bool:
    """True for a bounded variable-length segment whose upper bound
    exceeds the join-chain cap (``*1..5`` and up): compiled as a
    recursive CTE bounded at exactly ``maxlen`` hops instead of a
    maxlen-way join chain."""
    return (
        r.is_varlength
        and r.maxlen is not None
        and r.maxlen > _Parser._VARLENGTH_CAP
    )


def _single_query_sql(
    parser: "_Parser", ast: dict, nodes_view: str, rels_view: str
) -> str:
    """SQL for one parsed single-query AST (no UNION)."""
    sql = _single_query_sql_inner(parser, ast, nodes_view, rels_view)
    for marker, repl in ast.get("path_subs", {}).items():
        sql = re.sub(rf"\b{marker}\b", repl, sql)
    return sql


def _single_query_sql_inner(
    parser: "_Parser", ast: dict, nodes_view: str, rels_view: str
) -> str:
    nodes, rels = ast["nodes"], ast["rels"]
    if ast["unwinds"] and any(r.is_varlength for r in rels):
        raise CypherUnsupported("UNWIND with variable-length is not supported")

    varlength = any(r.is_varlength for r in rels)
    # deep bounded segments (*1..5 and up) ride the recursive CTE too:
    # the recursion stops EXACTLY at maxlen (`_hops < maxlen` guard), so
    # unlike the unbounded hop guard this is not a truncation — results
    # match what a maxlen-way join chain would produce, without the
    # join-chain blowup
    deep = any(_needs_recursion(r) for r in rels)
    unbounded = any(r.is_unbounded for r in rels) or deep
    _vl_sql = _varlength_recursive_sql if unbounded else _varlength_sql
    if ast["withs"]:
        # WITH pipeline: the pattern + first WITH's items become the
        # innermost query; the remaining pipeline elements fold left —
        # a with-stage projects/aggregates over the previous stage
        # (its predecessor's trailing WHERE is the stage filter,
        # HAVING-equivalent when the alias is an aggregate), and a
        # match-element joins the stage back to the graph anchored on
        # a carried alias, projecting the FOLLOWING with-stage's items
        # (or RETURN when it is the last element). Chained
        # MATCH…WITH agg…MATCH…WITH…RETURN composes to nested
        # subqueries — each stage a plain aggregate/join Catalyst
        # plans like any SQL pipeline.
        pipeline = ast["pipeline"]
        first = pipeline[0]
        # r9: `WITH n ORDER BY n.age LIMIT k` — the stage projects only
        # the carried node's ID, so an ORDER BY on one of its
        # PROPERTIES has nothing to bind to after the projection.
        # Inject the order keys as helper items (`n.age AS __ord0`)
        # while the node table is still joined, point the ORDER BY at
        # them, and prune the helpers right after the pagination.
        ord_extra: list[tuple[str, str, bool]] = []
        if (
            first.get("order")
            and not first["distinct"]
            and not any(agg for _, _, agg in first["items"])
        ):
            carried_first = set(first.get("carried") or [])
            order = list(first["order"])
            for k, (e, d) in enumerate(order):
                m = re.match(r"(\w+)\.(\w+)$", e)
                if (
                    m
                    and m.group(1) in carried_first
                    and not any(e == ie for ie, _a, _g in first["items"])
                ):
                    ord_extra.append((e, f"__ord{k}", False))
                    order[k] = (f"__ord{k}", d)
            if ord_extra:
                first = {
                    **first,
                    "items": list(first["items"]) + ord_extra,
                    "order": order,
                }
        inner_ast = {
            **ast,
            "items": first["items"],
            "distinct": first["distinct"],
            "order": [],
            "skip": None,
            "limit": None,
            "withs": [],
        }
        sql = (
            _vl_sql(inner_ast, nodes_view, rels_view)
            if varlength
            else _plain_sql(inner_ast, nodes_view, rels_view)
        )
        sql = _stage_tail(sql, first, 0)
        if ord_extra:
            keep = ", ".join(
                a for _e, a, _g in first["items"]
                if not a.startswith("__ord")
            )
            sql = f"SELECT {keep} FROM (\n{sql}\n) AS _ordprune0"
        pending_where = first["where"]
        carried = first.get("carried") or []
        els = pipeline[1:]
        i = depth = 0
        while i < len(els):
            el = els[i]
            if el["kind"] == "with":
                sql = _stage_sql(
                    sql, el["items"], el["distinct"], pending_where, depth,
                    nodes_view, carried,
                )
                sql = _stage_tail(sql, el, depth)
                pending_where = el["where"]
                carried = el.get("carried") or []
                i += 1
            elif el["kind"] == "unwind":
                # an unwind-element projects the FOLLOWING stage's
                # items (the next WITH's, or RETURN's when last),
                # exploding laterally over the previous stage's rows
                if i + 1 < len(els) and els[i + 1]["kind"] == "with":
                    nxt = els[i + 1]
                    sql = _unwind_stage_sql(
                        el, sql, nxt["items"], nxt["distinct"],
                        pending_where, depth, ast["dialect"],
                    )
                    sql = _stage_tail(sql, nxt, depth)
                    pending_where = nxt["where"]
                    carried = nxt.get("carried") or []
                    i += 2
                elif i + 1 < len(els):
                    raise CypherUnsupported(
                        "UNWIND in a pipeline must be followed by WITH "
                        "or RETURN"
                    )
                else:
                    sql = _unwind_stage_sql(
                        el, sql, ast["items"], ast["distinct"],
                        pending_where, depth, ast["dialect"],
                    )
                    sql = _order_limit_tail(sql, ast)
                    return _subst_views(sql, nodes_view, rels_view)
            elif el["kind"] == "call":
                # a call element EXTENDS the frame (stage columns +
                # subquery aliases) without consuming the next stage's
                # items — the following stage/RETURN projects over it
                sql = _call_stage_sql(
                    el, sql, nodes_view, rels_view, pending_where, depth
                )
                pending_where = None
                i += 1
            elif el["kind"] == "optmatch":
                # like a match-element, but the graph re-join is a
                # nested LEFT join (all-or-nothing optional semantics)
                if i + 1 < len(els) and els[i + 1]["kind"] == "with":
                    nxt = els[i + 1]
                    sql = _optional_stage_sql(
                        el, sql, nodes_view, rels_view, nxt["items"],
                        nxt["distinct"], pending_where, depth,
                    )
                    sql = _stage_tail(sql, nxt, depth)
                    pending_where = nxt["where"]
                    carried = nxt.get("carried") or []
                    i += 2
                elif i + 1 < len(els):
                    raise CypherUnsupported(
                        "OPTIONAL MATCH in a pipeline must be followed "
                        "by WITH or RETURN"
                    )
                else:
                    sql = _optional_stage_sql(
                        el, sql, nodes_view, rels_view, ast["items"],
                        ast["distinct"], pending_where, depth,
                    )
                    sql = _order_limit_tail(sql, ast)
                    return _subst_views(sql, nodes_view, rels_view)
            else:
                # a match-element is always followed by a with-stage or
                # by RETURN (the parser only accepts MATCH after WITH)
                if i + 1 < len(els):
                    nxt = els[i + 1]
                    sql = _match_stage_sql(
                        el,
                        sql,
                        nodes_view,
                        rels_view,
                        nxt["items"],
                        nxt["distinct"],
                        pending_where,
                        depth,
                        ast["dialect"],
                        ast.get("rel_props"),
                    )
                    sql = _stage_tail(sql, nxt, depth)
                    pending_where = nxt["where"]
                    carried = nxt.get("carried") or []
                    i += 2
                else:
                    sql = _match_stage_sql(
                        el,
                        sql,
                        nodes_view,
                        rels_view,
                        ast["items"],
                        ast["distinct"],
                        pending_where,
                        depth,
                        ast["dialect"],
                        ast.get("rel_props"),
                    )
                    sql = _order_limit_tail(sql, ast)
                    return _subst_views(sql, nodes_view, rels_view)
            depth += 1
        sql = _stage_sql(
            sql, ast["items"], ast["distinct"], pending_where, depth,
            nodes_view, carried,
        )
        sql = _order_limit_tail(sql, ast)
        return _subst_views(sql, nodes_view, rels_view)
    if varlength:
        return _subst_views(
            _vl_sql(ast, nodes_view, rels_view), nodes_view, rels_view
        )
    return _subst_views(
        _plain_sql(ast, nodes_view, rels_view), nodes_view, rels_view
    )


def _match_stage_sql(
    pm: dict,
    base_sql: str,
    nodes_view: str,
    rels_view: str,
    items: list[tuple[str, str, bool]],
    distinct: bool,
    stage_where: str | None,
    depth: int,
    dialect: str = "spark",
    rel_props: list[str] | None = None,
) -> str:
    """MATCH after WITH: join the pipeline stage back to the graph,
    anchored on the carried alias (``JOIN nodes ON nodes.ID = alias``),
    extend along the fresh pattern, and project the NEXT stage's items
    (the following WITH's, or RETURN's when this is the last element).
    ``stage_where`` is the preceding with-stage's trailing WHERE —
    filtering the stage rows before the graph re-join, so Catalyst
    pushes it below the join."""
    pnodes, prels = pm["nodes"], pm["rels"]
    if any(r.is_varlength for r in prels):
        return _match_stage_varlength_sql(
            pm, base_sql, nodes_view, rels_view, items, distinct,
            stage_where, depth, dialect, rel_props,
        )
    stage = f"_scope{depth}"
    anchor = pnodes[0].var
    if pm.get("fresh_anchor"):
        # property-anchored re-join (r6): the anchor is a FRESH node
        # joined on its label/property conditions; references to the
        # stage's carried aliases (in the prop values, the items, and
        # the WHEREs) are qualified with the stage alias — a bare name
        # would be ambiguous when an alias shadows a node column
        # (e.g. `name`). String literals are left untouched.
        def _qual(v: str) -> str:
            parts = re.split(r"('(?:[^'\\]|\\.)*')", v)
            for i in range(0, len(parts), 2):
                for al in pm.get("stage_aliases", ()):
                    parts[i] = re.sub(
                        rf"(?<![\w.]){re.escape(al)}\b",
                        f"{stage}.{al}",
                        parts[i],
                    )
            return "".join(parts)

        items = [(_qual(e), a, g) for e, a, g in items]
        if stage_where:
            stage_where = _qual(stage_where)
        if pm["where"]:
            pm = {**pm, "where": _qual(pm["where"])}
        aconds = [
            _label_cond(f"{anchor}.", lbl)
            for lbl in pnodes[0].labels
        ] + [f"{anchor}.{k} = {_qual(v)}" for k, v in pnodes[0].props]
        if aconds:
            joins = [
                f"JOIN {nodes_view} AS {anchor} ON " + " AND ".join(aconds)
            ]
        else:
            # no conditions at all: Cypher's cartesian product
            joins = [f"CROSS JOIN {nodes_view} AS {anchor}"]
    else:
        joins = [
            f"JOIN {nodes_view} AS {anchor} ON {anchor}.ID = {stage}.{anchor}"
        ]
    conds: list[str] = []
    if stage_where:
        conds.append(stage_where)
    for i, r in enumerate(prels):
        rv = r.var or f"_p{depth}_{i}"
        a, b = pnodes[i].var, pnodes[i + 1].var
        on, on2 = _rel_keys(r, rv, a, b)
        joins.append(f"JOIN {_rel_source(r, rv, rels_view)} ON {on}")
        joins.append(f"JOIN {nodes_view} AS {b} ON {on2}")
        if cond := _type_cond(r, rv):
            conds.append(cond)
        conds.extend(_prop_conds(r, rv))
    for n in pnodes[1:]:
        for lbl in n.labels:
            conds.append(_label_cond(f"{n.var}.", lbl))
        for key, lit in n.props:
            conds.append(f"{n.var}.{key} = {lit}")
    if pm["where"]:
        conds.append(pm["where"])

    select_parts = [f"{e} AS {a}" for e, a, _ in items]
    select_sql = ("DISTINCT " if distinct else "") + ", ".join(select_parts)
    group_cols = [e for e, _a, agg in items if not agg]
    has_agg = any(agg for _, _, agg in items)

    sql = f"SELECT {select_sql}\nFROM (\n{base_sql}\n) AS {stage}"
    for j in joins:
        sql += f"\n{j}"
    if conds:
        sql += "\nWHERE " + " AND ".join(conds)
    if has_agg and group_cols:
        sql += "\nGROUP BY " + ", ".join(group_cols)
    return sql


def _unwind_stage_sql(
    el: dict,
    base_sql: str,
    items: list[tuple[str, str, bool]],
    distinct: bool,
    stage_where: str | None,
    depth: int,
    dialect: str,
) -> str:
    """UNWIND after WITH: lateral explode of ``el['src']`` (an
    expression over the carried aliases) against the previous stage's
    rows, projecting the following stage's items. The preceding WITH's
    trailing WHERE rides in this SELECT — it cannot reference the
    iteration variable (out of scope at parse time), so pre- vs
    post-explode placement is equivalent and Catalyst pushes it."""
    stage = f"_scope{depth}"
    src, alias = el["src"], el["alias"]
    select_parts = [f"{e} AS {a}" for e, a, _ in items]
    select_sql = ("DISTINCT " if distinct else "") + ", ".join(select_parts)
    group_cols = [e for e, _a, agg in items if not agg]
    has_agg = any(agg for _, _, agg in items)
    sql = f"SELECT {select_sql}\nFROM (\n{base_sql}\n) AS {stage}"
    if dialect == "spark":
        sql += f"\nLATERAL VIEW explode({src}) _uw{depth} AS {alias}"
    else:
        sql += f"\nCROSS JOIN unnest({src}) AS _uw{depth}({alias})"
    if stage_where:
        sql += f"\nWHERE {stage_where}"
    if has_agg and group_cols:
        sql += "\nGROUP BY " + ", ".join(group_cols)
    return sql


def _match_stage_varlength_sql(
    pm: dict,
    base_sql: str,
    nodes_view: str,
    rels_view: str,
    items: list[tuple[str, str, bool]],
    distinct: bool,
    stage_where: str | None,
    depth: int,
    dialect: str = "spark",
    rel_props: list[str] | None = None,
) -> str:
    """MATCH after WITH with BOUNDED variable-length segments (r6):
    each length combination becomes one branch — the stage subquery
    re-anchored on the carried alias and extended along the expanded
    fixed chain — and the branches UNION ALL before the projection /
    aggregation, exactly ``_varlength_sql``'s shape one pipeline stage
    deep. The stage subquery is embedded per branch (<= 8 by the
    branch cap, and bounded varlength in practice is *1..2 / *1..3);
    pattern var.prop references are carried out of the branches as
    ``var_prop`` columns, stage aliases flow through ``stage.*``."""
    import itertools

    pnodes, prels = pm["nodes"], pm["rels"]
    combos = list(
        itertools.product(*[range(r.minlen, r.maxlen + 1) for r in prels])
    )
    if len(combos) > _MAX_VARLENGTH_BRANCHES:
        raise CypherUnsupported(
            f"MATCH-after-WITH pattern expands to {len(combos)} length "
            f"combinations (cap {_MAX_VARLENGTH_BRANCHES})"
        )
    stage = f"_scope{depth}"
    anchor = pnodes[0].var
    known = {n.var for n in pnodes} | {r.var for r in prels if r.var}
    outer_exprs = [e for e, _a, _g in items]
    refs: set[tuple[str, str]] = set()
    for e in outer_exprs:
        for var, prop in re.findall(r"\b([A-Za-z_][A-Za-z0-9_]*)\.(\w+)", e):
            if var in known:
                refs.add((var, prop))
    ref_list = sorted(refs)

    id_props = sorted(rel_props or [])
    branches: list[str] = []
    for bi, lengths in enumerate(combos):
        bnodes = [pnodes[0]]
        brels: list[_RelPat] = []
        b_is_hop: list[bool] = []
        for i, (r, L) in enumerate(zip(prels, lengths)):
            for k in range(L):
                is_last = k == L - 1
                target = (
                    pnodes[i + 1]
                    if is_last
                    else _NodePat(f"_s{depth}_{bi}_{i}_{k}")
                )
                extra = list(r.extra_props)
                if r.direction == "-":
                    # the per-path identity conds below compare every
                    # rel property — the union view must carry them
                    extra = sorted(set(extra) | set(id_props))
                brels.append(
                    _RelPat(
                        r.var if not r.is_varlength else "",
                        r.rtypes,
                        r.direction,
                        props=list(r.props),
                        extra_props=extra,
                    )
                )
                b_is_hop.append(r.is_varlength)
                bnodes.append(target)
        joins = [
            f"JOIN {nodes_view} AS {anchor} ON {anchor}.ID = {stage}.{anchor}"
        ]
        conds: list[str] = []
        uniq_slots: list[tuple[str, bool, list[str], int, bool]] = []
        if stage_where:
            conds.append(stage_where)
        for i, r in enumerate(brels):
            rv = r.var or f"_p{depth}_{bi}_{i}"
            a, b = bnodes[i].var, bnodes[i + 1].var
            on, on2 = _rel_keys(r, rv, a, b)
            joins.append(f"JOIN {_rel_source(r, rv, rels_view)} ON {on}")
            joins.append(f"JOIN {nodes_view} AS {b} ON {on2}")
            if cond := _type_cond(r, rv):
                conds.append(cond)
            conds.extend(_prop_conds(r, rv))
            uniq_slots.append(
                (rv, r.direction == "-", list(r.rtypes), 0, b_is_hop[i])
            )
        # per-path relationship uniqueness across the expanded hops
        # (r8 — see _path_edge_identity_conds)
        conds.extend(
            _path_edge_identity_conds(uniq_slots, dialect, id_props)
        )
        for n in bnodes[1:]:
            for lbl in n.labels:
                conds.append(_label_cond(f"{n.var}.", lbl))
            for key, lit in n.props:
                conds.append(f"{n.var}.{key} = {lit}")
        if pm["where"]:
            conds.append(pm["where"])
        select = f"{stage}.*"
        for v, p in ref_list:
            select += f", {v}.{p} AS {v}_{p}"
        b_sql = f"SELECT {select}\nFROM (\n{base_sql}\n) AS {stage}"
        for j in joins:
            b_sql += f"\n{j}"
        if conds:
            b_sql += "\nWHERE " + " AND ".join(conds)
        branches.append(b_sql)

    union = "\nUNION ALL\n".join(branches)

    def rewrite(e: str) -> str:
        for v, p in ref_list:
            e = re.sub(rf"\b{v}\.{p}\b", f"{v}_{p}", e)
        return e

    select_parts = [f"{rewrite(e)} AS {a}" for e, a, _ in items]
    select_sql = ("DISTINCT " if distinct else "") + ", ".join(select_parts)
    group_cols = [rewrite(e) for e, _a, agg in items if not agg]
    has_agg = any(agg for _, _, agg in items)
    sql = f"SELECT {select_sql}\nFROM (\n{union}\n) AS _vmatch{depth}"
    if has_agg and group_cols:
        sql += "\nGROUP BY " + ", ".join(group_cols)
    return sql


def _call_stage_sql(
    el: dict,
    base_sql: str,
    nodes_view: str,
    rels_view: str,
    stage_where: str | None,
    depth: int,
) -> str:
    """One CALL { } pipeline element: extend the stage frame with the
    subquery's RETURN aliases, preserving every stage column (CALL does
    not reset the enclosing scope, unlike WITH).

    - cross: CROSS JOIN the independently-compiled body (execute-once).
    - flat: the inner chain joins the stage directly, anchored on the
      imported node id — one ordinary multi-way hash join, Cypher's
      per-row multiplicity for free.
    - derived: the inner chain compiles to a derived table keyed on the
      anchor id (grouped aggregate / DISTINCT / row_number top-k) and
      joins back on the key — stage-row multiplicity is preserved
      because the key join never collapses duplicate stage rows. A
      pure-aggregate body LEFT-joins with count/sum coalesced to 0
      (openCypher: an aggregating subquery yields exactly one row per
      input row, even over zero matches).
    ``stage_where`` is the preceding WITH's trailing WHERE (stage
    columns only — filtering before or while joining commutes)."""
    stage = f"_scope{depth}"

    def _qual(t: str, names) -> str:
        parts = re.split(r"('(?:[^'\\]|\\.)*')", t)
        for i in range(0, len(parts), 2):
            for al in names:
                parts[i] = re.sub(
                    rf"(?<![\w.]){re.escape(al)}\b",
                    f"{stage}.{al}",
                    parts[i],
                )
        return "".join(parts)

    if stage_where:
        stage_where = _qual(stage_where, el["stage_aliases"])
    if el["form"] == "cross":
        inner = _single_query_sql(
            el["sub_parser"], el["sub_ast"], nodes_view, rels_view
        )
        sql = (
            f"SELECT {stage}.*, _call{depth}.*\n"
            f"FROM (\n{base_sql}\n) AS {stage}\n"
            f"CROSS JOIN (\n{inner}\n) AS _call{depth}"
        )
        if stage_where:
            sql += f"\nWHERE {stage_where}"
        return sql

    nodes, rels = el["nodes"], el["rels"]
    anchor = nodes[0].var
    # undirected inner rels need their referenced props carried through
    # the natural+reverse union view
    _collect_undirected_prop_refs(
        {
            "items": el["items"],
            "where": el["where"],
            "order": el["order"],
            "nodes": nodes,
            "rels": rels,
            "chains": [(nodes, rels)],
        }
    )
    _, joins, conds = _chain(
        nodes, rels, nodes_view, rels_view, f"c{depth}_",
        bool(el.get("rel_id")),
    )
    # _chain names anonymous rels _r{tag}{i} — mirror that here
    slots = [
        (r.var or f"_rc{depth}_{i}", r.direction == "-", r.rtypes, 0)
        for i, r in enumerate(rels)
    ]
    conds.extend(_rel_uniqueness_conds(slots, bool(el.get("rel_id"))))
    if el["where"]:
        conds.append(el["where"])

    if el["form"] == "flat":
        # scalar imports referenced inside the body are stage columns
        items = [
            (_qual(e, el["scalar_imports"]), a, g) for e, a, g in el["items"]
        ]
        conds = [_qual(c, el["scalar_imports"]) for c in conds]
        # imported nodes re-binding mid/end-chain link to their stage id
        for n in nodes[1:]:
            if n.var in el["node_imports"]:
                conds.append(f"{n.var}.ID = {stage}.{n.var}")
        if stage_where:
            conds.append(stage_where)
        sel = ", ".join(f"{e} AS {a}" for e, a, _ in items)
        sql = (
            f"SELECT {stage}.*, {sel}\n"
            f"FROM (\n{base_sql}\n) AS {stage}\n"
            f"JOIN {nodes_view} AS {anchor} "
            f"ON {anchor}.ID = {stage}.{anchor}"
        )
        for j in joins:
            sql += f"\n{j}"
        if conds:
            sql += "\nWHERE " + " AND ".join(conds)
        return sql

    # ---- derived: grouped / distinct / top-k keyed on the anchor ----
    key = f"{anchor}.ID"
    items = el["items"]
    has_agg = any(g for _, _, g in items)
    inner_sel = [f"{key} AS _ck{depth}"] + [
        f"{e} AS {a}" for e, a, _ in items
    ]
    inner = "SELECT "
    if el["distinct"]:
        inner += "DISTINCT "
    inner += ", ".join(inner_sel)
    inner += f"\nFROM {nodes_view} AS {anchor}"
    for j in joins:
        inner += f"\n{j}"
    if conds:
        inner += "\nWHERE " + " AND ".join(conds)
    if has_agg:
        group = [key] + [e for e, _a, g in items if not g]
        inner += "\nGROUP BY " + ", ".join(group)
    if el["limit"] is not None:
        parts = ", ".join(
            f"{e} {_dir_sql(d)}" for e, d in el["order"]
        )
        rn = (
            f"row_number() OVER (PARTITION BY {key} ORDER BY {parts}) "
            f"AS _rn{depth}"
        )
        inner = "SELECT " + ", ".join(inner_sel + [rn]) + inner[
            inner.index(f"\nFROM {nodes_view} AS {anchor}"):
        ]
        try:
            lo = int(el["skip"] or 0)
            hi = lo + int(el["limit"])
        except (TypeError, ValueError):
            raise CypherUnsupported(
                "SKIP/LIMIT inside CALL { } must be integer literals"
            )
        cols = ", ".join([f"_ck{depth}"] + [a for _, a, _ in items])
        inner = (
            f"SELECT {cols} FROM (\n{inner}\n) AS _topk{depth} "
            f"WHERE _rn{depth} > {lo} AND _rn{depth} <= {hi}"
        )
    join_kw = "LEFT JOIN" if el["pure_agg"] else "JOIN"
    outer_items = []
    for e, a, _g in items:
        if el["pure_agg"] and re.match(r"(?is)^\s*(count|sum)\s*\(", e):
            # openCypher: count/sum over zero matches is 0, not NULL
            outer_items.append(f"coalesce(_call{depth}.{a}, 0) AS {a}")
        else:
            outer_items.append(f"_call{depth}.{a} AS {a}")
    sql = (
        f"SELECT {stage}.*, " + ", ".join(outer_items) + "\n"
        f"FROM (\n{base_sql}\n) AS {stage}\n"
        f"{join_kw} (\n{inner}\n) AS _call{depth} "
        f"ON _call{depth}._ck{depth} = {stage}.{el['node_imports'][0]}"
    )
    if stage_where:
        sql += f"\nWHERE {stage_where}"
    return sql


def _stage_sql(
    base_sql: str,
    items: list[tuple[str, str, bool]],
    distinct: bool,
    where: str | None,
    depth: int,
    nodes_view: str | None = None,
    carried: tuple[str, ...] | list[str] = (),
) -> str:
    """One pipeline stage: SELECT items over the previous stage's
    aliases, optional filter, implicit grouping.

    ``carried`` names node variables carried BARE through the previous
    WITH (their stage column is the node id): any ``var.prop``
    reference re-joins the node table on the carried id, and bare
    ``var`` references are qualified with the stage alias (the join
    introduces a same-named table alias)."""
    stage = f"_with{depth}"
    texts = [e for e, _a, _g in items] + ([where] if where else [])
    need = [
        v
        for v in carried
        if any(re.search(rf"(?<![\w.]){re.escape(v)}\.\w", t) for t in texts)
    ]
    joins = ""
    if need and nodes_view:

        def _q(t: str) -> str:
            parts = re.split(r"('(?:[^'\\]|\\.)*')", t)
            for i in range(0, len(parts), 2):
                for v in need:
                    parts[i] = re.sub(
                        rf"(?<![\w.]){re.escape(v)}\b(?!\.)",
                        f"{stage}.{v}",
                        parts[i],
                    )
            return "".join(parts)

        items = [(_q(e), a, g) for e, a, g in items]
        if where:
            where = _q(where)
        joins = "".join(
            f"\nJOIN {nodes_view} AS {v} ON {v}.ID = {stage}.{v}"
            for v in need
        )
    select_parts = [f"{e} AS {a}" for e, a, _ in items]
    select_sql = ("DISTINCT " if distinct else "") + ", ".join(select_parts)
    group_cols = [e for e, _a, agg in items if not agg]
    has_agg = any(agg for _, _, agg in items)

    sql = f"SELECT {select_sql}\nFROM (\n{base_sql}\n) AS {stage}{joins}"
    if where:
        sql += f"\nWHERE {where}"
    if has_agg and group_cols:
        sql += "\nGROUP BY " + ", ".join(group_cols)
    return sql


def _optional_stage_sql(
    pm: dict,
    base_sql: str,
    nodes_view: str,
    rels_view: str,
    items: list[tuple[str, str, bool]],
    distinct: bool,
    stage_where: str | None,
    depth: int,
) -> str:
    """OPTIONAL MATCH after WITH: LEFT-join the graph back onto the
    pipeline stage as ONE nested join (all-or-nothing pattern
    semantics, same emission as a plain OPTIONAL MATCH clause), the
    anchor link rewritten to the stage's carried-alias column. Carried
    aliases referenced in the items/WHEREs are qualified with the
    stage alias — a bare name would be ambiguous when an alias shadows
    a node column."""
    stage = f"_scope{depth}"
    anchor = pm["nodes"][0].var

    def _qual(v: str) -> str:
        parts = re.split(r"('(?:[^'\\]|\\.)*')", v)
        for i in range(0, len(parts), 2):
            for al in pm.get("stage_aliases", ()):
                parts[i] = re.sub(
                    rf"(?<![\w.]){re.escape(al)}\b",
                    f"{stage}.{al}",
                    parts[i],
                )
        return "".join(parts)

    items = [(_qual(e), a, g) for e, a, g in items]
    if stage_where:
        stage_where = _qual(stage_where)
    owhere = _qual(pm["where"]) if pm["where"] else None
    nested = _optional_nested_join(
        100 + depth, pm["nodes"], pm["rels"], owhere, nodes_view, rels_view
    )
    # the anchor is a stage COLUMN (a carried node id), not a table
    nested = re.sub(
        rf"(?<![\w.]){re.escape(anchor)}\.ID\b",
        f"{stage}.{anchor}",
        nested,
    )
    select_parts = [f"{e} AS {a}" for e, a, _ in items]
    select_sql = ("DISTINCT " if distinct else "") + ", ".join(select_parts)
    group_cols = [e for e, _a, agg in items if not agg]
    has_agg = any(agg for _, _, agg in items)
    sql = f"SELECT {select_sql}\nFROM (\n{base_sql}\n) AS {stage}\n{nested}"
    if stage_where:
        sql += f"\nWHERE {stage_where}"
    if has_agg and group_cols:
        sql += "\nGROUP BY " + ", ".join(group_cols)
    return sql


def _stage_tail(sql: str, st: dict, depth: int) -> str:
    """Apply a WITH stage's ORDER BY / SKIP / LIMIT (Cypher pagination
    binds to the projection; the stage's trailing WHERE — emitted by
    the NEXT stage — then filters the paginated rows, openCypher's
    WITH…LIMIT…WHERE order of operations)."""
    order = st.get("order") or []
    skip, limit = st.get("skip"), st.get("limit")
    if not order and skip is None and limit is None:
        return sql
    sql = f"SELECT * FROM (\n{sql}\n) AS _paged{depth}"
    if order:
        parts = [f"{_order_ref(e, st['items'])} {_dir_sql(d)}" for e, d in order]
        sql += "\nORDER BY " + ", ".join(parts)
    if limit is not None:
        sql += f"\nLIMIT {limit}"
    if skip is not None:
        sql += f"\nOFFSET {skip}"
    return sql


def _opt_varlength_recursive_derived(
    seg: _RelPat,
    rels_view: str,
    oi: int,
    max_hops: int | None = None,
    dialect: str = "spark",
) -> str:
    """Derived table for an UNBOUNDED (or deep-bounded) varlength
    segment inside OPTIONAL MATCH: the distinct-frontier recursive CTE
    nested as a parenthesized subquery (both engines accept WITH
    RECURSIVE inside a derived table — the same trick the main
    unbounded emission uses), yielding ``(_oa, _ob)`` — one row per
    REACHABLE endpoint pair within the hop bound. Reachability
    semantics: the common ``OPTIONAL MATCH (a)-[*]->(b)`` idiom asks
    "what can a reach / can it reach anything", and distinct-frontier
    keeps the per-hop state <= |V|² (walk enumeration under a LEFT
    join could not be bounded safely). minlen >= 2 carries the same
    documented walk-reachability divergence as the main emission."""
    if seg.direction == "-":
        pextra = "".join(f", {k}" for k, _ in seg.props)
        walk_view = (
            f"(SELECT START_ID, END_ID, TYPE{pextra} FROM {rels_view} "
            f"UNION ALL SELECT END_ID AS START_ID, START_ID AS END_ID, "
            f"TYPE{pextra} FROM {rels_view})"
        )
        src, dst = "START_ID", "END_ID"
    else:
        src, dst = (
            ("START_ID", "END_ID")
            if seg.direction == "->"
            else ("END_ID", "START_ID")
        )
        walk_view = rels_view
    if seg.maxlen is not None:
        guard = seg.maxlen
    else:
        guard = max_hops or UNBOUNDED_HOP_GUARD
        if seg.minlen > guard:
            guard = seg.minlen + UNBOUNDED_HOP_GUARD - 1
    tc = _type_cond(seg, "_e")
    seg_pc = _prop_conds(seg, "_e")
    if seg_pc:
        tc = " AND ".join(([tc] if tc else []) + seg_pc)
    cte = f"_ovlp{oi}"
    anchor = (
        f"SELECT DISTINCT {src} AS _oa, {dst} AS _ob, 1 AS _hops "
        f"FROM {walk_view} AS _e"
    )
    if tc:
        anchor += f" WHERE {tc}"
    step = (
        f"SELECT DISTINCT _p._oa, _e.{dst} AS _ob, _p._hops + 1 AS _hops "
        f"FROM {cte} AS _p JOIN {walk_view} AS _e ON _e.{src} = _p._ob"
    )
    if tc:
        step += f" AND {tc}"
    step += f" WHERE _p._hops < {guard}"
    sel = f"SELECT DISTINCT _oa, _ob FROM {cte}"
    if seg.minlen > 1:
        sel += f" WHERE _hops >= {seg.minlen}"
    if dialect == "spark":
        # same driver-loop markers as the main unbounded emission (see
        # _varlength_recursive_sql) — comments, so the text stays valid
        # SQL for native execution and only the runner interprets them
        return (
            f"(/*rec[{cte}]*/WITH RECURSIVE {cte}(_oa, _ob, _hops) AS (\n"
            f"/*rec-anchor*/{anchor}/*end-rec-anchor*/\nUNION ALL\n"
            f"/*rec-step*/{step}/*end-rec-step*/\n)/*end-rec[{cte}]*/ {sel})"
        )
    return (
        f"(WITH RECURSIVE {cte}(_oa, _ob, _hops) AS (\n"
        f"{anchor}\nUNION ALL\n{step}\n) {sel})"
    )


def _opt_varlength_derived(
    seg: _RelPat,
    rels_view: str,
    dialect: str = "spark",
    rel_props: list[str] | None = None,
) -> str:
    """Derived table for a bounded varlength segment inside OPTIONAL
    MATCH: ``(anchor_id AS _oa, target_id AS _ob)`` — a UNION ALL over
    lengths ∈ [minlen, maxlen], each a fixed chain of rel joins (one
    row per path, Cypher's path-row multiplicity). LEFT-JOINing this on
    the anchor preserves anchor rows with no expansion (null-extended),
    which a chain of per-hop LEFT JOINs could not express for length
    mixes. Per-path edge uniqueness is enforced pairwise across the
    hops (r8 — same identity choice as _path_edge_identity_conds)."""
    props = sorted(rel_props or [])
    und = seg.direction == "-"
    if und:
        # undirected: each hop reads the natural+reverse union closure
        # (the same projection trick as _rel_source), so a physical
        # edge is traversable in both orientations; _OS/_OE keep the
        # physical orientation (and all props ride along) for the
        # per-path identity conds
        extra = "".join(f", {p}" for p in props)
        hop_view = (
            f"(SELECT START_ID, END_ID, TYPE{extra},"
            f" START_ID AS _OS, END_ID AS _OE FROM {rels_view}"
            f" UNION ALL"
            f" SELECT END_ID AS START_ID, START_ID AS END_ID, TYPE{extra},"
            f" START_ID AS _OS, END_ID AS _OE FROM {rels_view})"
        )
        src, dst = "START_ID", "END_ID"
    else:
        hop_view = rels_view
        src, dst = (
            ("START_ID", "END_ID")
            if seg.direction == "->"
            else ("END_ID", "START_ID")
        )
    branches: list[str] = []
    for L in range(seg.minlen, seg.maxlen + 1):
        from_sql = f"{hop_view} AS _h1"
        conds: list[str] = []
        for i in range(1, L + 1):
            if i > 1:
                from_sql += (
                    f" JOIN {hop_view} AS _h{i} "
                    f"ON _h{i}.{src} = _h{i - 1}.{dst}"
                )
            if tc := _type_cond(seg, f"_h{i}"):
                conds.append(tc)
            conds.extend(_prop_conds(seg, f"_h{i}"))
        conds.extend(
            _path_edge_identity_conds(
                [
                    (f"_h{i}", und, list(seg.rtypes), 0, True)
                    for i in range(1, L + 1)
                ],
                dialect,
                props,
            )
        )
        b_sql = (
            f"SELECT _h1.{src} AS _oa, _h{L}.{dst} AS _ob FROM {from_sql}"
        )
        if conds:
            b_sql += " WHERE " + " AND ".join(conds)
        branches.append(b_sql)
    return "(" + "\nUNION ALL\n".join(branches) + ")"


def _optional_nested_join(
    oi: int,
    onodes: list[_NodePat],
    orels: list[_RelPat],
    owhere: str | None,
    nodes_view: str,
    rels_view: str,
    rel_id: bool = False,
) -> str:
    """One OPTIONAL MATCH clause as a single nested parenthesized
    join: ``LEFT JOIN (rels AS r JOIN nodes AS b ON … labels …) ON
    anchor-link``. The inner tree binds the whole pattern as a unit,
    so a failed label/property test on ANY hop nulls every optional
    variable together (Cypher's all-or-nothing clause semantics) —
    the flat LEFT-JOIN chain can only null the failing suffix.
    Anchor-referencing conditions (the first rel's key, the clause
    WHERE) ride in the outer ON; everything else joins inner."""
    oslots = [
        (r.var or f"_o{oi}_{i}", r.direction == "-", list(r.rtypes), 0)
        for i, r in enumerate(orels)
    ]
    inner = ""
    outer_on: list[str] = []
    for i, r in enumerate(orels):
        rv = oslots[i][0]
        a, b = onodes[i].var, onodes[i + 1].var
        on, on2 = _rel_keys(r, rv, a, b)
        rconds: list[str] = []
        if cond := _type_cond(r, rv):
            rconds.append(cond)
        rconds.extend(_prop_conds(r, rv))
        tgt = onodes[i + 1]
        nconds = [
            _label_cond(f"{b}.", lbl) for lbl in tgt.labels
        ] + [f"{b}.{key} = {lit}" for key, lit in tgt.props]
        for j in range(i):
            nconds.extend(
                _rel_uniqueness_conds([oslots[j], oslots[i]], rel_id)
            )
        if i == 0:
            inner = _rel_source(r, rv, rels_view, rel_id)
            outer_on.append(on)  # anchor link — the only outer-var ref
            inner += (
                f"\n  JOIN {nodes_view} AS {b} ON "
                + " AND ".join([on2, *rconds, *nconds])
            )
        else:
            inner += (
                f"\n  JOIN {_rel_source(r, rv, rels_view, rel_id)} ON "
                + " AND ".join([on, *rconds])
            )
            inner += (
                f"\n  JOIN {nodes_view} AS {b} ON "
                + " AND ".join([on2, *nconds])
            )
    if owhere:
        outer_on.append(f"({owhere})")
    return f"LEFT JOIN (\n  {inner}\n) ON " + " AND ".join(outer_on)


def _plain_sql(ast: dict, nodes_view: str, rels_view: str) -> str:
    nodes, rels = ast["nodes"], ast["rels"]
    _collect_undirected_prop_refs(ast)
    unwinds = list(ast.get("unwinds", ()))
    lc = ast.get("lead_call")
    lc_sql = (
        _single_query_sql(lc["sub_parser"], lc["sub_ast"], nodes_view, rels_view)
        if lc
        else None
    )
    if not nodes:
        if lc is not None:
            # leading CALL { }: the subquery's result frame IS the
            # FROM source (execute-once; any UNWINDs explode laterally
            # over it below). A leading WITH after the CALL projects
            # over that frame — wrap it, or its aliases vanish and the
            # RETURN references undefined columns (r7 ADVICE).
            if ast.get("lead_with"):
                proj = ", ".join(
                    f"{e} AS {a}" for e, a, _ in ast["lead_with"]
                )
                from_sql = (
                    f"(SELECT {proj} FROM ({lc_sql}) AS _lc1) AS _lc0"
                )
            else:
                from_sql = f"({lc_sql}) AS _lc0"
            joins, conds = [], []
        elif ast.get("lead_with"):
            # leading WITH: a one-row constant projection is the FROM
            # source; every UNWIND rides the lateral-view loop below
            proj = ", ".join(f"{e} AS {a}" for e, a, _ in ast["lead_with"])
            from_sql = f"(SELECT {proj}) AS _w0"
            joins, conds = [], []
        elif unwinds:
            # UNWIND-only query: the first exploded list is the FROM source
            src, alias = unwinds.pop(0)
            if ast["dialect"] == "spark":
                from_sql = f"(SELECT explode({src}) AS {alias}) AS _uw0"
            else:
                from_sql = f"(SELECT unnest({src}) AS {alias}) AS _uw0"
            joins, conds = [], []
        else:
            # standalone RETURN: one-row expression evaluation, no FROM
            # clause at all (valid in both engines)
            from_sql = None
            joins, conds = [], []
    else:
        chains = ast.get("chains") or [(nodes, rels)]
        groups = ast.get("chain_groups") if ast.get("chains") else None
        if groups is not None and len(groups) != len(chains):
            groups = None  # defensive: stale/absent group info → one clause
        from_sql, joins, conds = _multi_chain(
            chains, nodes_view, rels_view, groups, bool(ast.get("rel_id"))
        )
        lead_from = None
        if lc is not None and ast.get("lead_with"):
            # MATCH after CALL { } + WITH: the WITH projects over the
            # subquery's frame (its items may reference the CALL's
            # aliases, so the projection must wrap the frame, not sit
            # beside it as a sibling join item)
            proj = ", ".join(f"{e} AS {a}" for e, a, _ in ast["lead_with"])
            lead_from = f"(SELECT {proj} FROM ({lc_sql}) AS _lc1) AS _w0"
        elif ast.get("lead_with"):
            # MATCH after a leading WITH: the 1-row constant projection
            # CROSS JOINs in front of the pattern (Catalyst broadcasts
            # the single row; every lead alias is then a plain column)
            proj = ", ".join(f"{e} AS {a}" for e, a, _ in ast["lead_with"])
            lead_from = f"(SELECT {proj}) AS _w0"
        elif lc is not None:
            # MATCH after a leading CALL: execute-once result frame
            # cross-joined in front of the pattern
            lead_from = f"({lc_sql}) AS _lc0"
        if ast.get("lead_optional"):
            # leading OPTIONAL MATCH: the whole pattern join tree LEFT
            # JOINs a 1-row anchor (the lead frame when present) with
            # every pattern/filter condition in the ON clause — zero
            # matches still yield one all-NULL row (openCypher). The
            # clause's WHERE belongs to the optional (null-preserving),
            # so it folds into the ON, not a post-join filter.
            # DuckDB rejects a PARENTHESIZED single table reference, so
            # only a multi-table join tree gets the grouping parens
            inner = (
                f"({from_sql} {' '.join(joins)})" if joins else from_sql
            )
            on_parts = list(conds)
            if ast.get("where"):
                on_parts.append(ast["where"])
                ast["where"] = None
            anchor = lead_from or "(SELECT TRUE AS _lopt_anchor) AS _lopt0"
            on = " AND ".join(on_parts) if on_parts else "TRUE"
            from_sql = f"{anchor} LEFT JOIN {inner} ON {on}"
            joins, conds = [], []
        elif lead_from is not None:
            from_sql = f"{lead_from} CROSS JOIN {from_sql}"

    for oi, (onodes, orels, owhere) in enumerate(ast["optionals"]):
        # LEFT-JOIN chain: pattern conditions live in the ON clause
        # (WHERE would defeat the null-preservation). When a non-anchor
        # node carries labels/properties, a failed test must null the
        # WHOLE pattern (rel vars included), so the clause compiles to
        # ONE nested parenthesized join — LEFT JOIN (rels JOIN nodes ON
        # … label conds …) ON anchor-link — which Catalyst/DuckDB treat
        # as a unit: no row of the inner tree, all optional vars null.
        if (
            any(n.labels or n.props for n in onodes[1:]) or len(orels) > 1
        ) and not any(r.is_varlength for r in orels):
            joins.append(
                _optional_nested_join(
                    oi, onodes, orels, owhere, nodes_view, rels_view,
                    bool(ast.get("rel_id")),
                )
            )
            continue
        if len(orels) == 1 and orels[0].is_varlength:
            # varlength OPTIONAL MATCH: ONE nested parenthesized LEFT
            # join — (derived expansion JOIN target node ON id +
            # labels/props) ON anchor — so a failed target test nulls
            # the whole clause instead of leaving a spurious
            # null-extended row per expansion walk (r7 fix: target
            # labels used to be dropped entirely). The derived table is
            # the bounded length-union (one row per walk, path-row
            # multiplicity) or, for unbounded `[*]` / deep bounds, the
            # distinct-frontier recursive CTE (one row per REACHABLE
            # pair — reachability semantics; multiplicity-sensitive
            # shapes over an unbounded optional segment are the
            # documented walk/frontier divergence family). The clause
            # WHERE rides in the outer ON (it may reference the bound
            # anchor).
            seg = orels[0]
            dv = f"_ovl{oi}"
            a, b = onodes[0].var, onodes[1].var
            tgt = onodes[1]
            if seg.is_unbounded or _needs_recursion(seg):
                derived = _opt_varlength_recursive_derived(
                    seg, rels_view, oi, ast.get("max_hops"),
                    ast.get("dialect", "spark"),
                )
            else:
                derived = _opt_varlength_derived(
                    seg, rels_view, ast["dialect"],
                    ast.get("rel_props"),
                )
            tconds = [
                _label_cond(f"{b}.", lbl) for lbl in tgt.labels
            ] + [f"{b}.{k} = {lit}" for k, lit in tgt.props]
            inner_on = " AND ".join([f"{b}.ID = {dv}._ob", *tconds])
            outer_on = f"{dv}._oa = {a}.ID"
            if owhere:
                outer_on += f" AND ({owhere})"
            joins.append(
                f"LEFT JOIN ({derived} AS {dv}\n"
                f"  JOIN {nodes_view} AS {b} ON {inner_on}\n"
                f") ON {outer_on}"
            )
            continue
        # Cypher's within-clause relationship uniqueness applies to an
        # OPTIONAL MATCH's own pattern too. Each slot's pairwise
        # not-same-edge predicates vs EARLIER slots ride in that slot's
        # own LEFT JOIN ON clause (WHERE would drop anchor rows instead
        # of nulling): a same-edge bind then nulls the slot and, via
        # the key chain, everything downstream of it.
        oslots = [
            (r.var or f"_o{oi}_{i}", r.direction == "-", list(r.rtypes), 0)
            for i, r in enumerate(orels)
        ]
        for i, r in enumerate(orels):
            rv = r.var or f"_o{oi}_{i}"
            a, b = onodes[i].var, onodes[i + 1].var
            on, on2 = _rel_keys(r, rv, a, b)
            if cond := _type_cond(r, rv):
                on = f"{on} AND {cond}"
            for pc in _prop_conds(r, rv):
                on = f"{on} AND {pc}"
            for j in range(i):
                for uc in _rel_uniqueness_conds(
                    [oslots[j], oslots[i]], bool(ast.get("rel_id"))
                ):
                    on = f"{on} AND {uc}"
            if owhere and i == len(orels) - 1:
                # the clause's own WHERE rides in the final ON so a
                # failed filter nulls the optional pattern instead of
                # dropping the anchor row (Cypher's semantics)
                on2 = f"{on2} AND ({owhere})"
            joins.append(
                f"LEFT JOIN "
                f"{_rel_source(r, rv, rels_view, bool(ast.get('rel_id')))} "
                f"ON {on}"
            )
            joins.append(f"LEFT JOIN {nodes_view} AS {b} ON {on2}")

    if ast["where"]:
        conds.append(ast["where"])

    select_parts = [f"{e} AS {a}" for e, a, _ in ast["items"]]
    select_sql = ("DISTINCT " if ast["distinct"] else "") + ", ".join(select_parts)
    # group by the underlying expressions, not the aliases: an alias
    # that shadows a joined-table column (`id` vs a.ID/b.ID) makes
    # GROUP BY <alias> ambiguous in Spark
    group_cols = [e for e, _a, agg in ast["items"] if not agg]
    has_agg = any(agg for _, _, agg in ast["items"])

    sql = f"SELECT {select_sql}"
    if from_sql is not None:
        sql += f"\nFROM {from_sql}"
    for j in joins:
        sql += f"\n{j}"
    for i, (src, alias) in enumerate(unwinds):
        if ast["dialect"] == "spark":
            sql += f"\nLATERAL VIEW explode({src}) _u{i} AS {alias}"
        else:
            sql += f"\nCROSS JOIN unnest({src}) AS _u{i}({alias})"
    if conds:
        sql += "\nWHERE " + " AND ".join(conds)
    if has_agg and group_cols:
        sql += "\nGROUP BY " + ", ".join(group_cols)
    return _order_limit_tail(sql, ast)


def _order_limit_tail(sql: str, ast: dict) -> str:
    """ORDER BY/LIMIT over the aliased projection in an outer query: a
    bare alias in ORDER BY would otherwise resolve ambiguously against
    same-named columns of the joined tables (alias `id` vs a.ID).

    openCypher also allows sorting by an expression that is NOT
    projected (``RETURN n.name ORDER BY n.age``) — the outer-query
    wrapper cannot see those columns, so that shape instead emits
    ORDER BY at the projection level, referencing projected items by
    their full expression text (never the bare alias, dodging the
    ambiguity above)."""
    if not (
        ast["order"] or ast["limit"] is not None or ast["skip"] is not None
    ):
        return sql
    items = ast["items"]
    aliases = {a for _, a, _ in items}
    exprs = {e for e, _, _ in items}

    def _projected(e: str) -> bool:
        return e in aliases or e in exprs

    if ast["order"] and not all(_projected(e) for e, _ in ast["order"]):
        if ast.get("distinct") or any(isagg for _, _, isagg in items):
            raise CypherUnsupported(
                "ORDER BY on a non-projected expression is not allowed "
                "with DISTINCT or aggregation (openCypher restriction)"
            )
        by_alias = {a: e for e, a, _ in items}
        parts = []
        for e, d in ast["order"]:
            parts.append(f"{by_alias.get(e, e)} {_dir_sql(d)}")
        sql += "\nORDER BY " + ", ".join(parts)
    else:
        sql = f"SELECT * FROM (\n{sql}\n) AS _projected"
        if ast["order"]:
            parts = []
            for e, d in ast["order"]:
                parts.append(f"{_order_ref(e, ast['items'])} {_dir_sql(d)}")
            sql += "\nORDER BY " + ", ".join(parts)
    if ast["limit"] is not None:
        sql += f"\nLIMIT {ast['limit']}"
    if ast["skip"] is not None:
        sql += f"\nOFFSET {ast['skip']}"
    return sql


_MAX_VARLENGTH_BRANCHES = 8

#: max hops for unbounded variable-length expansion (`[*]`, `*a..`) —
#: the recursion guard that keeps cyclic graphs from looping forever.
#: The reference gets true unbounded traversal for free from Neo4j
#: (TransactionApiJob.java:41-220); a distributed engine must bound the
#: frontier. Override per call via ``cypher_to_sql(..., max_hops=)``.
UNBOUNDED_HOP_GUARD = 10


def _vlp_multiplicity_insensitive(ast: dict) -> bool:
    """True when the query's result cannot depend on HOW MANY walks
    connect a (source, target, hops) triple — ``RETURN DISTINCT`` with
    no aggregates, or every aggregate duplicate-insensitive
    (count(DISTINCT ..), min, max, any_value). For such shapes the
    recursive expansion can run in distinct-frontier mode: each
    iteration keeps ≤|V|² distinct (source, target) rows instead of
    enumerating every walk, turning an exponential blowup on cyclic
    graphs into a linear-per-hop frontier — and since any walk contains
    a path, reachability under walk semantics EQUALS Cypher's
    edge-unique path semantics, so this mode is exact on cyclic graphs
    for minlen <= 1 shapes (for minlen >= 2 see the emitter docstring's
    documented divergence).

    Hop-referencing expressions (the ``_pathlen`` splice from
    ``size(r)`` / ``length(p)``) are frontier-safe ONLY as the exact
    aggregate ``min(_pathlen)``: per endpoint pair the minimum walk
    length equals the minimum edge-unique path length (a shortest walk
    never repeats an edge), so ``min`` is exact — but the distinct
    (src, tgt, hops) walk set contains hop counts with NO edge-unique
    witness on cyclic graphs, bounded only by the hop guard, so
    ``max(size(r))``, grouping or DISTINCT over ``size(r)``,
    ``count(DISTINCT size(r))``, or a WHERE on ``size(r)`` would
    return guard-dependent artifacts (r6 ADVICE: on a directed 2-cycle
    ``max(size(r))`` reported the guard, not 2). Those shapes route to
    walk enumeration with its documented divergence."""
    items = ast["items"]
    hop = re.compile(r"\b_pathlen\b")
    min_hop = re.compile(r"(?is)^\s*min\s*\(\s*_pathlen\s*\)\s*$")
    for e, _a, _agg in items:
        if hop.search(e) and not min_hop.match(e):
            return False
    if any(hop.search(e) for e, _d in ast["order"]):
        return False
    if ast["where"] and hop.search(ast["where"]):
        return False
    has_agg = any(agg for _, _, agg in items)
    if not has_agg:
        return bool(ast["distinct"])
    dup_safe = re.compile(
        r"(?is)^\s*(count\s*\(\s*distinct\b|min\s*\(|max\s*\(|any_value\s*\()"
    )
    return all(
        bool(dup_safe.match(e)) for e, _a, agg in items if agg
    )


def _varlength_recursive_sql(ast: dict, nodes_view: str, rels_view: str) -> str:
    """Unbounded variable-length patterns (``-[:T*]->``, ``-[:T*2..]->``,
    ``-[:T*]-``) as a recursive CTE — supported natively by BOTH dialects
    (Spark 4's ``WITH RECURSIVE`` and DuckDB's), so the oracle runs the
    exact same shape. The CTE enumerates (source, target, hops) rows up
    to ``max_hops``; the outer query splices it into the fixed chain like
    any other rel join, so node labels/props/WHERE/aggregates all apply
    unchanged. Spark executes the recursion as an iterative union-loop —
    per-hop join + union, each distributed; no driver-side traversal.

    Two execution modes, chosen from the query shape:

    - **distinct-frontier** (``_vlp_multiplicity_insensitive``): anchor
      and step both SELECT DISTINCT, bounding every iteration at |V|²
      rows — linear per hop, safe on cyclic graphs, and EXACT vs
      Cypher when ``minlen <= 1`` (walk-reachability ==
      edge-unique-path reachability; a hop-referencing aggregate is
      admitted only as ``min(size(r))``, which is exact because a
      shortest walk never repeats an edge). For **directed
      ``minlen >= 2``** with edge identity available the mode upgrades
      to **trail enumeration** (r9): the recursion carries the set of
      traversed REL_IDs and never reuses an edge, making hops >= 2
      reachability EXACT on cycles too (tests/test_cypher_golden.py
      g144/g157 assert the openCypher rows). Trail rows grow with the
      trail count, not |V|² — bounded by the hop guard and the session
      ``cteRecursionRowLimit``, the same budget walk mode runs under.
      Undirected and identity-less (triple-mode) queries keep the
      linear frontier with the walk-reachability divergence at
      minlen >= 2, documented here and in the g17 note.
    - **walk enumeration** (multiplicity-sensitive shapes, e.g.
      ``count(*) AS paths``, and any non-``min`` hop-referencing
      shape such as ``max(size(r))`` or grouping/WHERE on
      ``size(r)``): every walk is a row. Documented divergence:
      per-path relationship uniqueness is not enforced — exact on
      DAGs (a directed walk in a DAG is a path), while on graphs with
      directed cycles hop-referencing results are bounded by the hop
      guard rather than true longest-trail semantics (exact
      longest-trail is NP-hard), and the guard + the session
      ``cteRecursionRowLimit`` backstop bound the blowup.

    Scope: one unbounded segment per pattern, unbound var — the other
    rels in the chain must be fixed-length. Undirected (``-[*]-``)
    traverses the symmetric edge closure and is supported only in
    distinct-frontier mode (walk counting over the closure would count
    a↔b ping-pong walks that Cypher's edge-uniqueness forbids).

    Undirected divergence (asserted in tests/test_cypher_golden.py
    g17): closure walk-reachability can report the START node as
    reachable from itself via a single-edge backtrack, which Cypher's
    rel-uniqueness forbids unless the component has an edge-distinct
    closed trail through it. Every s→t row with t ≠ s is exact (an
    undirected walk reduces to an edge-distinct trail when the
    endpoints differ); directed mode is exact for all rows when
    ``minlen <= 1`` (see the minlen >= 2 divergence above).
    """
    nodes, rels = ast["nodes"], ast["rels"]
    _collect_undirected_prop_refs(ast)
    if ast.get("lead_with"):
        raise CypherUnsupported(
            "a leading WITH combined with variable-length patterns is "
            "not supported"
        )
    if ast["optionals"]:
        raise CypherUnsupported(
            "OPTIONAL MATCH combined with variable-length is not supported"
        )
    chains = ast.get("chains") or [(nodes, rels)]
    if len(chains) > 1:
        raise CypherUnsupported(
            "unbounded variable-length with comma-separated patterns is "
            "not supported"
        )
    unb = [r for r in rels if r.is_unbounded or _needs_recursion(r)]
    if len(unb) > 1 or any(
        r.is_varlength and r not in unb for r in rels
    ):
        raise CypherUnsupported(
            "only one variable-length segment is supported when a pattern "
            "contains an unbounded (*) or deep-bounded segment"
        )
    seg = unb[0]
    if seg.var:
        raise CypherUnsupported(
            "binding an unbounded variable-length relationship to a "
            "variable is not supported"
        )
    shortest = bool(ast.get("shortest"))
    # shortestPath is inherently multiplicity-insensitive (one row per
    # endpoint pair, min hops) — always safe in distinct-frontier mode
    frontier_distinct = shortest or _vlp_multiplicity_insensitive(ast)
    # r9: EXACT minlen >= 2 via per-path edge-set state (trail mode).
    # The linear distinct frontier reports walk-reachability at
    # hops >= 2, which on cycles includes endpoint pairs with NO
    # edge-unique path (the long-documented g144 divergence). With
    # edge identity available, the recursion instead carries the set
    # of traversed REL_IDs and refuses to reuse an edge — true
    # edge-distinct trail enumeration, exact vs openCypher. The
    # frontier's |V|² per-iteration bound does not hold here (trail
    # counts can grow combinatorially on dense graphs), so the mode
    # runs behind the same size guards walk mode does: the hop guard
    # (max_hops / declared upper bound) and the session's
    # cteRecursionRowLimit backstop. shortestPath keeps the frontier
    # (min-hops is already exact there); undirected keeps the frontier
    # (closure walk rows with distinct endpoints are exact, and the
    # self-reachability edge case stays the documented g17 note).
    trail = (
        frontier_distinct
        and not shortest
        and seg.minlen >= 2
        and seg.direction != "-"
        and bool(ast.get("rel_id"))
    )
    walk_view = rels_view
    if seg.direction == "-":
        if not frontier_distinct:
            raise CypherUnsupported(
                "undirected unbounded variable-length requires a "
                "duplicate-insensitive query shape (RETURN DISTINCT or "
                "min/max/count(DISTINCT) aggregates): walk counting over "
                "the symmetric closure would count a<->b ping-pong walks "
                "that Cypher's relationship uniqueness forbids"
            )
        # symmetric edge closure: every edge traversable both ways;
        # distinct-frontier reachability over it == Cypher's undirected
        # path reachability (any walk contains a path). Pattern-prop
        # columns ride along so `{key: val}` filters apply per step.
        pextra = "".join(f", {k}" for k, _ in seg.props)
        walk_view = (
            f"(SELECT START_ID, END_ID, TYPE{pextra} FROM {rels_view} "
            f"UNION ALL SELECT END_ID AS START_ID, START_ID AS END_ID, "
            f"TYPE{pextra} FROM {rels_view})"
        )
        src, dst = "START_ID", "END_ID"
    else:
        # edge orientation: traversal always walks a -> b in pattern order
        src, dst = (
            ("START_ID", "END_ID")
            if seg.direction == "->"
            else ("END_ID", "START_ID")
        )
    if seg.maxlen is not None:
        # deep BOUNDED segment: the recursion depth IS the declared
        # upper bound — exact semantics, no guard truncation
        guard = seg.maxlen
    else:
        guard = ast.get("max_hops") or UNBOUNDED_HOP_GUARD
    if seg.maxlen is None and seg.minlen > guard:
        if ast.get("max_hops"):
            raise CypherUnsupported(
                f"variable-length lower bound {seg.minlen} exceeds "
                f"max_hops={guard}: the expansion would be empty by "
                "construction (recursion stops before the lower bound)"
            )
        # default guard below the open lower bound (e.g. `*12..` with
        # guard 10) would silently return zero rows — grow it so the
        # demanded band [minlen, minlen+headroom) is reachable
        guard = seg.minlen + UNBOUNDED_HOP_GUARD - 1
    tc = _type_cond(seg, "_e")
    # pattern-prop equalities on the unbounded segment apply to EVERY
    # traversed edge (Cypher: each rel in the path matches the map)
    seg_pc = _prop_conds(seg, "_e")
    if seg_pc:
        tc = " AND ".join(([tc] if tc else []) + seg_pc)
    # Seed the anchor from the segment's START node's label/property
    # conditions: predicates do NOT push down through the recursive
    # union loop, so without this the recursion expands paths from
    # EVERY edge and the start-node filter only prunes at the final
    # join — at scale that is the whole frontier wasted. The outer
    # query re-applies the same conditions (harmless), and _sid stays
    # fixed through the recursion, so anchor seeding is exact.
    seg_start = nodes[rels.index(seg)]
    seed = [
        _label_cond("", lbl) for lbl in seg_start.labels
    ] + [f"{k} = {lit}" for k, lit in seg_start.props]
    # trail mode: every row is a distinct partial trail, so DISTINCT
    # inside the CTE cannot compact the frontier — the outer query's
    # DISTINCT / duplicate-insensitive aggregates absorb multiplicity
    dk = "DISTINCT " if frontier_distinct and not trail else ""
    if trail:
        mk_set = (
            "array(_e.REL_ID)"
            if ast.get("dialect", "spark") == "spark"
            else "[_e.REL_ID]"
        )
        grow_set = (
            "array_append(_p._eids, _e.REL_ID)"
            if ast.get("dialect", "spark") == "spark"
            else "list_append(_p._eids, _e.REL_ID)"
        )
        has_edge = (
            "array_contains(_p._eids, _e.REL_ID)"
            if ast.get("dialect", "spark") == "spark"
            else "list_contains(_p._eids, _e.REL_ID)"
        )
        eid_anchor, eid_step = f", {mk_set} AS _eids", f", {grow_set} AS _eids"
        eid_cols = ", _eids"
    else:
        eid_anchor = eid_step = eid_cols = ""
    anchor = (
        f"SELECT {dk}{src} AS _sid, {dst} AS _tid, 1 AS _hops{eid_anchor} "
        f"FROM {walk_view} AS _e"
    )
    anchor_conds = ([tc] if tc else []) + (
        [
            f"_e.{src} IN (SELECT ID FROM {nodes_view} "
            f"WHERE {' AND '.join(seed)})"
        ]
        if seed
        else []
    )
    if anchor_conds:
        anchor += " WHERE " + " AND ".join(anchor_conds)
    step = (
        f"SELECT {dk}_p._sid, _e.{dst} AS _tid, _p._hops + 1 AS _hops"
        f"{eid_step}\n"
        f"  FROM _vlp AS _p JOIN {walk_view} AS _e ON _e.{src} = _p._tid"
    )
    if tc:
        step += f" AND {tc}"
    step += f"\n  WHERE _p._hops < {guard}"
    if trail:
        step += f" AND NOT {has_edge}"
    if ast.get("dialect", "spark") == "spark":
        # marker comments let the engine-side runner
        # (recursive_exec.run_recursive_sql) execute the union loop as
        # a driver-paced iteration: Spark's native UnionLoopExec
        # round-robin-repartitions AND counts every iteration (and
        # collect()s small ones a second time into a LocalRelation),
        # ~18-25 jobs for a 3-level recursion; the driver loop
        # materializes each level exactly once (lazy localCheckpoint +
        # count). The markers are plain SQL comments — the emitted
        # string stays valid for native execution (tests, EXPLAIN,
        # user-supplied spark.sql) and the DuckDB oracle text is
        # unchanged.
        cte = (
            f"/*rec[_vlp]*/WITH RECURSIVE _vlp(_sid, _tid, _hops"
            f"{eid_cols}) AS (\n"
            f"/*rec-anchor*/{anchor}/*end-rec-anchor*/\nUNION ALL\n"
            f"/*rec-step*/{step}/*end-rec-step*/\n)/*end-rec[_vlp]*/"
        )
    else:
        cte = (
            f"WITH RECURSIVE _vlp(_sid, _tid, _hops{eid_cols}) AS (\n"
            f"{anchor}\nUNION ALL\n{step}\n)"
        )
    seg_cte = "_vlp"
    if shortest:
        # one row per endpoint pair at its BFS level — exactly
        # shortestPath's one-path-per-pair multiplicity; a minlen
        # lower bound restricts the minimized set, not the recursion
        minf = f"\nWHERE _hops >= {seg.minlen}" if seg.minlen > 1 else ""
        cte += (
            ",\n_svlp AS (SELECT _sid, _tid, MIN(_hops) AS _hops "
            f"FROM _vlp{minf} GROUP BY _sid, _tid)"
        )
        seg_cte = "_svlp"

    from_sql = f"{nodes_view} AS {nodes[0].var}"
    joins: list[str] = []
    conds: list[str] = []
    for i, r in enumerate(rels):
        a, b = nodes[i].var, nodes[i + 1].var
        if r is seg:
            joins.append(f"JOIN {seg_cte} ON {seg_cte}._sid = {a}.ID")
            joins.append(
                f"JOIN {nodes_view} AS {b} ON {b}.ID = {seg_cte}._tid"
            )
            if seg.minlen > 1 and not shortest:
                conds.append(f"_vlp._hops >= {seg.minlen}")
        else:
            rv = r.var or f"_r{i}"
            on, on2 = _rel_keys(r, rv, a, b)
            joins.append(f"JOIN {_rel_source(r, rv, rels_view)} ON {on}")
            joins.append(f"JOIN {nodes_view} AS {b} ON {on2}")
            if c := _type_cond(r, rv):
                conds.append(c)
            conds.extend(_prop_conds(r, rv))
    for n in nodes:
        for lbl in n.labels:
            conds.append(_label_cond(f"{n.var}.", lbl))
        for key, lit in n.props:
            conds.append(f"{n.var}.{key} = {lit}")
    if ast["where"]:
        conds.append(ast["where"])

    items = ast["items"]
    order = ast["order"]
    if ast.get("vlp_path") or shortest:
        # size(r)/length(r)/length(p) spliced to the _pathlen marker at
        # parse time — here it is the CTE's hop counter (walk mode: each
        # enumerated walk row; shortest mode: the pair's BFS level)
        _rw = lambda s: re.sub(r"\b_pathlen\b", f"{seg_cte}._hops", s)
        items = [(_rw(e), a, g) for e, a, g in items]
        order = [(_rw(e), d) for e, d in order]
        conds = [_rw(c) for c in conds]

    select_parts = [f"{e} AS {a}" for e, a, _ in items]
    select_sql = ("DISTINCT " if ast["distinct"] else "") + ", ".join(select_parts)
    group_cols = [e for e, _a, agg in items if not agg]
    has_agg = any(agg for _, _, agg in items)
    core = f"{cte}\nSELECT {select_sql}\nFROM {from_sql}"
    for j in joins:
        core += f"\n{j}"
    if conds:
        core += "\nWHERE " + " AND ".join(conds)
    if has_agg and group_cols:
        core += "\nGROUP BY " + ", ".join(group_cols)
    # subquery wrapper so the emission composes under an outer WITH
    # (the oracle harness prepends `WITH gnodes AS (...), grels ...`)
    sql = f"SELECT * FROM (\n{core}\n) AS _unbounded"
    return _order_limit_tail(sql, {**ast, "items": items, "order": order})


def _varlength_sql(ast: dict, nodes_view: str, rels_view: str) -> str:
    """Variable-length patterns (``-[:T*a..b]->``) as a UNION ALL of
    fixed-length join chains under one outer projection/aggregation —
    each length L ∈ [a, b] expands to L joins through synthetic
    intermediate nodes, and RETURN aggregates see path rows across all
    lengths (Cypher's row semantics).

    Documented divergence: per-path relationship uniqueness (Cypher
    forbids reusing an edge within one path) is NOT enforced — the two
    differ only on graphs with directed cycles; enforcing it would need
    pairwise edge-key inequalities across segments.
    """
    import itertools

    nodes, rels = ast["nodes"], ast["rels"]
    _collect_undirected_prop_refs(ast)
    if ast.get("lead_with"):
        raise CypherUnsupported(
            "a leading WITH combined with variable-length patterns is "
            "not supported"
        )
    if ast["optionals"]:
        raise CypherUnsupported(
            "OPTIONAL MATCH combined with variable-length is not supported"
        )
    for r in rels:
        if r.is_varlength and r.var:
            raise CypherUnsupported(
                "binding a variable-length relationship to a variable is "
                "not supported (it would be a list of relationships)"
            )
        # undirected varlength (r6): each hop of a branch joins the
        # natural+reverse union view (_rel_source), so every step can
        # traverse either orientation — exactly Cypher's undirected
        # expansion, modulo the documented walk-vs-path divergence
        # (immediate edge backtracks are not excluded)

    chains = ast.get("chains") or [(nodes, rels)]
    groups_in = ast.get("chain_groups") or [0] * len(chains)
    all_rels = [r for _, cr in chains for r in cr]
    combos = list(
        itertools.product(*[range(r.minlen, r.maxlen + 1) for r in all_rels])
    )
    if len(combos) > _MAX_VARLENGTH_BRANCHES:
        raise CypherUnsupported(
            f"pattern expands to {len(combos)} length combinations "
            f"(cap {_MAX_VARLENGTH_BRANCHES})"
        )

    # every var.prop the outer query needs from the branches
    known = {n.var for n in nodes} | {r.var for r in rels if r.var}
    outer_exprs = [e for e, _a, _g in ast["items"]] + [
        e for e, _d in ast["order"]
    ]
    refs: set[tuple[str, str]] = set()
    for e in outer_exprs:
        for var, prop in re.findall(r"\b([A-Za-z_][A-Za-z0-9_]*)\.(\w+)", e):
            if var in known:
                refs.add((var, prop))
    ref_list = sorted(refs)

    rup = ast.get("vlp_rel_unwind") or []
    branches: list[str] = []
    for bi, lengths in enumerate(combos):
        length_it = iter(lengths)
        branch_chains: list[tuple[list[_NodePat], list[_RelPat]]] = []
        hop_rvs: list[str] = []  # the bound segment's per-hop aliases
        # (alias, undirected, types, clause_group, in_vl_chain) — for
        # the per-path edge-uniqueness conds appended after the chain
        # emission (r8 exactness, see below)
        uniq_slots: list[tuple[str, bool, list[str], int, bool]] = []
        for ci, (cn, cr) in enumerate(chains):
            bn = [cn[0]]
            br: list[_RelPat] = []
            vl_chain = any(r.is_varlength for r in cr)
            for i, r in enumerate(cr):
                L = next(length_it)
                for k in range(L):
                    is_last = k == L - 1
                    target = (
                        cn[i + 1]
                        if is_last
                        else _NodePat(f"_v{bi}_{ci}_{i}_{k}")
                    )
                    # every slot gets an explicit alias so the
                    # uniqueness conds can reference it (fixed rels
                    # keep their user name)
                    if r.is_varlength:
                        rv = f"_vh{bi}_{ci}_{i}_{k}"
                    else:
                        rv = r.var or f"_vf{bi}_{ci}_{i}"
                    extra = list(r.extra_props)
                    if r.direction == "-":
                        # undirected slots (any chain of a varlength
                        # pattern can pair with a hop in the identity
                        # conds below): the union view must carry every
                        # rel property — the conds compare them all
                        extra = sorted(
                            set(extra) | set(ast.get("rel_props") or [])
                        )
                    if rup and r.is_varlength:
                        # UNWIND r AS e: name every hop slot so the
                        # per-hop copies below can project its props
                        rv = f"_bvr{bi}_{len(hop_rvs)}"
                        hop_rvs.append(rv)
                        extra = sorted(set(extra) | set(rup))
                    uniq_slots.append(
                        (
                            rv,
                            r.direction == "-",
                            list(r.rtypes),
                            groups_in[ci],
                            vl_chain,
                        )
                    )
                    br.append(
                        _RelPat(
                            rv,
                            r.rtypes,
                            r.direction,
                            # carry pattern-prop equalities and the
                            # undirected union view's pass-through columns
                            # into the branch copy (dropping them silently
                            # lost `{key: val}` filters / `r.prop` refs on
                            # fixed rels in varlength-containing patterns)
                            props=list(r.props),
                            extra_props=extra,
                        )
                    )
                    bn.append(target)
            branch_chains.append((bn, br))
        bnodes = branch_chains[0][0]  # vlp_path/shortest are single-chain
        # comma patterns / consecutive MATCH clauses compose through the
        # shared-variable join emission; varlength-containing chains
        # pass group None to _multi_chain (their uniqueness is emitted
        # below in triple mode), fixed chains keep their clause groups
        # (REL_ID mode when available — exact on duplicate twins)
        from_sql, joins, conds = _multi_chain(
            branch_chains,
            nodes_view,
            rels_view,
            rel_id=bool(ast.get("rel_id")),
            groups=[
                None if any(r.is_varlength for r in cr) else groups_in[ci]
                for ci, (_, cr) in enumerate(chains)
            ],
        )
        # Per-path relationship uniqueness over the expanded hops (r8):
        # the old documented bounded-walk divergence, closed — see
        # _path_edge_identity_conds for the identity choice
        conds.extend(
            _path_edge_identity_conds(
                uniq_slots, ast["dialect"], sorted(ast.get("rel_props") or [])
            )
        )
        pathnodes_sql = "concat_ws(',', " + ", ".join(
            f"{n.var}.ID" for n in bnodes
        ) + ")"
        if ast["where"]:
            w = ast["where"]
            if ast.get("vlp_path"):
                # path markers in WHERE are per-branch constants /
                # expressions — inline them (they are select-list
                # columns, not FROM columns, so WHERE can't see them)
                w = re.sub(r"\b_pathlen\b", str(sum(lengths)), w)
                w = re.sub(r"\b_pathnodes\b", pathnodes_sql, w)
            conds.append(w)
        select = (
            ", ".join(f"{v}.{p} AS {v}_{p}" for v, p in ref_list) or "1 AS _one"
        )
        if ast.get("vlp_path"):
            # plain (non-shortest) path binding over bounded varlength:
            # one row per enumerated path; length(p) is the branch hop
            # total, nodes(p) the branch's comma-joined node-id string
            select += f", {sum(lengths)} AS _pathlen"
            select += f", {pathnodes_sql} AS _pathnodes"
        if ast.get("shortest"):
            # this branch's total path length, a per-row constant the
            # outer MIN(_pathlen) aggregates into the shortest length —
            # plus the endpoint node identities, so multiplicity is one
            # row per endpoint PAIR, not per distinct projected value
            # (two pairs sharing a projected a.name must not collapse)
            select += f", {sum(lengths)} AS _pathlen"
            select += (
                f", {nodes[0].var}.ID AS _ep_a"
                f", {nodes[-1].var}.ID AS _ep_b"
            )
        if rup:
            # UNWIND r AS e: L copies of this branch, copy k projecting
            # hop k's relationship properties — one output row per
            # relationship of each matched path, in path order
            for rv in hop_rvs:
                sel_k = select + "".join(
                    f", {rv}.{p} AS _rup_{p}" for p in rup
                )
                b_sql = f"SELECT {sel_k}\nFROM {from_sql}"
                for j in joins:
                    b_sql += f"\n{j}"
                if conds:
                    b_sql += "\nWHERE " + " AND ".join(conds)
                branches.append(b_sql)
            continue
        b_sql = f"SELECT {select}\nFROM {from_sql}"
        for j in joins:
            b_sql += f"\n{j}"
        if conds:
            b_sql += "\nWHERE " + " AND ".join(conds)
        branches.append(b_sql)

    union = "\nUNION ALL\n".join(branches)
    if ast.get("all_paths"):
        # allShortestPaths: keep EVERY enumerated path row whose length
        # equals the per-endpoint-pair minimum (one output row per
        # shortest path, not per pair) — a window min + filter over the
        # branch union, one exchange on the endpoint-pair key
        union = (
            "SELECT * FROM (\n"
            "SELECT _u.*, MIN(_pathlen) OVER "
            "(PARTITION BY _ep_a, _ep_b) AS _minlen\n"
            f"FROM (\n{union}\n) AS _u\n"
            ") AS _w WHERE _pathlen = _minlen"
        )

    def rewrite(e: str) -> str:
        for v, p in ref_list:
            e = re.sub(rf"\b{v}\.{p}\b", f"{v}_{p}", e)
        return e

    items = [(rewrite(e), a, g) for e, a, g in ast["items"]]
    distinct = ast["distinct"]
    ep_group: list[str] = []
    if ast.get("all_paths"):
        # every surviving row IS a shortest path; _pathlen references
        # read the row's own (minimal) length — no pair collapse
        pass
    elif ast.get("shortest"):
        # length(p) (the _pathlen marker) aggregates to the shortest
        # length per endpoint pair; an already-aggregate item written
        # by the user (e.g. min(length(p))) keeps Cypher's global
        # aggregation semantics. Otherwise multiplicity is one row per
        # endpoint NODE pair — grouped by the branch-emitted _ep_a/_ep_b
        # identities, never by projected values (two endpoint pairs
        # sharing projected values must stay two rows).
        user_agg = any(g for _, _, g in items)
        items = [
            (re.sub(r"\b_pathlen\b", "MIN(_pathlen)", e), a, True)
            if (not g and re.search(r"\b_pathlen\b", e))
            else (e, a, g)
            for e, a, g in items
        ]
        if not user_agg:
            ep_group = ["_ep_a", "_ep_b"]
            distinct = False
    select_parts = [f"{e} AS {a}" for e, a, _ in items]
    select_sql = ("DISTINCT " if distinct else "") + ", ".join(select_parts)
    group_cols = [e for e, _a, agg in items if not agg] + ep_group
    has_agg = any(agg for _, _, agg in items)

    sql = f"SELECT {select_sql}\nFROM (\n{union}\n) AS _paths"
    if (has_agg or ep_group) and group_cols:
        sql += "\nGROUP BY " + ", ".join(group_cols)
    if ast["order"] or ast["limit"] is not None or ast["skip"] is not None:
        sql = f"SELECT * FROM (\n{sql}\n) AS _projected"
        if ast["order"]:
            order_items = [(rewrite(e), d) for e, d in ast["order"]]
            parts = [f"{_order_ref(e, items)} {_dir_sql(d)}" for e, d in order_items]
            sql += "\nORDER BY " + ", ".join(parts)
        if ast["limit"] is not None:
            sql += f"\nLIMIT {ast['limit']}"
        if ast["skip"] is not None:
            sql += f"\nOFFSET {ast['skip']}"
    return sql


def _dir_sql(d: str) -> str:
    """openCypher sorts null as LARGEST (ASC -> nulls last, DESC ->
    nulls first); the engine defaults disagree with it AND with each
    other (Spark ASC = NULLS FIRST, DuckDB always NULLS LAST — found by
    the r6 dialect fuzz), so every emission pins it explicitly."""
    return f"{d} NULLS {'FIRST' if d == 'DESC' else 'LAST'}"


def _order_ref(expr: str, items: list[tuple[str, str, bool]]) -> str:
    """ORDER BY may reference a return item by var.prop — map to its
    alias so the sort applies after aggregation/projection."""
    for e, alias, _ in items:
        if expr == e:
            return alias
    return expr


def is_cypher(query: str) -> bool:
    """Cheap dispatch: the reference's job API is Cypher-first; we
    accept both and route on the leading keyword. ``WITH [`` / ``WITH
    name AS`` starts the leading-WITH constant projection (the
    MANIFESTO benchmark shape) — SQL's WITH is always ``WITH name AS
    (``, so the paren distinguishes the two."""
    if re.match(
        r"\s*(MATCH|OPTIONAL|UNWIND|RETURN|CALL)\b", query, re.IGNORECASE
    ):
        return True
    m = re.match(r"\s*WITH\b(?!\s+RECURSIVE\b)", query, re.IGNORECASE)
    if not m:
        return False
    # SQL CTE: WITH <name> AS ( ...   Cypher leading WITH: anything else
    return not re.match(
        r"\s*WITH\s+\w+\s+AS\s*\(", query, re.IGNORECASE
    )
