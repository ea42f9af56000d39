"""Client-API facade — 1:1 capability mapping of the reference's Python
client (``python/neo4j_arrow.py:94-467``, class ``Neo4jArrow``).

Method names, parameter names, and async-ticket semantics mirror the
client so a reference user can switch: ``cypher`` (SQL in v1 — the
query language is Spark SQL, SURVEY.md §7.1), ``gds_nodes``,
``gds_relationships``, ``khop``, ``gds_write_nodes``,
``gds_write_relationships``, ``bulk_import``, ``job_status``,
``wait_for_job``, ``stream``/``stream_to_pandas``, ``list_flights``.
The Flight transport disappears: "streams" are DataFrames and the
Arrow hop to Python is Spark's native Arrow path (``toPandas`` /
``toArrow``).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession

from neo4j_arrow_spark.catalog import GraphCatalog
from neo4j_arrow_spark.graph import NodeField, RelField
from neo4j_arrow_spark.jobs import Job, JobRegistry
from neo4j_arrow_spark.operators import ingest, node_scan, rel_scan
from neo4j_arrow_spark.operators.khop import DEFAULT_LIST_SIZE
from neo4j_arrow_spark.operators.khop import khop as khop_fn


def _snapshot(df: DataFrame) -> DataFrame:
    """Commit snapshot of an updated graph frame before
    re-registration: a LAZY localCheckpoint (guide §5.3). Lineage is
    still truncated at re-registration and the frame materializes AT
    MOST once (the first consumer's job fills the checkpoint blocks;
    later consumers read them), but no write pays a dedicated
    materialization job: the work rides the next statement's / read's
    own job, and a snapshot no consumer ever touches is never
    computed."""
    return df.localCheckpoint(eager=False)


class Neo4jArrowSpark:
    """The engine's user-facing entry point.

    Usernames are plumbed for catalog authorization parity
    (NativeAuthValidator.java:27-121 makes the peer identity the
    catalog key). Passing an ``auth`` validator plus ``password`` (or a
    ``token``) authenticates at construction — the reference's
    basic-auth handshake moved to the only boundary this engine has;
    the validated identity then overrides ``username``. With no
    validator, authn stays with the Spark deployment as before.
    """

    #: default seconds a ticketed two-phase write waits for ``put()``
    #: before failing to ERROR — an orphaned ticket must not pin its
    #: job thread forever (override per-instance or per-call)
    put_timeout: float = 600.0

    def __init__(
        self,
        spark: SparkSession,
        username: str = "neo4j",
        database: str = "neo4j",
        auth=None,
        password: str | None = None,
        token: str | None = None,
    ):
        self.spark = spark
        if auth is not None:
            if token is not None:
                username = auth.validate_token(token)
            else:
                username = auth.validate(username, password or "")
        self.username = username
        self.database = database
        self.catalog = GraphCatalog(spark)
        self.registry = JobRegistry()

    # -- reads -------------------------------------------------------------

    def cypher(
        self,
        query: str,
        database: str | None = None,
        params: dict | None = None,
        graph: str | None = None,
    ) -> Job:
        """S1 — submit a query job. Accepts the Cypher pattern-matching
        subset (transpiled to SQL over the named graph's views — see
        :mod:`neo4j_arrow_spark.cypher`) or Spark SQL directly.
        ``graph`` names the graph for Cypher queries; defaults to the
        only registered graph when unambiguous.
        ``params`` binds ``$name`` Cypher parameters (client parity:
        neo4j_arrow.py:161-180) or Spark SQL ``:name`` named parameters
        — values are bound at execution, never interpolated.

        Write clauses (CREATE / MERGE / MATCH…SET / [DETACH] DELETE)
        are routed to :mod:`neo4j_arrow_spark.cypher_write` — a
        capability the reference declares but never implemented
        (CypherActionHandler.java:154-155); the job's result is the
        Neo4j-style counters summary frame.

        Known openCypher divergences (the exhaustive, golden-asserted
        list — everything else either matches Neo4j semantics or
        raises a targeted error):

        - unbounded/deep variable-length with ``minlen >= 2`` is
          EXACT for directed patterns on identity-carrying graphs
          (r9 trail mode), but an UNDIRECTED ``-[*2..]-`` and graphs
          registered without relationship identity keep the linear
          distinct-frontier's walk-reachability at hops >= 2 (extra
          endpoint pairs possible on cycles); undirected closure can
          also report a node reachable from itself via a single-edge
          backtrack (golden g17);
        - unbounded traversal is bounded by ``max_hops`` (default
          10) — true unbounded recursion needs a bound on a
          distributed engine;
        - multiplicity-SENSITIVE unbounded shapes (``count(*)`` over
          ``*``-paths) enumerate walks, exact on DAGs; on cyclic
          graphs hop-referencing results are guard-bounded;
        - whitelisted scalar functions keep SQL semantics where they
          differ from Cypher (notably 1-based ``substring``/string
          indexing);
        - ``collect()``/``labels()`` in a final RETURN render as the
          SORTED comma-joined string (cross-engine determinism);
          postfix indexing / reduce / comprehensions see the true
          ARRAY form."""
        from neo4j_arrow_spark.cypher import cypher_to_sql, is_cypher
        from neo4j_arrow_spark.cypher_write import is_cypher_write

        if is_cypher_write(query):
            return self._cypher_write(
                query, database or self.database, graph, params
            )
        if is_cypher(query):
            db = database or self.database
            graph = self._resolve_graph(db, graph)
            g = self.catalog.get(graph, db, self.username)
            needed: set = set()
            sql = cypher_to_sql(
                query,
                f"{graph}_nodes",
                f"{graph}_rels",
                params_out=needed,
                # keys()/properties() need the node schema — everything
                # except the reserved id/label columns
                node_props=[
                    c for c in g.nodes.columns if c not in ("ID", "LABELS")
                ],
                # RETURN r (bare rel projection) needs the rel property
                # schema the same way
                rel_props=None if g.rels is None else [
                    c for c in g.rels.columns if c not in RelField.RESERVED
                ],
                # registration mints (REL_ID, REL_ID2) into the
                # companion `<graph>_rels_eid` view (catalog.register),
                # giving true openCypher edge identity; the transpiler
                # reads the eid view ONLY when the query references
                # edge identity, so identity-free queries never pay the
                # minting shuffle. Frames with no eid view fall back to
                # (START_ID, END_ID, TYPE) triple mode.
                rel_id=g.rels_eid is not None,
                rels_eid_view=f"{graph}_rels_eid",
                # property-column → Spark type map: lets
                # type-polymorphic emissions (isEmpty) dispatch on the
                # registered type; a name carried by BOTH frames with
                # conflicting types stays out (ambiguous → the
                # transpiler's targeted refusal)
                prop_types=self._prop_types(g),
            )
            missing = needed - set(params or {})
            if missing:
                raise ValueError(
                    f"Cypher query references unbound parameters: "
                    f"{sorted(missing)}"
                )

            def _run_read(bound=None):
                # r11 verdict #6: anything the transpiler let through
                # that Catalyst then rejects (unresolved references the
                # schema couldn't prove missing, type-mismatched
                # comparisons) must surface as a targeted ONE-LINER,
                # never a raw Java stack — same contract the write
                # path got in r10 (_reject_aggregates_in_ast).
                from pyspark.errors import AnalysisException

                from neo4j_arrow_spark.cypher import CypherUnsupported
                from neo4j_arrow_spark.recursive_exec import (
                    run_recursive_sql,
                )

                try:
                    # marked recursive blocks run driver-paced (see
                    # recursive_exec); unmarked SQL goes straight to
                    # spark.sql
                    return run_recursive_sql(self.spark, sql, args=bound)
                except AnalysisException as e:
                    first = str(e).splitlines()[0].strip()
                    raise CypherUnsupported(
                        "query does not resolve against the graph "
                        f"schema: {first[:300]}"
                    ) from None

            if needed:
                bound = {k: v for k, v in params.items() if k in needed}
                return self.registry.submit(
                    "cypher.read", lambda: _run_read(bound)
                )
            return self.registry.submit("cypher.read", lambda: _run_read())
        if params:
            return self.registry.submit(
                "cypher.read", lambda: self.spark.sql(query, args=params)
            )
        return self.registry.submit("cypher.read", lambda: self.spark.sql(query))

    def _compile_read(self, query: str, graph: str, g) -> str:
        """Transpile a read-pipeline Cypher text over the named
        graph's views — the same options the read path uses (schema
        for keys()/properties(), eid view for edge identity, prop
        types for polymorphic dispatch). Used by the pipeline-write
        dispatcher to evaluate target ids and values in READ scope."""
        from neo4j_arrow_spark.cypher import cypher_to_sql

        return cypher_to_sql(
            query,
            f"{graph}_nodes",
            f"{graph}_rels",
            node_props=[
                c for c in g.nodes.columns if c not in ("ID", "LABELS")
            ],
            rel_props=None if g.rels is None else [
                c for c in g.rels.columns if c not in RelField.RESERVED
            ],
            rel_id=g.rels_eid is not None,
            rels_eid_view=f"{graph}_rels_eid",
            prop_types=self._prop_types(g),
        )

    @staticmethod
    def _prop_types(g) -> dict[str, str]:
        """Property-column name → Spark type simpleString over the
        graph's node AND rel frames (reserved id/label/endpoint columns
        excluded). A name present on both frames with different types
        is dropped — the transpiler must not guess."""
        out: dict[str, str] = {}
        drop: set[str] = set()
        frames = [(g.nodes, ("ID", "LABELS"))]
        if g.rels is not None:
            frames.append((g.rels, tuple(RelField.RESERVED)))
        for df, reserved in frames:
            for f in df.schema.fields:
                if f.name in reserved or f.name in ("REL_ID", "REL_ID2"):
                    continue
                ty = f.dataType.simpleString()
                if f.name in out and out[f.name] != ty:
                    drop.add(f.name)
                out[f.name] = ty
        for name in drop:
            out.pop(name, None)
        return out

    def _resolve_graph(self, db: str, graph: str | None) -> str:
        """Default to the only graph registered under (user, db)."""
        if graph is None:
            names = {
                k[2]
                for k in self.catalog.list()
                if k[0] == self.username and k[1] == db
            }
            if len(names) != 1:
                raise ValueError(
                    f"Cypher needs graph=... (registered under "
                    f"({self.username}, {db}): {sorted(names)})"
                )
            return names.pop()
        self.catalog.get(graph, db, self.username)  # raises GraphNotFound
        return graph

    def _cypher_write(
        self, query: str, db: str, graph: str | None, params: dict | None
    ) -> Job:
        """Apply a Cypher write statement to the named graph. The
        statement parses at submit (:func:`~neo4j_arrow_spark.
        cypher_write.parse_write`); the job runs its write form and
        commits once: the frames the write changed are snapshotted
        (``_snapshot``, a lazy localCheckpoint) and the graph
        re-registers, so reads submitted afterwards see the new state
        and lineage doesn't stack across writes. A write that changes
        nothing registers nothing."""
        from neo4j_arrow_spark.cypher_write import (
            guard_write_analysis,
            parse_write,
        )

        graph = self._resolve_graph(db, graph)
        g = self.catalog.get(graph, db, self.username)
        # writes operate on the identity-minted frame/view so any
        # multi-rel-slot read part keeps true openCypher edge identity;
        # a changed rel frame (pre-minted) re-registers without a
        # second minting pass
        eid = g.rels_eid is not None
        rels_in = g.rels_eid if eid else g.rels
        form = parse_write(
            query,
            params,
            (f"{graph}_nodes", f"{graph}_rels" + ("_eid" if eid else "")),
            lambda q: self._compile_read(q, graph, g),
        )

        def run() -> DataFrame:
            nodes, rels, summary, ret = form(self.spark, g.nodes, rels_in)
            if nodes is not g.nodes:
                nodes = _snapshot(nodes)
            if rels is not rels_in:
                rels = _snapshot(rels)
            # a trailing RETURN projects over the committed frames (its
            # job fills their snapshots) and runs before the commit, so
            # a RETURN that fails leaves the graph unchanged
            result = (
                summary if ret is None else ret(nodes, rels).localCheckpoint()
            )
            if nodes is not g.nodes or rels is not rels_in:
                # unchanged rels keep the plain frame: registering the
                # minted one would make every identity-free read of
                # `<graph>_rels` pay the minting shuffle
                self.catalog.register(
                    graph,
                    nodes,
                    g.rels if rels is rels_in else rels,
                    database=db,
                    username=self.username,
                    overwrite=True,
                )
            return result

        return self.registry.submit("cypher.write", guard_write_analysis(run))

    def _tune(self, df: DataFrame, partitions: int | None, batch_size: int | None) -> DataFrame:
        """The reference's per-job ``partitions``/``batch_size`` message
        keys (GdsMessage.java:44-47; tuning table README.md:87-110).
        ``partitions`` → repartition; ``batch_size`` → Arrow record
        batch size for the collect path (session-scoped in Spark, set
        eagerly here — the closest per-job analogue)."""
        if batch_size is not None:
            self.spark.conf.set(
                "spark.sql.execution.arrow.maxRecordsPerBatch", str(batch_size)
            )
        if partitions is not None:
            df = df.repartition(partitions)
        return df

    def gds_nodes(
        self,
        graph: str,
        database: str | None = None,
        properties: Sequence[str] | None = None,
        filters: Sequence[str] | None = None,
        node_id: str | None = None,
        partitions: int | None = None,
        batch_size: int | None = None,
    ) -> Job:
        """S3 (client: neo4j_arrow.py:182-198; extra tuning keys
        GdsMessage.java:44-47)."""
        g = self.catalog.get(graph, database or self.database, self.username)
        return self.registry.submit(
            "gds.read/node",
            lambda: self._tune(
                node_scan.gds_nodes(g.nodes, properties, filters, node_id),
                partitions,
                batch_size,
            ),
        )

    def gds_relationships(
        self,
        graph: str,
        database: str | None = None,
        properties: Sequence[str] | None = None,
        filters: Sequence[str] | None = None,
        partitions: int | None = None,
        batch_size: int | None = None,
    ) -> Job:
        """S4 (client: neo4j_arrow.py:228-254)."""
        g = self.catalog.get(graph, database or self.database, self.username)
        return self.registry.submit(
            "gds.read/relationship",
            lambda: self._tune(
                rel_scan.gds_relationships(g.rels, properties, filters),
                partitions,
                batch_size,
            ),
        )

    def khop(
        self,
        graph: str,
        database: str | None = None,
        filters: Sequence[str] | None = None,
        list_size: int = DEFAULT_LIST_SIZE,
        k: int = 2,
        node_id: str | None = None,
        rel_property: str = "_type_",
    ) -> Job:
        """S5 (client: neo4j_arrow.py:256-279). The reference fixes k=2
        (GdsReadJob.java:70-72); this engine generalizes k >= 1.
        ``node_id`` remaps exported ids through a node property (client
        parity). ``rel_property`` is accepted for message parity but
        unused: it names the property the reference abuses to encode
        edge orientation through a GDS projection (KHOP.md:55-70) —
        this engine handles undirected semantics natively."""
        del rel_property  # orientation is handled natively (see docstring)
        g = self.catalog.get(graph, database or self.database, self.username)
        return self.registry.submit(
            "gds.read/khop",
            lambda: khop_fn(g.nodes, g.rels, filters, list_size, k, node_id),
        )

    # -- writes ------------------------------------------------------------

    def _as_df(self, data) -> DataFrame:
        """Accept a DataFrame or a pyarrow.Table — the reference's
        ``put()`` ships Arrow tables (neo4j_arrow.py:346-377)."""
        if isinstance(data, DataFrame):
            return data
        return ingest.from_arrow(self.spark, data)

    def _deferred(self, job_type: str, consume, timeout: float | None = None) -> Job:
        """Two-phase write parity: the reference tickets a write job
        first and the data arrives later via ``do_put`` (``put()``,
        neo4j_arrow.py:325-344; WriteJob.java:47-50). The job thread
        blocks until :meth:`put` supplies the data — bounded by
        ``timeout`` (default :attr:`put_timeout`): an orphaned ticket
        fails to ERROR and releases its thread instead of leaking."""
        import threading

        holder: dict = {"evt": threading.Event(), "data": None}
        wait_s = self.put_timeout if timeout is None else timeout

        def run() -> DataFrame:
            if not holder["evt"].wait(wait_s):
                raise TimeoutError(
                    f"{job_type}: no put() within {wait_s:g}s — "
                    "ticket orphaned, job failed"
                )
            return consume(self._as_df(holder["data"]))

        job = self.registry.submit(job_type, run)
        job._put_holder = holder  # type: ignore[attr-defined]
        return job

    @staticmethod
    def _sizes(data):
        try:
            return (data.num_rows, data.nbytes)
        except AttributeError:
            return (-1, -1)

    def put(self, job, data, stream_type: str | None = None):
        """do_put parity: supply the Arrow table / DataFrame a ticketed
        write job is waiting for. Accepts the Job or its ticket string.
        Returns (rows, nbytes) for a pyarrow.Table — (-1, -1) for a
        DataFrame, whose size is unknown until the job materializes.

        A bulk-import job takes TWO puts whose role is signaled by the
        ``stream.type`` schema custom metadata (``node`` | ``rels``) —
        the reference's exact protocol (BulkImportJob.java:49-51,82-97;
        client neo4j_arrow.py:454-467). ``stream_type`` overrides for
        DataFrames, which carry no schema metadata."""
        if isinstance(job, str):
            job = self.registry.get(job)
        streams = getattr(job, "_put_streams", None)
        if streams is not None:
            role = stream_type
            if role is None:
                md = getattr(getattr(data, "schema", None), "metadata", None) or {}
                raw = md.get(b"stream.type", md.get("stream.type"))
                role = raw.decode() if isinstance(raw, bytes) else raw
            if role not in ("node", "rels"):
                # invalid-metadata rejection parity (BulkImportJob.java:192-198)
                raise ValueError(
                    "bulk import streams need stream.type metadata "
                    "'node' or 'rels' (or pass stream_type=...)"
                )
            with streams["lock"]:
                streams[role] = data
                if streams["node"] is not None and streams["rels"] is not None:
                    streams["evt"].set()
            return self._sizes(data)
        holder = getattr(job, "_put_holder", None)
        if holder is None:
            raise ValueError(
                f"job {job.ticket} is not awaiting a put() "
                "(it was submitted with inline data)"
            )
        holder["data"] = data
        holder["evt"].set()
        return self._sizes(data)

    def gds_write_nodes(
        self,
        graph: str,
        nodes=None,
        id_field: str = NodeField.ID,
        labels_field: str = NodeField.LABELS,
        database: str | None = None,
    ) -> Job:
        """K1 (client: neo4j_arrow.py:200-211). Accepts a DataFrame or
        pyarrow.Table inline, or ``nodes=None`` for the reference's
        two-phase flow (ticket now, data via :meth:`put`). Synchronous
        catalog visibility on COMPLETE — fixes README.md:214-218."""

        def consume(df: DataFrame) -> DataFrame:
            g = ingest.gds_write_nodes(
                self.catalog, graph, df, id_field, labels_field,
                database=database or self.database,
            )
            return g.nodes

        if nodes is None:
            return self._deferred("gds.write.nodes", consume)
        nodes = self._as_df(nodes)
        return self.registry.submit("gds.write.nodes", lambda: consume(nodes))

    def gds_write_relationships(
        self,
        graph: str,
        rels=None,
        source_field: str = RelField.START_ID,
        target_field: str = RelField.END_ID,
        type_field: str = RelField.TYPE,
        database: str | None = None,
    ) -> Job:
        """K2 (client: neo4j_arrow.py:213-226). Same inline/two-phase
        duality as :meth:`gds_write_nodes`."""

        def consume(df: DataFrame) -> DataFrame:
            g = ingest.gds_write_relationships(
                self.catalog, graph, df, source_field, target_field, type_field,
                database=database or self.database,
            )
            return g.rels

        if rels is None:
            return self._deferred("gds.write.relationships", consume)
        rels = self._as_df(rels)
        return self.registry.submit(
            "gds.write.relationships", lambda: consume(rels)
        )

    def bulk_import(
        self,
        database: str,
        database_path: str,
        nodes: DataFrame | None = None,
        rels: DataFrame | None = None,
        **fields,
    ) -> Job:
        """K3 (client: neo4j_arrow.py:454-467). Inline frames, or the
        reference's two-stream flow: omit both and send each stream via
        :meth:`put` with ``stream.type`` metadata (``node``/``rels``,
        BulkImportJob.java:82-97) — the job runs once both arrive."""
        def consume2(nodes_df: DataFrame, rels_df: DataFrame) -> DataFrame:
            g = ingest.bulk_import(
                self.spark, self.catalog, database_path, nodes_df, rels_df,
                database_name=database, **fields,
            )
            return g.nodes

        if nodes is None and rels is None:
            import threading

            streams: dict = {
                "evt": threading.Event(),
                "lock": threading.Lock(),
                "node": None,
                "rels": None,
            }

            def run() -> DataFrame:
                streams["evt"].wait()
                return consume2(
                    self._as_df(streams["node"]), self._as_df(streams["rels"])
                )

            job = self.registry.submit("import.bulk", run)
            job._put_streams = streams  # type: ignore[attr-defined]
            return job
        if nodes is None or rels is None:
            raise ValueError("pass both nodes and rels inline, or neither")
        return self.registry.submit(
            "import.bulk", lambda: consume2(nodes, rels)
        )

    # -- control plane -----------------------------------------------------

    def job_status(self, ticket: str) -> str:
        return self.registry.status(ticket)

    def jobs(self) -> dict[str, str]:
        return self.registry.jobs()

    def version(self) -> dict[str, str]:
        return self.registry.version()

    def info(self) -> dict[str, str]:
        """info.version action parity (client: neo4j_arrow.py:143-154)."""
        return self.registry.version()

    def wait_for_job(self, ticket: str, timeout: float = 60.0) -> bool:
        return self.registry.get(ticket).wait(timeout)

    def list_flights(self) -> list[tuple[str, str, str]]:
        """S7 — stream discovery (Producer.java:412-416)."""
        return self.catalog.list()

    def list_actions(self) -> list[str]:
        """Flight list-actions parity (Producer.java:543-550): the
        action strings of §2.10, i.e. every job type this engine
        dispatches."""
        return [
            "cypher.read",
            "cypher.write",
            "gds.read",
            "gds.write.nodes",
            "gds.write.relationships",
            "import.bulk",
            "job.status",
            "info.jobs",
            "info.version",
        ]

    # -- streams -----------------------------------------------------------

    def stream(self, job: Job, timeout: float | None = None) -> DataFrame:
        """do_get parity: the 'stream' is the job's DataFrame."""
        return job.result(timeout)

    def stream_to_pandas(self, job: Job, timeout: float | None = None):
        """Client-side table materialization (neo4j_arrow.py:313-323
        stream().read_all()) via Spark's Arrow-batched collect."""
        return job.result(timeout).toPandas()
