"""TrinoEngine: the `engine.sql(trino_sql)` entry point.

Role-equivalent to the reference's dispatch path (SQL text in →
DispatchManager.createQueryInternal → parse → analyze → plan → execute,
core/trino-main/.../dispatcher/DispatchManager.java:208) collapsed onto
Spark: dialect-translate, then let Catalyst do analysis/optimization and
Tungsten execute. See SURVEY.md §3.1.
"""

from __future__ import annotations

import re
from dataclasses import replace

from pyspark.sql import DataFrame, SparkSession

from trino_spark import __version__, infoschema
from trino_spark.catalog import ALL_TABLES, Catalog
from trino_spark.dialect import access as _access
from trino_spark.dialect import branches as _branches
from trino_spark.dialect import catalogs as _catalogs
from trino_spark.dialect import dml as _dml
from trino_spark.dialect import prepared as _prep
from trino_spark.dialect import routines as _routines_mod
from trino_spark.dialect import statement as _statement
from trino_spark.dialect.access import map_outside_literals
from trino_spark.dialect.rewrites import translate
from trino_spark.dialect.statement import Statement
from trino_spark.infoschema import register_information_schema, show_columns, show_stats
from trino_spark.session import local_frame

__all__ = ["TrinoEngine", "classify", "translate"]


class TrinoEngine:
    """Trino-dialect SQL in, DataFrame out."""

    def __init__(self, spark: SparkSession, sf_dir: str | None = None):
        import threading

        self.spark = spark
        self.catalog = Catalog(spark)
        # Per-thread statement depth: the HTTP server dispatches concurrent
        # statements onto one shared engine, so a process-wide counter
        # would corrupt the "is this a top-level statement?" decisions
        # (query events, CTE-cache retirement) across threads.
        self._tls = threading.local()
        # Guards the reused-CTE cache (dialect/cte.py): retire() must not
        # drop another in-flight statement's views between its SQL rewrite
        # and Catalyst analysis. RLock + in-flight top-level count.
        self._cte_lock = threading.RLock()
        self._cte_active = 0
        self._cte_cached: list = []
        # SQL routines (CREATE FUNCTION ... RETURN expr), inlined as macros
        # per dialect/routines.py (reference: SqlRoutinePlanner inlining).
        self.routines: dict[str, _routines_mod.Routine] = {}
        # Control-flow / LANGUAGE PYTHON routines, registered as Spark UDFs
        # (reference: SqlRoutineCompiler.java bytecode path + PythonEngine).
        self.python_routines: dict[str, _routines_mod.PythonRoutine] = {}
        # Prepared statements (PREPARE/EXECUTE/DEALLOCATE; PrepareTask.java).
        self.prepared: dict[str, str] = {}
        # SET SESSION properties (SystemSessionProperties.java surface).
        self.session_properties: dict[str, str] = {}
        # Materialized views: name -> defining Trino SQL. Data lives as
        # parquet under spark-warehouse/mv/<name>; queries read the STORED
        # data (stale until REFRESH), matching the reference's semantics
        # (core/.../RefreshMaterializedViewOperator.java, docs
        # sql/create-materialized-view.md).
        self.materialized_views: dict[str, str] = {}
        # Freshness metadata per MV (reference: the freshness /
        # last_fresh_time columns of system.metadata.materialized_views,
        # core/.../connector/system/MaterializedViewSystemTable.java):
        # source-table fingerprints captured at refresh time.
        self._mv_meta: dict[str, dict] = {}
        if sf_dir:
            from trino_spark.catalog import load as _load

            self.catalog.register_parquet_dir(sf_dir, ALL_TABLES)
            # schema via the session-cached loader (catalog.load): the
            # StructType is memoized on the cached DataFrame, so repeat
            # engine constructions skip 10 py4j schema round-trips
            schemas = {
                name: [
                    (f.name, f.dataType.simpleString())
                    for f in _load(spark, sf_dir, name).schema
                ]
                for name in ALL_TABLES
            }
            register_information_schema(spark, schemas)
        # Function/PTF registration is session-global and idempotent —
        # ~190 spark.udf.register calls cost ~1.3 s of py4j round-trips,
        # so do it once per SparkSession, not once per engine (the
        # reference registers SystemFunctionBundle once at server boot,
        # not per query).
        if not getattr(spark, "_ts_fns_registered", False):
            from trino_spark.dialect import ptf as _ptf

            _ptf.register_builtin_table_functions(spark)
            # Python-bodied scalar residue (normalize/word_stem/base32/
            # hmac/CDFs) so those names resolve from SQL text — the
            # SystemFunctionBundle registration analog.
            from trino_spark.functions.registry import (
                register_sql_functions,
                register_sql_functions_r4,
                register_sql_functions_r5,
            )

            register_sql_functions(spark)
            register_sql_functions_r4(spark)
            register_sql_functions_r5(spark)
            from trino_spark.functions.sqlagg import register_sql_aggregates

            register_sql_aggregates(spark)
            from trino_spark.functions.geosql import register_geo_functions

            register_geo_functions(spark)
            spark._ts_fns_registered = True

    def sql(self, trino_sql: str | Statement) -> DataFrame:
        """Dispatch a Trino-dialect statement (text, or a Statement from
        classify); top-level calls are recorded in the query log served as
        system.runtime.queries (core/.../connector/system/QuerySystemTable.java
        role)."""
        import time
        import uuid as _uuid

        stmt = trino_sql if isinstance(trino_sql, Statement) else classify(trino_sql)
        depth = getattr(self._tls, "depth", 0)
        self._tls.depth = depth + 1
        if depth == 0:
            with self._cte_lock:
                self._cte_active += 1
        t0 = time.perf_counter()
        qid = _uuid.uuid4().hex[:16]
        if depth == 0:
            self.emit_event(
                "query_created",
                {
                    "query_id": qid,
                    "query": stmt.source.strip()[:1000],
                    "user": getattr(self, "session_user", "trino"),
                    "create_time": time.time(),
                },
            )
        try:
            out = self._sql_inner(stmt)
            if depth == 0:
                dt = time.perf_counter() - t0
                self._log_query(qid, stmt.source, "FINISHED", dt)
                self._emit_completed(qid, stmt.source, "FINISHED", dt, None)
            return out
        except Exception as exc:
            if depth == 0:
                dt = time.perf_counter() - t0
                self._log_query(qid, stmt.source, "FAILED", dt)
                self._emit_completed(
                    qid, stmt.source, "FAILED", dt, str(exc).split("\n")[0][:500]
                )
            raise
        finally:
            self._tls.depth = depth
            if depth == 0:
                with self._cte_lock:
                    self._cte_active -= 1

    # ---- EventListener SPI (io.trino.spi.eventlistener.EventListener:
    # queryCreated/queryCompleted; listeners are isolated — a throwing
    # listener never fails the query, as in the reference's dedicated
    # listener executor). A listener is an object with `query_created` /
    # `query_completed` methods (either optional) or a plain callable
    # receiving (kind, event).
    def add_event_listener(self, listener) -> None:
        if not hasattr(self, "_event_listeners"):
            self._event_listeners: list = []
        self._event_listeners.append(listener)

    def remove_event_listener(self, listener) -> None:
        try:
            getattr(self, "_event_listeners", []).remove(listener)
        except ValueError:
            pass

    def emit_event(self, kind: str, event: dict) -> None:
        for ls in getattr(self, "_event_listeners", []):
            try:
                fn = getattr(ls, kind, None)
                if fn is not None:
                    fn(dict(event))
                elif callable(ls):
                    ls(kind, dict(event))
            except Exception:
                pass  # never let a listener break the query path

    def _emit_completed(
        self, qid: str, sql: str, state: str, elapsed_s: float, error: str | None
    ) -> None:
        self.emit_event(
            "query_completed",
            {
                "query_id": qid,
                "query": sql.strip()[:1000],
                "user": getattr(self, "session_user", "trino"),
                "state": state,
                "wall_ms": round(elapsed_s * 1000, 3),
                "error": error,
            },
        )

    def _log_query(self, qid: str, sql: str, state: str, elapsed_s: float) -> None:
        import datetime as _dt

        log = getattr(self, "_query_log", None)
        if log is None:
            log = self._query_log = []
        end = _dt.datetime.now(_dt.timezone.utc).replace(tzinfo=None)
        created = end - _dt.timedelta(seconds=elapsed_s)
        log.append(
            (
                qid,
                state,
                getattr(self, "session_user", "trino"),
                sql.strip()[:1000],
                round(elapsed_s * 1000, 3),
                created,
                created,  # started: dispatch is immediate in this engine
                end,
            )
        )
        del log[:-200]  # bounded, like the reference's history window

    def _sql_inner(self, stmt: Statement) -> DataFrame:
        # The rewrites change table references only, never the leading
        # keywords, so the kind and the tokens stay those of the source.
        stmt = replace(stmt, text=self._resolve_references(stmt.text))
        _access.enforce(self, stmt)
        handler = DISPATCH.get(stmt.kind)
        out = handler(self, stmt) if handler else None
        return self._query(stmt.text) if out is None else out

    def _resolve_references(self, sql: str) -> str:
        """Text rewrites every statement gets before dispatch: branch refs,
        niladic functions, time travel, catalog mounts, metadata tables and
        the engine-made system tables."""
        if "@" in sql and getattr(self, "dml_tables", None):
            # Branch refs t@b (grammar SqlBase.g4:80,221; Iceberg branch
            # semantics): resolve BEFORE time travel so `t@b FOR VERSION
            # AS OF n` pins a snapshot of the branch fork.
            sql = _branches.resolve(self, sql)
        for rx, literal in _NILADICS:
            if rx.search(sql):
                # replacement via lambda: backslashes in the value (a role
                # name, say) must not be parsed as group references
                lit = literal(self)
                sql = map_outside_literals(sql, lambda p: rx.sub(lambda _m: lit, p))
        if re.search(r"\bFOR\s+(?:VERSION|TIMESTAMP)\s+AS\s+OF\b", sql, re.IGNORECASE):
            # Time travel (grammar SqlBase.g4 queryPeriod; Iceberg/Delta
            # connector behavior): pin table refs to snapshot versions.
            sql = _dml.resolve_time_travel(self, sql)
        if getattr(self, "catalogs", None):
            # Dynamic catalog mounts (CREATE CATALOG; CatalogFactory.java):
            # cat.schema.table refs resolve to lazily-registered views
            # (jdbc mounts resolve natively through Spark's DSv2 catalog).
            sql = _catalogs.resolve(self, sql)
        if any(
            k in sql
            for k in ("$snapshots", "$history", "$files", "$partitions", "$refs", "$properties")
        ):
            # Iceberg-style metadata tables over the snapshot log / current
            # table directory (SnapshotsTable / HistoryTable / FilesTable /
            # PartitionsTable analogs).
            sql = _dml.resolve_metadata_tables(self, sql)
        for dotted in ("information_schema.tables", "information_schema.columns"):
            if dotted in sql:
                # The catalog loader registers these as flat views
                # (infoschema.py register_information_schema); dotted SQL
                # references resolve here (InformationSchemaPageSource).
                flat = dotted.replace(".", "_")
                sql = map_outside_literals(sql, lambda p: p.replace(dotted, flat))
        for dotted, source in _SYSTEM_TABLES.items():
            if dotted in sql:
                view = "_" + dotted.replace(".", "_")
                if isinstance(source, str):
                    self.spark.sql(source).createOrReplaceTempView(view)
                else:
                    schema, rows = source
                    local_frame(self.spark, rows(self), schema).createOrReplaceTempView(view)
                # outside string literals only: SELECT 'system.runtime.nodes'
                # keeps its text
                sql = map_outside_literals(sql, lambda p: p.replace(dotted, view))
        return sql

    def _read(self, stmt: Statement) -> DataFrame:
        # Row filters / column masks (ConnectorAccessControl
        # getRowFilters/getColumnMasks): reads under an active role see
        # secured views. DML reads recurse through this dispatch, so
        # their SELECT halves are covered too.
        return self._query(_access.apply_security(self, stmt.text))

    def _query(self, sql: str) -> DataFrame:
        """A statement the dispatch table does not take: dialect-translate
        it and hand it to Spark."""
        if re.search(r"\bJSON_TABLE\s*\(", sql, re.IGNORECASE):
            # JSON_TABLE clause (grammar SqlBase.g4; operator
            # main/operator/table/json/): execute on the json_table
            # operator, substitute a temp view, re-dispatch.
            from trino_spark.dialect import json_table_sql as _jtsql

            jt_out = _jtsql.try_rewrite(self, sql)
            if jt_out is not None:
                return jt_out
        if re.search(r"\bMATCH_RECOGNIZE\b", sql, re.IGNORECASE):
            # Row-pattern recognition (grammar SqlBase.g4:448): execute the
            # block on the NFA operator, substitute a temp view, re-dispatch.
            from trino_spark.dialect import match_recognize_sql as _mrsql

            out = _mrsql.try_rewrite(self, sql)
            if out is not None:
                return out
        if re.search(r"\bWINDOW\b", sql, re.IGNORECASE) and re.search(
            r"\bPATTERN\s*\(", sql, re.IGNORECASE
        ):
            # Row-pattern recognition in WINDOW (docs
            # pattern-recognition-in-window.md): per-row anchored match.
            from trino_spark.dialect import match_recognize_sql as _mrsql

            out = _mrsql.try_rewrite_window(self, sql)
            if out is not None:
                return out
        expanded = _routines_mod.expand(sql, self.routines)
        spark_sql = translate(expanded)
        if spark_sql.lstrip()[:4].upper() == "WITH":
            # Reused-CTE materialization (Trino CTE materialization / FTE
            # exchange-spool analog): a WITH subplan referenced >= 2 times
            # is computed once and cached instead of inlined N times.
            from trino_spark.dialect import cte as _cte

            spark_sql = _cte.materialize_reused(self, spark_sql)
        df = self.spark.sql(spark_sql)
        # FETCH ... WITH TIES leaves a helper rank column; drop it here.
        if "__rk" in df.columns:
            df = df.drop("__rk")
        return df

    # ---- handlers of the dispatch table: (engine, Statement) -> DataFrame,
    # or None to hand the statement to _query

    def _with_function(self, stmt: Statement) -> DataFrame:
        # Inline SQL routines (grammar SqlBase.g4 queryWith ->
        # functionSpecification; docs udf/sql): expression-bodied
        # functions scoped to this one query — parsed with the
        # CREATE FUNCTION machinery, macro-inlined, then discarded.
        wf = re.match(
            r"\s*WITH\s+(FUNCTION\s+.*?)\s+(SELECT|VALUES)\b(.*)$",
            stmt.text,
            re.IGNORECASE | re.DOTALL,
        )
        if not wf:
            return self._read(stmt)
        inline: dict = {}
        for spec_txt in re.split(r",\s*(?=FUNCTION\b)", wf.group(1), flags=re.IGNORECASE):
            r = _routines_mod.parse_create_function("CREATE " + spec_txt.strip())
            if r is None or isinstance(r, _routines_mod.PythonRoutine):
                raise ValueError(
                    "WITH FUNCTION supports expression-bodied SQL routines only"
                )
            inline[r.name] = r
        query = f"{wf.group(2)}{wf.group(3)}"
        expanded = _routines_mod.expand(query, {**self.routines, **inline})
        return self.sql(expanded)

    def _prepare(self, stmt: Statement) -> DataFrame:
        name, body = _prep.parse_prepare(stmt.text)
        self.prepared[name] = body
        return local_frame(self.spark, [(name.lower(),)], "prepared: string")

    def _deallocate(self, stmt: Statement) -> DataFrame:
        name = _prep.parse_deallocate(stmt.text)
        self.prepared.pop(name, None)
        return local_frame(self.spark, [(name.lower(),)], "prepared: string")

    def _execute_immediate(self, stmt: Statement) -> DataFrame:
        text, args = _prep.parse_execute_immediate(stmt.text)
        return self.sql(_prep.bind(text, args))

    def _execute(self, stmt: Statement) -> DataFrame:
        name, args = _prep.parse_execute(stmt.text)
        if name not in self.prepared:
            raise ValueError(f"prepared statement not found: {name}")
        return self.sql(_prep.bind(self.prepared[name], args))

    def _show_create_function(self, stmt: Statement) -> DataFrame:
        # #showCreateFunction: render the stored definition text.
        fname = stmt.text.split()[3].strip('"').lower()
        src = getattr(self, "_function_sources", {}).get(fname.upper())
        if src is None:
            raise ValueError(f"function not found: {fname}")
        return local_frame(self.spark, [(src,)], "create_function: string")

    def _set_path(self, stmt: Statement) -> DataFrame:
        # #setPath (SetPathTask.java): recorded; the engine's single
        # function namespace makes it a session attribute only.
        self.sql_path = stmt.text.split(None, 2)[2].strip()
        return local_frame(self.spark, [(self.sql_path,)], "path: string")

    def _create_function(self, stmt: Statement) -> DataFrame:
        routine = _routines_mod.parse_create_function(stmt.text)
        if not hasattr(self, "_function_sources"):
            self._function_sources = {}
        self._function_sources[routine.name.upper()] = stmt.text
        if isinstance(routine, _routines_mod.PythonRoutine):
            # Row-interpreted path (loops / LANGUAGE PYTHON): a real UDF.
            # Spark resolves the registered name during analysis, so no
            # macro expansion is needed (or possible) for these.
            self.python_routines[routine.name] = routine
            self.spark.udf.register(routine.name.lower(), routine.fn, routine.returns)
        else:
            self.routines[routine.name] = routine
        return local_frame(self.spark, [(routine.name.lower(),)], "function: string")

    def _drop_function(self, stmt: Statement) -> DataFrame:
        dropped = _routines_mod.parse_drop_function(stmt.text)
        self.routines.pop(dropped, None)
        self.python_routines.pop(dropped, None)
        getattr(self, "_function_sources", {}).pop(dropped.upper(), None)
        return local_frame(self.spark, [(dropped.lower(),)], "function: string")

    def _create_materialized_view(self, stmt: Statement) -> DataFrame:
        skip = len(stmt.kind.split())
        rest = stmt.text.split(None, skip)[skip]
        name, _, defn = rest.partition(" AS ") if " AS " in rest else rest.partition(" as ")
        name = name.strip().strip('"').split(".")[-1].lower()
        if not defn.strip():
            raise ValueError(f"CREATE MATERIALIZED VIEW {name}: missing AS <query>")
        self.materialized_views[name] = defn.strip()
        self._mv_refresh(name)
        return local_frame(self.spark, [(name,)], "materialized_view: string")

    def _refresh_materialized_view(self, stmt: Statement) -> DataFrame:
        name = stmt.text.split()[3].strip('"').split(".")[-1].lower()
        if name not in self.materialized_views:
            raise ValueError(f"materialized view not found: {name}")
        n = self._mv_refresh(name)
        return local_frame(self.spark, [(name, n)], "materialized_view: string, rows: bigint")

    def _drop_materialized_view(self, stmt: Statement) -> DataFrame:
        parts = stmt.text.split()
        idx = 5 if len(parts) > 5 and parts[3].upper() == "IF" else 3
        name = parts[idx].strip('"').split(".")[-1].lower()
        self.materialized_views.pop(name, None)
        self._mv_meta.pop(name, None)
        self.spark.catalog.dropTempView(name)
        return local_frame(self.spark, [(name,)], "materialized_view: string")

    def _show_session(self, stmt: Statement) -> DataFrame:
        # SET SESSION properties recorded on this engine
        # (SystemSessionProperties.java surface).
        rows = sorted(self.session_properties.items())
        return local_frame(self.spark, rows or [], "name: string, value: string")

    def _show_functions(self, stmt: Statement) -> DataFrame:
        # SHOW FUNCTIONS (ShowQueriesRewrite.java): the engine's
        # function inventory — dialect-mapped Trino names plus every
        # user-registered routine. Spark-native passthrough names
        # (shared spellings like abs/concat/sum) are not enumerated.
        from trino_spark.dialect import rewrites as _rw

        udfs = sorted(
            f.name
            for f in self.spark.catalog.listFunctions()
            # Spark marks builtins isTemporary too; they resolve to
            # catalyst expression classes, while session-registered
            # UDFs carry an UDFRegistration/UserDefined class or none.
            if f.isTemporary
            and "." not in f.name
            # dialect-internal registrations (e.g. the bounded
            # __spatial_partitioning_sampled twins) are not part of
            # the user-facing inventory
            and not f.name.startswith("__")
            and not (f.className or "").startswith(
                ("org.apache.spark.sql.catalyst.", "org.apache.spark.sql.execution.")
            )
        )
        rows = (
            [(n, "scalar", "dialect-rename") for n in sorted(_rw._RENAME)]
            + [(n, "scalar", "dialect-template") for n in sorted(_rw._TEMPLATE)]
            + [(n, "scalar", "registered-udf") for n in udfs]
            + [(n.lower(), "routine", "sql") for n in sorted(self.routines)]
            + [(n.lower(), "routine", "python") for n in sorted(self.python_routines)]
        )
        return local_frame(
            self.spark, rows, "function_name: string, kind: string, source: string"
        )

    def _show_materialized_views(self, stmt: Statement) -> DataFrame:
        # Freshness surface of system.metadata.materialized_views
        # (MaterializedViewSystemTable.java): FRESH iff every source
        # table's on-disk fingerprint still matches the one captured at
        # refresh; UNKNOWN for non-filesystem sources (e.g. jdbc).
        rows = [
            (n, self._mv_freshness(n), self._mv_meta[n]["last_fresh_time"])
            for n in sorted(self.materialized_views)
        ]
        return local_frame(
            self.spark, rows or [], "name: string, freshness: string, last_fresh_time: string"
        )

    def _explain(self, stmt: Statement) -> DataFrame:
        # EXPLAIN [ANALYZE] [(TYPE ...)] <stmt> (ExplainRewrite.java):
        # returns the rendered plan as a one-column relation. TYPE maps
        # onto Spark's explain modes: LOGICAL -> extended (analyzed +
        # optimized logical), DISTRIBUTED -> formatted physical (stage/
        # exchange structure), VALIDATE -> analysis only, IO -> scanned
        # relations summary.
        analyze = stmt.word(1) == "ANALYZE"
        rest = stmt.text.split(None, 1)[1]
        mode = "formatted"
        fmt = "TEXT"
        tm = re.match(
            r"\(\s*((?:(?:TYPE|FORMAT)\s+\w+\s*,?\s*)+)\)\s*(.*)$",
            rest,
            re.IGNORECASE | re.DOTALL,
        )
        if tm:
            opts = {
                k.upper(): v.upper()
                for k, v in re.findall(r"(TYPE|FORMAT)\s+(\w+)", tm.group(1), re.IGNORECASE)
            }
            rest = tm.group(2)
            fmt = opts.get("FORMAT", "TEXT")
            if fmt not in ("TEXT", "JSON"):
                raise ValueError(f"EXPLAIN (FORMAT {fmt}) not supported")
            ttype = opts.get("TYPE", "DISTRIBUTED")
            mode = {
                "LOGICAL": "extended",
                "DISTRIBUTED": "formatted",
                "VALIDATE": "validate",
                "IO": "io",
            }.get(ttype)
            if mode is None:
                raise ValueError(f"EXPLAIN (TYPE {ttype}) not supported")
            if fmt == "JSON" and mode in ("validate",):
                raise ValueError("EXPLAIN (FORMAT JSON) supports TYPE LOGICAL/DISTRIBUTED/IO")
        if fmt == "JSON" and not analyze and mode != "validate":
            # ExplainRewrite's JSON rendering: emit Spark's own plan
            # JSON (TreeNode.toJSON) for the requested plan level
            df = self.sql(rest)
            qe = df._jdf.queryExecution()
            if mode == "extended":
                text = qe.optimizedPlan().toJSON()
            elif mode == "io":
                import json as _json

                plan = qe.optimizedPlan().toString()
                rels = sorted(set(re.findall(r"FileScan \S+|Relation \[[^\]]*\] \w+", plan)))
                text = _json.dumps({"inputTableColumnInfos": rels})
            else:
                text = qe.executedPlan().toJSON()
            return local_frame(self.spark, [(text,)], "query_plan: string")
        if analyze:
            text = self.explain_analyze(rest.split(None, 1)[1])
        elif mode == "validate":
            self.sql(rest).schema  # analysis only; no execution
            text = "VALID"
        elif mode == "io":
            df = self.sql(rest)
            plan = df._jdf.queryExecution().optimizedPlan().toString()
            rels = sorted(set(re.findall(r"Relation \[[^\]]*\] \w+|FileScan \S+", plan))) or [
                ln.strip() for ln in plan.splitlines() if "Relation" in ln
            ]
            text = "\n".join(rels) if rels else plan
        else:
            text = self.explain(rest, mode=mode)
        return local_frame(self.spark, [(text,)], "query_plan: string")

    def _describe(self, stmt: Statement) -> DataFrame | None:
        # DESCRIBE <table> == SHOW COLUMNS FROM <table> (the reference
        # rewrites it the same way, ShowQueriesRewrite.java).
        parts = stmt.text.split()
        return show_columns(self.spark, parts[1]) if len(parts) == 2 else None

    def _set_time_zone(self, stmt: Statement) -> DataFrame:
        # SET TIME ZONE (grammar SqlBase.g4; SetTimeZoneTask.java):
        # maps onto Spark's session timezone, which drives timestamp
        # rendering and AT TIME ZONE defaults. LOCAL restores UTC
        # (this engine's canonical zone, session.py).
        arg = stmt.text.split(None, 3)[3].strip()
        zone = "UTC" if arg.upper() == "LOCAL" else arg.strip("'")
        self.spark.conf.set("spark.sql.session.timeZone", zone)
        return local_frame(self.spark, [(zone,)], "time_zone: string")

    def _use(self, stmt: Statement) -> DataFrame | None:
        # USE catalog.schema (UseTask.java): single-catalog engine —
        # record the default schema; unqualified names already resolve
        # against the session catalog.
        parts = stmt.text.split()
        if len(parts) != 2:
            return None
        self._current_schema = parts[1].strip('"')
        return local_frame(self.spark, [(self._current_schema,)], "schema: string")

    def _set_session_authorization(self, stmt: Statement) -> DataFrame:
        # #setSessionAuthorization (SetSessionAuthorizationTask.java):
        # switch the session identity; CURRENT_USER reflects it.
        # Impersonation requires a privilege in the reference
        # (checkCanSetUser) — a restricted role must not sidestep
        # CURRENT_USER-based row filters/masks by switching identity,
        # so deny under any active restricted role (the same owner
        # gate as CREATE/DROP CATALOG).
        if _access._state(self)["current"] is not None:
            raise _access.AccessDenied(
                "Access Denied: SET SESSION AUTHORIZATION requires an owner session"
            )
        user = stmt.text.split(None, 3)[3].strip().strip("'\"")
        self.session_user = user
        return local_frame(self.spark, [(user,)], "user: string")

    def _reset_session_authorization(self, stmt: Statement) -> DataFrame:
        self.session_user = "trino"
        return local_frame(self.spark, [("trino",)], "user: string")

    def _set_session(self, stmt: Statement) -> DataFrame:
        # SET SESSION k = v (SystemSessionProperties.java surface):
        # recorded per-engine; spark.* keys pass through to the conf.
        key, val = session_assignment(stmt)
        self.session_properties[key] = val
        if key.startswith("spark."):
            self.spark.conf.set(key, val)
        return local_frame(self.spark, [(key, val)], "name: string, value: string")

    def _reset_session(self, stmt: Statement) -> DataFrame:
        key = stmt.text.split()[2]
        self.session_properties.pop(key, None)
        if key.startswith("spark."):
            self.spark.conf.unset(key)
        return local_frame(self.spark, [(key,)], "name: string")

    def _show_create_table(self, stmt: Statement) -> DataFrame:
        # SHOW CREATE TABLE (ShowQueriesRewrite.java): rendered DDL.
        name = stmt.text.split()[3].strip('"').split(".")[-1].lower()
        cols = ",\n   ".join(
            f"{f.name} {f.dataType.simpleString()}"
            for f in self.spark.table(name).schema.fields
        )
        src = self.catalog._sources.get(name)
        dml_path = getattr(self, "dml_tables", {}).get(name)
        extra = getattr(self, "_table_properties", {}).get(name, {})
        extra_txt = "".join(f",\n   {k} = '{v}'" for k, v in sorted(extra.items()))
        if dml_path:
            with_props = f"\nWITH (\n   format = 'PARQUET',\n   location = '{dml_path}'{extra_txt}\n)"
        elif src is not None:
            with_props = f"\nWITH (\n   format = '{src.format.upper()}',\n   location = '{src.path}'{extra_txt}\n)"
        elif extra:
            kv = ",\n   ".join(f"{k} = '{v}'" for k, v in sorted(extra.items()))
            with_props = f"\nWITH (\n   {kv}\n)"
        else:
            with_props = ""
        ddl = f"CREATE TABLE {name} (\n   {cols}\n){with_props}"
        return local_frame(self.spark, [(ddl,)], "create_table: string")

    def _show_create_materialized_view(self, stmt: Statement) -> DataFrame:
        name = stmt.text.split()[4].strip('"').split(".")[-1].lower()
        if name not in self.materialized_views:
            raise ValueError(f"materialized view not found: {name}")
        ddl = f"CREATE MATERIALIZED VIEW {name} AS\n{self.materialized_views[name]}"
        return local_frame(self.spark, [(ddl,)], "create_materialized_view: string")

    def _show_stats(self, stmt: Statement) -> DataFrame:
        target = stmt.text.split(None, 3)[3].strip()
        if target.startswith("("):
            # #showStatsForQuery (ShowStatsRewrite.java handles both
            # forms): compute the stats shape over the query result.
            inner = target.strip()[1:-1] if target.endswith(")") else target[1:]
            import os as _os

            view = f"_show_stats_q_{_os.getpid()}"
            self.sql(inner).createOrReplaceTempView(view)
            return show_stats(self.spark, view)
        return show_stats(
            self.spark,
            target.strip('"'),
            cache=getattr(self, "_stats_cache", None),
        )

    def _analyze(self, stmt: Statement) -> DataFrame | None:
        # ANALYZE <table> (grammar SqlBase.g4; AnalyzeTask.java +
        # connector collectStatistics): run the one-pass stats
        # aggregation now and persist it on the engine — subsequent
        # SHOW STATS serve the collected statistics without a scan.
        parts = stmt.text.split()
        if len(parts) < 2:
            return None
        cache = getattr(self, "_stats_cache", None)
        if cache is None:
            cache = self._stats_cache = {}
        tbl = parts[1].strip('"').split(".")[-1].lower()
        cache.pop(tbl, None)
        n = show_stats(self.spark, tbl, cache=cache, populate=True).where(
            "column_name IS NULL"
        ).collect()[0].row_count
        return local_frame(self.spark, [(tbl, int(n or 0))], "table_name: string, rows: bigint")

    def _prepared_params(self, stmt: Statement) -> tuple[str, int]:
        """(name, parameter count) of `DESCRIBE INPUT|OUTPUT name`."""
        name = stmt.text.split()[2].upper()
        if name not in self.prepared:
            raise ValueError(f"prepared statement not found: {name}")
        return name, sum(1 for t in _prep.tokenize(self.prepared[name]) if t.is_sym("?"))

    def _describe_output(self, stmt: Statement) -> DataFrame | None:
        if len(stmt.text.split()) != 3:  # DESCRIBE of a table named output
            return self._describe(stmt)
        name, n = self._prepared_params(stmt)
        bound = _prep.bind(self.prepared[name], ["NULL"] * n)
        schema = self.spark.sql(translate(bound)).schema
        return local_frame(
            self.spark,
            [(f.name, f.dataType.simpleString()) for f in schema],
            "column_name string, type string",
        )

    def _describe_input(self, stmt: Statement) -> DataFrame | None:
        if len(stmt.text.split()) != 3:  # DESCRIBE of a table named input
            return self._describe(stmt)
        _, n = self._prepared_params(stmt)
        return local_frame(
            self.spark, [(i, "unknown") for i in range(n)], "position int, type string"
        )

    def register_table_function(self, name: str, handler: type, return_type: str) -> None:
        """Register a custom PTF (Python UDTF) callable as TABLE(name(...))
        — the user-facing analog of Trino's ConnectorTableFunction SPI."""
        from trino_spark.dialect import ptf as _ptf

        _ptf.register_table_function(self.spark, name, handler, return_type)

    def _mv_refresh(self, name: str) -> int:
        """(Re)materialize a view: run its definition, store parquet, point
        the name at the STORED data (RefreshMaterializedViewOperator).
        Captures a fingerprint of every referenced source table so
        freshness can be decided later without re-running the view."""
        import datetime
        import os

        repo = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
        path = os.path.join(repo, "spark-warehouse", "mv", name)
        df = self.sql(self.materialized_views[name])
        df.write.mode("overwrite").parquet(path)
        stored = self.spark.read.parquet(path)
        stored.createOrReplaceTempView(name)
        getattr(self, "_stats_cache", {}).pop(name, None)  # new data, stale stats
        self._mv_meta[name] = {
            "sources": self._mv_source_fingerprints(self.materialized_views[name]),
            "last_fresh_time": datetime.datetime.now(datetime.timezone.utc).isoformat(),
        }
        return stored.count()

    def _mv_source_fingerprints(self, defn: str) -> dict[str, str | None]:
        """table -> fingerprint for every relation the defining SQL
        references (FROM/JOIN identifier scan). None = a source whose
        snapshot we cannot observe (jdbc, temp views) -> freshness
        UNKNOWN rather than a false FRESH."""
        import os
        import re

        repo = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
        out: dict[str, str | None] = {}
        for m in re.finditer(r"\b(?:FROM|JOIN)\s+([A-Za-z_][\w.]*)", defn, re.IGNORECASE):
            name = m.group(1).split(".")[-1].lower()
            src = self.catalog._sources.get(name)
            if src is not None and src.format != "jdbc" and src.path:
                out[name] = self._fs_fingerprint(src.path)
            elif name in self.materialized_views:
                out[name] = self._fs_fingerprint(os.path.join(repo, "spark-warehouse", "mv", name))
            else:
                out[name] = None
        return out

    @staticmethod
    def _fs_fingerprint(path: str) -> str | None:
        """Stable digest of (relative path, size, mtime_ns) for every file
        under `path` — the parquet-dir analog of a lakehouse snapshot id."""
        import hashlib
        import os

        if not path or not os.path.exists(path):
            return None
        entries = []
        if os.path.isfile(path):
            st = os.stat(path)
            entries.append(("", st.st_size, st.st_mtime_ns))
        else:
            for root, _dirs, files in os.walk(path):
                for f in sorted(files):
                    fp = os.path.join(root, f)
                    st = os.stat(fp)
                    entries.append((os.path.relpath(fp, path), st.st_size, st.st_mtime_ns))
        h = hashlib.md5(repr(sorted(entries)).encode()).hexdigest()
        return h

    def _mv_freshness(self, name: str) -> str:
        meta = self._mv_meta.get(name)
        if meta is None:
            return "UNKNOWN"
        for tbl, fp in meta["sources"].items():
            src = self.catalog._sources.get(tbl)
            if fp is None or src is None:
                return "UNKNOWN"
            if self._fs_fingerprint(src.path) != fp:
                return "STALE"
        return "FRESH"

    def explain(self, trino_sql: str, mode: str = "formatted") -> str:
        """EXPLAIN wrapper (reference: ExplainRewrite.java /
        main/operator/ExplainAnalyzeOperator.java:35)."""
        import contextlib
        import io

        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            self.sql(trino_sql).explain(mode=mode)
        return buf.getvalue()

    def explain_analyze(self, trino_sql: str) -> str:
        """EXPLAIN ANALYZE: execute, then render the final (AQE-resolved)
        physical plan with PER-OPERATOR runtime statistics — the role of
        Trino's ExplainAnalyzeOperator
        (main/operator/ExplainAnalyzeOperator.java:35). The query runs
        through its own QueryExecution (rows discarded executor-side), so
        each node's SQLMetrics are populated; AQE query stages are
        flattened into one tree."""
        df = self.sql(trino_sql)
        qe = df._jdf.queryExecution()
        qe.toRdd().count()  # execute THIS plan; output stays on executors
        plan = qe.executedPlan()
        try:
            final = plan.executedPlan()  # AdaptiveSparkPlanExec final plan
        except Exception:
            final = plan
        # metric keys worth a line in the report, highest-signal first
        preferred = (
            "numOutputRows", "numFiles", "filesSize", "scanTime", "aggTime",
            "sortTime", "buildTime", "collectTime", "shuffleRecordsWritten",
            "dataSize", "numPartitions", "peakMemory", "spillSize",
        )
        lines: list[str] = []

        def walk(node, depth: int) -> None:
            name = node.nodeName()
            if "QueryStage" in name:
                walk(node.plan(), depth)
                return
            if name.startswith("WholeStageCodegen") or name == "InputAdapter":
                for i in range(node.children().size()):
                    walk(node.children().apply(i), depth)
                return
            mets: dict[str, int] = {}
            it = node.metrics().iterator()
            while it.hasNext():
                kv = it.next()
                mets[kv._1()] = kv._2().value()
            shown = [k for k in preferred if k in mets]
            shown += [k for k in sorted(mets) if k not in preferred and mets[k]][:3]
            stats = ", ".join(f"{k}={mets[k]}" for k in shown[:6])
            lines.append("  " * depth + name + (f" [{stats}]" if stats else ""))
            for i in range(node.children().size()):
                walk(node.children().apply(i), depth + 1)

        try:
            walk(final, 0)
            return "\n".join(lines)
        except Exception:
            # py4j tree-walk is best-effort; the executed plan string still
            # reflects the AQE-final shape
            return plan.toString()


def session_assignment(stmt: Statement) -> tuple[str, str]:
    """(key, value) of `SET SESSION key = value`, the value unquoted. The
    HTTP server answers the same pair in X-Trino-Set-Session, so the client
    re-sends exactly the stored value."""
    key, _, val = stmt.text.split(None, 2)[2].partition("=")
    return key.strip(), val.strip().strip("'")


def _quote(value: str) -> str:
    return "'" + value.replace("'", "''") + "'"


# Niladic functions, substituted as literals outside string literals.
_NILADICS = [
    # CURRENT_USER (#currentUser) reflects SET SESSION AUTHORIZATION.
    (re.compile(r"\bCURRENT_USER\b", re.I), lambda e: _quote(getattr(e, "session_user", "trino"))),
    # version() (#version, ServerInfoResource analog): the engine release.
    (re.compile(r"\bversion\s*\(\s*\)", re.I), lambda e: _quote(__version__)),
    # current_schema: the engine's own USE-tracked schema (the translate()
    # fallback maps it to current_database() for raw spark.sql callers).
    (
        re.compile(r"(?<!\.\s)(?<!\.)\bcurrent_schema\b(?!\s*[.(])", re.I),
        lambda e: _quote(getattr(e, "_current_schema", "default")),
    ),
    # current_groups() (#currentGroups): the identity model is roles, so
    # the groups are the active role (none for the owner session).
    (
        re.compile(r"\bcurrent_groups\s*\(\s*\)", re.I),
        lambda e: f"array({_quote(e._acl['current'])})"
        if getattr(e, "_acl", {}).get("current")
        else "CAST(array() AS ARRAY<STRING>)",
    ),
]


def _task_rows(engine) -> list[tuple]:
    # TaskSystemTable.java: live execution tasks. Local mode maps Spark's
    # active stages — one row per (stage, running tasks).
    sc = engine.spark.sparkContext
    st = sc.statusTracker()
    rows = []
    for sid in st.getActiveStageIds():
        info = st.getStageInfo(sid)
        if info:
            rows.append(
                (
                    sc.applicationId,
                    f"stage-{sid}",
                    "RUNNING",
                    int(info.numTasks),
                    int(info.numActiveTasks),
                    int(info.numCompletedTasks),
                    int(info.numFailedTasks),
                )
            )
    return rows


# {Schema,Table,Column,Analyze,MaterializedView}PropertiesSystemTable.java:
# the property names each catalog accepts.
_PROPERTIES = {
    "table_properties": [
        ("format", "varchar", "PARQUET", "File format"),
        ("location", "varchar", "", "Storage location"),
        ("partitioned_by", "array(varchar)", "[]", "Partition columns"),
        ("bucketed_by", "array(varchar)", "[]", "Bucketing columns"),
        ("bucket_count", "integer", "0", "Number of buckets"),
    ],
    "schema_properties": [("location", "varchar", "", "Storage location")],
    "column_properties": [],
    "analyze_properties": [("columns", "array(varchar)", "[]", "Columns to analyze")],
    "materialized_view_properties": [("storage_schema", "varchar", "", "Storage schema")],
}

# JDBC driver type codes (java.sql.Types DATA_TYPE) of JdbcTypesSystemTable.
_JDBC_TYPES = [
    ("boolean", 16), ("tinyint", -6), ("smallint", 5), ("integer", 4), ("bigint", -5),
    ("real", 7), ("double", 8), ("decimal", 3), ("varchar", 12), ("char", 1),
    ("varbinary", -3), ("date", 91), ("time", 92), ("timestamp", 93),
    ("timestamp with time zone", 2014), ("array", 2003), ("map", 2000), ("row", 2002),
    ("json", 2000),
]

# Engine-made system tables: dotted name -> (schema, rows(engine)), served
# as a local relation named "_" + dotted name with '_' for '.'; a string
# is instead the SQL of a projection over information_schema (the
# system.jdbc schema that serves JDBC DatabaseMetaData).
_SYSTEM_TABLES = {
    # NodesSystemTable.java: one coordinator row in local mode; on a real
    # cluster this would enumerate executors.
    "system.runtime.nodes": (
        "node_id: string, http_uri: string, node_version: string, coordinator: boolean,"
        " state: string",
        lambda e: [
            (
                e.spark.sparkContext.applicationId,
                e.spark.sparkContext.master,
                e.spark.sparkContext.version,
                True,
                "active",
            )
        ],
    ),
    # InformationSchemaPageSource.java VIEWS: logical views + MVs.
    "information_schema.views": (
        "table_name: string, view_definition: string, view_type: string",
        lambda e: [(n, d, "VIEW") for n, d in sorted(getattr(e, "views", {}).items())]
        + [(n, d, "MATERIALIZED VIEW") for n, d in sorted(e.materialized_views.items())],
    ),
    "system.runtime.tasks": (
        "node_id: string, task_id: string, state: string, splits: int,"
        " running_splits: int, completed_splits: int, failed_splits: int",
        _task_rows,
    ),
    **{
        f"system.metadata.{table}": (
            "catalog_name: string, property_name: string, type: string,"
            " default_value: string, description: string",
            lambda e, props=props: [("spark", *p) for p in props],
        )
        for table, props in _PROPERTIES.items()
    },
    # CatalogSystemTable.java: the session catalog + dynamic mounts.
    "system.metadata.catalogs": (
        "catalog_name: string, connector_name: string",
        lambda e: [("spark", "spark")]
        + [(n, m["connector"]) for n, m in sorted(getattr(e, "catalogs", {}).items())],
    ),
    # MaterializedViewSystemTable.java: name/definition/freshness.
    "system.metadata.materialized_views": (
        "name: string, definition: string, freshness: string",
        lambda e: [
            (n, e.materialized_views[n], e._mv_freshness(n)) for n in sorted(e.materialized_views)
        ],
    ),
    # CommentTask.java comments, kept by dialect/access.py.
    "system.metadata.table_comments": (
        "table_name: string, comment: string",
        lambda e: sorted(_access._state(e)["table_comments"].items()),
    ),
    "system.jdbc.tables": "SELECT 'spark' AS table_cat, table_schema AS table_schem,"
    " table_name, 'TABLE' AS table_type FROM information_schema_tables",
    "system.jdbc.schemas": "SELECT DISTINCT table_schema AS table_schem,"
    " 'spark' AS table_catalog FROM information_schema_tables",
    "system.jdbc.columns": "SELECT 'spark' AS table_cat, table_schema AS table_schem,"
    " table_name, column_name, data_type AS type_name, ordinal_position"
    " FROM information_schema_columns",
    "system.jdbc.table_types": "SELECT explode(array('TABLE', 'VIEW')) AS table_type",
    "system.jdbc.catalogs": "SELECT 'spark' AS table_cat",
    "system.jdbc.types": ("type_name: string, data_type: int", lambda e: _JDBC_TYPES),
    # QuerySystemTable.java: dispatch state per recorded query.
    "system.runtime.queries": (
        "query_id: string, state: string, user: string, query: string,"
        " elapsed_ms: double, created: timestamp, started: timestamp, `end`: timestamp",
        lambda e: list(getattr(e, "_query_log", [])),
    ),
}

# The one statement dispatch table: kind -> handler(engine, Statement),
# returning a DataFrame, or None to hand the statement to the dialect
# translation (TrinoEngine._query). classify() matches a statement's
# leading keywords against these keys, longest first.
DISPATCH = {
    **_access.HANDLERS,
    **_branches.HANDLERS,
    **_catalogs.HANDLERS,
    **_dml.HANDLERS,
    **infoschema.HANDLERS,
    "SELECT": TrinoEngine._read,
    "WITH": TrinoEngine._read,
    "VALUES": TrinoEngine._read,
    "TABLE": TrinoEngine._read,
    "WITH FUNCTION": TrinoEngine._with_function,
    # prepared statements (PrepareTask.java)
    "PREPARE": TrinoEngine._prepare,
    "DEALLOCATE": TrinoEngine._deallocate,
    "EXECUTE": TrinoEngine._execute,
    "EXECUTE IMMEDIATE": TrinoEngine._execute_immediate,
    "DESCRIBE INPUT": TrinoEngine._describe_input,
    "DESCRIBE OUTPUT": TrinoEngine._describe_output,
    # SQL routines (dialect/routines.py)
    "CREATE FUNCTION": TrinoEngine._create_function,
    "CREATE OR REPLACE FUNCTION": TrinoEngine._create_function,
    "DROP FUNCTION": TrinoEngine._drop_function,
    "SHOW CREATE FUNCTION": TrinoEngine._show_create_function,
    "SET PATH": TrinoEngine._set_path,
    "SHOW FUNCTIONS": TrinoEngine._show_functions,
    # materialized views
    "CREATE MATERIALIZED VIEW": TrinoEngine._create_materialized_view,
    "CREATE OR REPLACE MATERIALIZED VIEW": TrinoEngine._create_materialized_view,
    "REFRESH MATERIALIZED VIEW": TrinoEngine._refresh_materialized_view,
    "DROP MATERIALIZED VIEW": TrinoEngine._drop_materialized_view,
    "SHOW MATERIALIZED VIEWS": TrinoEngine._show_materialized_views,
    "SHOW CREATE MATERIALIZED VIEW": TrinoEngine._show_create_materialized_view,
    # session
    "USE": TrinoEngine._use,
    "SET TIME ZONE": TrinoEngine._set_time_zone,
    "SET SESSION": TrinoEngine._set_session,
    "RESET SESSION": TrinoEngine._reset_session,
    "SHOW SESSION": TrinoEngine._show_session,
    "SET SESSION AUTHORIZATION": TrinoEngine._set_session_authorization,
    "RESET SESSION AUTHORIZATION": TrinoEngine._reset_session_authorization,
    # plans, descriptions and statistics
    "EXPLAIN": TrinoEngine._explain,
    "DESCRIBE": TrinoEngine._describe,
    "SHOW CREATE TABLE": TrinoEngine._show_create_table,
    "SHOW STATS FOR": TrinoEngine._show_stats,
    "ANALYZE": TrinoEngine._analyze,
}


def classify(sql: str) -> Statement:
    """Tokenize `sql` once and name its kind from DISPATCH's keys."""
    return _statement.classify(sql, DISPATCH)
