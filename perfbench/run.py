#!/usr/bin/env python3
"""Layered, seeded benchmark of the Trino-dialect engine on Spark.

One invocation runs one workload as a closed loop with one client on
local[<nproc>] and prints its result as the last line of stdout:

    python3 perfbench/run.py --workload batch --seed 7 --seconds 11 --trace 0

A run sets the stack up (launching the JVM), runs one cold pass, a fixed
number of untimed warm-up passes, then `round(--seconds / nominal pass
length)` timed warm passes, and then stops the session and sets it up again
on that JVM, twice more.  Every statement's answer is checked against
DuckDB outside the timer; errors and wrong answers count in `failed`.
`--trace 0` reports the end-to-end metrics of BENCHMARK.json,
`--trace 1` alternates traced and untraced timed passes and reports its
per-layer metrics (perfbench/tracing.py), including the tracing overhead.
The seed picks the statement order of every pass and the keys of
interactive_mix; the program only sees the generated statements.

README.md beside this file says why each workload was chosen and which
end-to-end metric each layer metric should move.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import shutil
import statistics
import sys
import time
import traceback
from dataclasses import dataclass
from functools import partial
from pathlib import Path
from typing import Any, Callable

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
DATA = HERE / "data"

# The run budget (48 runs in under an hour on 4 cores, each paying ~20 s of
# set-up and a cold pass) leaves room for two workloads with enough warm
# passes to be steady, so the TPC-H SQL text and the LLM-data builders share
# one batch workload.  All 22 TPC-H queries take ~15 s a warm pass at sf0.1
# and all 15 LLM builders ~38 s; the subset keeps a plain aggregate (q01), a
# selective scan (q06), a 3-way join with ORDER BY/LIMIT (q03), a scalar
# subquery in HAVING (q11) and IN over a grouped subquery (q18).
TPCH_QUERIES = (
    "q01_pricing_summary",
    "q03_shipping_priority",
    "q06_forecast_revenue",
    "q11_important_stock",
    "q18_large_volume_customer",
)
# LM scoring (n-gram tables built by jobs the builder runs eagerly, then a
# broadcast join) and image decoding (chained mapInPandas over Arrow).
BUILDERS = ("text_lm_perplexity", "multimodal_ppm_decode")
SCALES = {
    "bench": {"batch": "sf0.1", "interactive_mix": "sf0.01"},
    "smoke": {"batch": "sf0.001", "interactive_mix": "sf0.001"},
}
SETUPS = 3
# After the cold pass Spark keeps speeding up for several passes while the
# JVM compiles its hot paths (batch: ~6.2 s, 5.1, 4.6, 4.5, 4.5, then ~3.8 s
# on 4 cores), and where a run lands on that slope depends on the host's
# load.  So a run first makes these untimed warm-up passes, still checked,
# and times only passes on the plateau.
WARMUP_PASSES = {
    "bench": {"batch": 3, "interactive_mix": 1},
    "smoke": {"batch": 1, "interactive_mix": 1},
}
# Timed passes per run are `round(--seconds / nominal pass length)`, not
# "until the clock runs out", so every run and every commit times the same
# passes.  Lengths are plateau passes on 4 cores.
NOMINAL_PASS_S = {"batch": 3.4, "interactive_mix": 3.7}
# Sized for a 15 GB host shared with other jobs; the sf0.1 plans peak well
# under 2 GB of heap.
DRIVER_MEM = "4g"
# interactive_mix table rows: a bigint key and a double value.
ROW_BYTES = 16


@dataclass
class Statement:
    name: str
    kind: str  # read | meta | write
    run: Callable[[], Any]  # timed
    check: Callable[[Any], None]  # untimed; raises AssertionError on a wrong answer


@dataclass
class Stack:
    spark: Any
    engine: Any
    server: Any = None
    conn: Any = None


@dataclass
class Tally:
    attempted: int = 0
    failed: int = 0

    def fail(self, what: str) -> None:
        self.failed += 1
        print(f"perfbench: FAILED {what}", file=sys.stderr)


class _Fetched:
    """Rows already fetched, shaped for `assert_same_results` (it calls toPandas)."""

    def __init__(self, pdf):
        self._pdf = pdf

    def toPandas(self):  # noqa: N802 - the DataFrame method name
        return self._pdf


def _frame(columns, rows):
    import pandas as pd

    return pd.DataFrame.from_records([tuple(r) for r in rows], columns=columns)


# --------------------------------------------------------------- workloads


class Workload:
    with_server = False

    def __init__(self, stack: Stack, sf_dir: str, con):
        self.stack, self.sf_dir, self.con = stack, sf_dir, con
        self.tracer = None

    def statements(self, rng: random.Random) -> list[Statement]:
        raise NotImplementedError

    def after_pass(self, tally: Tally) -> None:
        """Untimed end-of-pass check."""

    def file_state(self) -> dict:
        return {}

    def write_metrics(self, before: dict) -> dict[str, float]:
        return {}

    def finish(self) -> None:
        """Drop what the workload created."""


class Batch(Workload):
    """TPC-H SQL text through TrinoEngine.sql then collect, and query builders
    through spec.build then an Arrow toPandas."""

    def __init__(self, stack, sf_dir, con):
        from trino_spark.queries import all_specs

        super().__init__(stack, sf_dir, con)
        specs = all_specs()
        self.text = {q: specs[q].oracle for q in TPCH_QUERIES}
        self.builders = {n: specs[n] for n in BUILDERS}
        self.expected = {q: con.execute(sql).fetch_df() for q, sql in self.text.items()}
        for n, spec in self.builders.items():
            self.expected[n] = con.execute(spec.oracle).fetch_df()

    def statements(self, rng):
        order = list(TPCH_QUERIES + BUILDERS)
        rng.shuffle(order)
        return [Statement(n, "read", partial(self._run, n), partial(self._check, n)) for n in order]

    def _run(self, n):
        if n in self.text:
            df = self.stack.engine.sql(self.text[n])
            return df.columns, df.collect()
        build, spark = self.builders[n].build, self.stack.spark
        df = self.tracer.build(build, spark, self.sf_dir) if self.tracer else build(spark, self.sf_dir)
        return df.toPandas()

    def _check(self, n, result):
        from trino_spark.testing import assert_same_results

        pdf = _frame(*result) if isinstance(result, tuple) else result
        assert_same_results(_Fetched(pdf), self.expected[n], n)


class InteractiveMix(Workload):
    """DB-API client against the in-process HTTP server: reads, metadata and
    writes on a benchmark-owned table, one seeded key per cycle."""

    with_server = True

    def __init__(self, stack, sf_dir, con):
        from trino_spark.catalog import ALL_TABLES
        from trino_spark.dialect.dml import _warehouse_dir

        super().__init__(stack, sf_dir, con)
        self.cur = stack.conn.cursor()
        self.table = f"perfbench_{os.getpid()}_{time.time_ns() % 10**9}"
        self.dirs = [
            os.path.join(_warehouse_dir(), self.table),
            os.path.join(_warehouse_dir(), ".snapshots", self.table),
        ]
        where = "FROM orders WHERE o_orderkey % 10 = 0"
        stack.engine.sql(
            f"CREATE TABLE {self.table} AS SELECT o_orderkey AS k, o_totalprice AS v {where}"
        ).collect()
        self.base = con.execute(f"SELECT count(*), sum(o_totalprice) {where}").fetchone()
        self.count, self.total = self.base
        self.keys = [k for (k,) in con.execute("SELECT o_orderkey FROM orders ORDER BY 1").fetchall()]
        self.columns = [c for (c, *_) in con.execute("DESCRIBE orders").fetchall()]
        self.tables = set(ALL_TABLES) | {self.table}

    def _query(self, sql):
        self.cur.execute(sql)
        return [d[0] for d in self.cur.description], self.cur.fetchall()

    def _stmt(self, name, kind, sql, check):
        return Statement(name, kind, partial(self._query, sql), check)

    def statements(self, rng):
        t = self.table
        key = rng.choice(self.keys)
        wkey = -rng.randrange(1, 10**9)  # never an orders key
        v1, v2 = rng.randrange(100, 10**6) / 100, rng.randrange(100, 10**6) / 100
        point = f"SELECT o_orderkey, o_custkey, o_totalprice FROM orders WHERE o_orderkey = {key}"
        nation = (
            "SELECT r.r_name, count(*) AS n FROM nation n JOIN region r "
            "ON n.n_regionkey = r.r_regionkey GROUP BY r.r_name"
        )
        others = [
            self._stmt("point_select", "read", point, partial(self._oracle, point)),
            self._stmt("nation_groupby", "read", nation, partial(self._oracle, nation)),
            self._stmt("table_agg", "read", f"SELECT count(*) AS n, sum(v) AS s FROM {t}", self._check_agg),
            self._stmt("show_tables", "meta", "SHOW TABLES", self._check_tables),
            self._stmt("describe", "meta", "DESCRIBE orders", self._check_columns),
            self._stmt(
                "columns_lookup",
                "meta",
                "SELECT column_name, data_type FROM information_schema.columns WHERE table_name = 'orders'",
                self._check_columns,
            ),
            self._stmt(
                "queries_count", "meta", "SELECT count(*) AS n FROM system.runtime.queries", self._check_positive
            ),
        ]
        # INSERT, UPDATE and DELETE of one key keep the row count constant,
        # so they keep this order wherever the shuffle puts them.
        writes = iter(
            [
                self._stmt("insert", "write", f"INSERT INTO {t} VALUES ({wkey}, {v1})", partial(self._wrote, 1, v1)),
                self._stmt(
                    "update", "write", f"UPDATE {t} SET v = {v2} WHERE k = {wkey}", partial(self._wrote, 0, v2 - v1)
                ),
                self._stmt("delete", "write", f"DELETE FROM {t} WHERE k = {wkey}", partial(self._wrote, -1, -v2)),
            ]
        )
        slots = others + [None] * 3
        rng.shuffle(slots)
        return [s if s is not None else next(writes) for s in slots]

    def _oracle(self, sql, result):
        from trino_spark.testing import assert_same_results

        assert_same_results(_Fetched(_frame(*result)), self.con.execute(sql).fetch_df(), sql)

    def _check_agg(self, result):
        (n, s), = result[1]
        assert n == self.count and math.isclose(s, self.total, rel_tol=1e-9), (n, s, self.count, self.total)

    def _check_tables(self, result):
        assert {r[0] for r in result[1]} == self.tables, result[1]

    def _check_columns(self, result):
        assert [r[0] for r in result[1]] == self.columns, result[1]

    def _check_positive(self, result):
        (n,), = result[1]
        assert n >= 1, n

    def _wrote(self, d_count, d_total, result):
        assert result[1] == [[1]], result[1]
        self.count += d_count
        self.total += d_total

    def after_pass(self, tally):
        (n, s), = self.stack.engine.sql(f"SELECT count(*), sum(v) FROM {self.table}").collect()
        if n != self.base[0] or not math.isclose(s, self.base[1], rel_tol=1e-9):
            tally.fail(f"{self.table}: count/sum {n}/{s} after a cycle, expected {self.base}")

    def file_state(self):
        state = {}
        for d in self.dirs:
            for dirpath, _, files in os.walk(d):
                for f in files:
                    st = os.stat(os.path.join(dirpath, f))
                    state[os.path.join(dirpath, f)] = (st.st_size, st.st_mtime_ns)
        return state

    def write_metrics(self, before):
        after = self.file_state()
        new = [p for p, v in after.items() if before.get(p) != v]
        written = sum(after[p][0] for p in new)
        return {
            "writes.bytes_written": written,
            "writes.files_written": len(new),
            "writes.amplification": written / (3 * ROW_BYTES),
            "writes.table_files": sum(
                1 for p in after if p.startswith(self.dirs[0] + os.sep) and p.endswith(".parquet")
            ),
        }

    def finish(self):
        self.cur.close()
        self.stack.engine.sql(f"DROP TABLE IF EXISTS {self.table}").collect()
        for d in self.dirs:
            shutil.rmtree(d, ignore_errors=True)


WORKLOADS = {"batch": Batch, "interactive_mix": InteractiveMix}


# ------------------------------------------------------------- the stack


def set_up(sf_dir: str, with_server: bool, conf: dict[str, str]) -> tuple[Stack, dict[str, float]]:
    from trino_spark import client
    from trino_spark.dialect import TrinoEngine
    from trino_spark.server import TrinoHttpServer
    from trino_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", extra_conf=conf)
    t1 = time.perf_counter()
    stack = Stack(spark, TrinoEngine(spark, sf_dir=sf_dir))
    t2 = time.perf_counter()
    if with_server:
        stack.server = TrinoHttpServer(stack.engine).start()
        stack.conn = client.connect(stack.server.url())
    t3 = time.perf_counter()
    return stack, {"setup.session_s": t1 - t0, "setup.engine_s": t2 - t1, "setup.server_s": t3 - t2}


def tear_down(stack: Stack) -> None:
    if stack.conn is not None:
        stack.conn.close()
    if stack.server is not None:
        stack.server.stop()
    stack.spark.stop()


def stop_jvm() -> None:
    """Shut the py4j gateway down and wait for the driver JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except Exception:
        proc.kill()
        proc.wait()


def _hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def peak_rss_mb() -> float:
    """Peak resident memory of the driver JVM plus this Python process."""
    from pyspark import SparkContext

    return _hwm_mb(SparkContext._gateway.proc.pid) + _hwm_mb("self")


# ------------------------------------------------------------------ passes


def run_pass(stmts: list[Statement], tally: Tally, tracer, via_server: bool) -> list[tuple[str, str, float]]:
    """Run statements back to back; return (name, kind, seconds) for each."""
    out = []
    for st in stmts:
        if tracer is not None:
            tracer.begin_statement()
        t0 = time.perf_counter()
        try:
            result, err = st.run(), None
        except Exception:  # a statement error is a counted failure, not a crash
            result, err = None, traceback.format_exc()
        dt = time.perf_counter() - t0
        if tracer is not None:
            tracer.end_statement(dt * 1000, via_server)
        tally.attempted += 1
        if err is None:
            try:
                st.check(result)
            except AssertionError:
                err = traceback.format_exc()
        if err is not None:
            tally.fail(f"{st.name}: {err}")
        out.append((st.name, st.kind, dt))
    return out


def close_workload(wl: Workload | None, tracer) -> None:
    if wl is not None:
        wl.finish()
        wl.con.close()
    if tracer is not None:
        tracer.uninstall()


def measure(args) -> dict:
    sys.path.insert(0, str(ROOT))
    from trino_spark.testing import duckdb_connection

    sf_dir = str(DATA / SCALES[args.scale][args.workload])
    run_dir = HERE / ".run" / f"{os.getpid()}-{time.time_ns()}"
    for sub in ("local", "tmp", "warehouse"):
        (run_dir / sub).mkdir(parents=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_LOCAL_DIRS=str(run_dir / "local"),
        TMPDIR=str(run_dir / "tmp"),
        # spark-submit's launcher JVM; the driver JVM gets the same through its conf
        SPARK_LAUNCHER_OPTS=f"-Djava.io.tmpdir={run_dir / 'tmp'} -XX:-UsePerfData",
        PYTHONPATH=os.pathsep.join(filter(None, [str(ROOT), os.environ.get("PYTHONPATH")])),
    )
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": DRIVER_MEM,
        "spark.sql.warehouse.dir": str(run_dir / "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={run_dir / 'tmp'} -XX:-UsePerfData",
    }
    wl_cls = WORKLOADS[args.workload]
    rng = random.Random(args.seed)
    tally = Tally()
    stack = wl = tracer = None
    try:
        stack, times = set_up(sf_dir, wl_cls.with_server, conf)
        setups = [times]
        wl = wl_cls(stack, sf_dir, duckdb_connection(sf_dir))
        if args.trace:
            from tracing import Tracer

            tracer = Tracer(stack.spark)
            tracer.install()
            wl.tracer = tracer
        cold = run_pass(wl.statements(rng), tally, None, wl.with_server)
        wl.after_pass(tally)
        warmup = []
        for _ in range(WARMUP_PASSES[args.scale][args.workload]):
            warmup.append(run_pass(wl.statements(rng), tally, None, wl.with_server))
            wl.after_pass(tally)
        warm, layers, by_stmt = [], [], []
        n_warm = max(2 if args.trace else 1, round(args.seconds / NOMINAL_PASS_S[args.workload]))
        while len(warm) < n_warm:
            traced = bool(args.trace) and len(warm) % 2 == 1
            before = wl.file_state()
            if traced:
                tracer.activate()
            samples = run_pass(wl.statements(rng), tally, tracer if traced else None, wl.with_server)
            if traced:
                tracer.deactivate()
                layers.append({**tracer.pass_totals, **wl.write_metrics(before)})
                by_stmt.append([{"name": n, **acc} for (n, _, _), acc in zip(samples, tracer.pass_statements)])
            wl.after_pass(tally)
            warm.append((traced, samples))
        rss = peak_rss_mb()
        close_workload(wl, tracer)
        wl = tracer = None
        # The other set-ups rebuild the session and engine on the JVM the
        # passes warmed up, where their time no longer depends on how far
        # the JIT has got.
        while len(setups) < SETUPS:
            tear_down(stack)
            stack = None
            stack, times = set_up(sf_dir, wl_cls.with_server, conf)
            setups.append(times)
    finally:
        try:
            close_workload(wl, tracer)
            if stack is not None:
                tear_down(stack)
        finally:
            stop_jvm()
            shutil.rmtree(run_dir, ignore_errors=True)
    return {
        "workload": args.workload,
        "seed": args.seed,
        "sf": SCALES[args.scale][args.workload],
        "cpus": len(os.sched_getaffinity(0)),
        "setups": setups,
        "cold": cold,
        "warmup": warmup,
        "warm": warm,
        "layers": layers,
        "layers_by_statement": by_stmt,
        "peak_rss_mb": rss,
        "attempted": tally.attempted,
        "failed": tally.failed,
    }


# ----------------------------------------------------------------- metrics


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _gmean_ms(passes, kinds) -> float | None:
    """Geometric mean over statements of each statement's median latency
    across passes, as TPC-H's power metric averages its queries.  The
    statements of a pass differ by up to 10x, so the median statement would
    jump between two statements' latencies from run to run; the geometric
    mean weighs every statement's relative change alike."""
    per_stmt: dict[str, list[float]] = {}
    for s in passes:
        for name, kind, dt in s:
            if kind in kinds:
                per_stmt.setdefault(name, []).append(dt * 1000)
    return statistics.geometric_mean(_median(v) for v in per_stmt.values()) if per_stmt else None


def end_to_end(rec: dict) -> dict[str, float]:
    untraced = [s for traced, s in rec["warm"] if not traced]
    stmts = [dt * 1000 for s in untraced for _, _, dt in s]
    gmean = _gmean_ms(untraced, ("read", "meta", "write"))
    out = {
        "setup_s": _median([sum(s.values()) for s in rec["setups"]]),
        "cold_pass_s": sum(dt for _, _, dt in rec["cold"]),
        "pass_s": _median([sum(dt for _, _, dt in s) for s in untraced]),
        "stmt_gmean_ms": gmean,
        "stmt_p50_ms": _median(stmts),
        "stmt_p90_ms": statistics.quantiles(stmts, n=10)[8] if len(stmts) > 1 else _median(stmts),
        "peak_rss_mb": rec["peak_rss_mb"],
    }
    for kind in ("read", "meta", "write"):
        # a workload without statements of a kind reports stmt_gmean_ms for it
        out[f"{kind}_gmean_ms"] = _gmean_ms(untraced, (kind,)) or gmean
    return out


def per_layer(rec: dict, names: list[str]) -> dict[str, float]:
    out = {n: _median([p.get(n, 0.0) for p in rec["layers"]]) for n in names}
    for key in ("setup.session_s", "setup.engine_s", "setup.server_s"):
        out[key] = _median([s[key] for s in rec["setups"]])
    out["setup.cold_s"] = sum(rec["setups"][0].values())
    passes = {t: [sum(dt for _, _, dt in s) for traced, s in rec["warm"] if traced == t] for t in (True, False)}
    out["trace.overhead_ms"] = (_median(passes[True]) - _median(passes[False])) * 1000
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True, help="nominal length of the timed warm passes")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=sorted(SCALES), default="bench", help="smoke: sf0.001 for every workload")
    ap.add_argument("--out", help="write the full run record (per pass, per statement) to this JSON file")
    args = ap.parse_args(argv)
    t_start = time.perf_counter()

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    declared = spec["per_layer"] if args.trace else spec["end_to_end"]
    # Spark and the program write to fd 1 as well; stdout carries metric lines only.
    out = os.fdopen(os.dup(1), "w")
    os.dup2(2, 1)
    rec = measure(args)
    if args.out:
        rec["run_s"] = time.perf_counter() - t_start
        Path(args.out).write_text(json.dumps(rec))
    values = per_layer(rec, [m["name"] for m in declared]) if args.trace else end_to_end(rec)
    extras = {
        "failed_frac": (rec["failed"] / rec["attempted"], "ratio"),
        "warm_passes": (len(rec["warm"]), "count"),
        "stmt_samples": (sum(len(s) for t, s in rec["warm"] if not t), "count"),
    }
    if not args.trace:
        # printed but not bounded in BENCHMARK.json (README.md says why)
        for name in ("stmt_p50_ms", "stmt_p90_ms", "read_gmean_ms"):
            extras[name] = (values[name], "ms")
    for name, (value, unit) in extras.items():
        print(json.dumps({"metric": name, "value": value, "unit": unit}), file=out)
    result = {
        "correct": rec["failed"] == 0,
        "attempted": rec["attempted"],
        "failed": rec["failed"],
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in declared},
    }
    print(json.dumps(result), file=out)
    out.flush()
    return 0


if __name__ == "__main__":
    sys.exit(main())
