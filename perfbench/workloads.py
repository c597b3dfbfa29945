"""The benchmark's two workloads.

Both drive the engine only through its public entry points
(``IoTEngine`` and ``__spark_entry__.queries()``), with one client in a
closed loop: the next op starts when the previous one has returned.

- ``ingest``: repeated ``IoTEngine.ingest_stream`` replays of the staged
  events, each into a fresh warehouse, one day-file per micro-batch. An
  op is one micro-batch; its latency is the longer of the raw and agg
  queries' ``triggerExecution`` for that batch id. Every replay is
  checked against the DuckDB hourly-rollup oracle and the row counts.
- ``query``: passes over a fixed subset of the registered queries in a
  seed-shuffled order, each materialized to the ``noop`` sink. An op is
  one query execution. The first, untimed pass collects every result
  and checks it against the query's oracle SQL; it is also the warm-up.

Timed work runs in whole units (a replay, a pass) until ``seconds`` have
been spent, so every run of a workload times the same kind of work.
"""

from __future__ import annotations

import os
import random
import shutil
import statistics
import threading
import time
from dataclasses import dataclass, field

import __spark_entry__ as entry
from cassandra_iot_pipeline_spark.api import IoTEngine
from cassandra_iot_pipeline_spark.catalog import TABLES
from cassandra_iot_pipeline_spark.operators.agg import hourly_rollup_oracle

import oracle

#: registered queries timed by ``query``: a serving read and a join over
#: catalog scans, the JSON decode source, the registered streaming replay
#: with arrival-time dedup, and the near-dup family's MinHash-LSH and
#: embedding queries. The 50-query registry takes ~50 s warm per pass on
#: 4 cores, more than a run can spend.
QUERY_SUBSET = (
    "point_lookup",
    "revenue_by_nation",
    "decode_props",
    "streaming_raw_passthrough",
    "minhash_lsh_pairs",
    "embedding_near_dups",
)

#: untimed replays before timing starts (the first replays in a process
#: run 20-40% slower than later ones while the JVM compiles)
INGEST_WARMUP_REPLAYS = 2


@dataclass
class Run:
    """Per-run state shared by set-up, the workload and the trace."""

    spark: object
    work: str
    fixtures: str
    staged: str
    seed: int
    fault: bool = False
    phases: dict = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    problems: list = field(default_factory=list)

    def fail(self, what: str, problem: str) -> None:
        self.failed += 1
        self.problems.append(f"{what}: {problem}")


@dataclass
class Timed:
    """What one timed segment measured."""

    op_ms: list = field(default_factory=list)
    wall_s: float = 0.0
    units: list = field(default_factory=list)


def _begin(run: Run, op_id: str, kind: str, tracer):
    run.spark.addTag(f"op={op_id}")
    if tracer is None:
        return None
    tracer.enabled = True
    return tracer.begin_op(op_id, kind)


def _end(run: Run, op_id: str, op, tracer) -> None:
    if op is not None:
        tracer.end_op(op)
        tracer.enabled = False
    run.spark.removeTag(f"op={op_id}")


def _pairs(tracer, i: int) -> list:
    """Tracer settings for unit ``i``: untraced only, or with a tracer
    both an untraced and a traced copy, in alternating order so that
    warm-up drift does not bias the tracing overhead."""
    if tracer is None:
        return [None]
    return [None, tracer] if i % 2 == 0 else [tracer, None]


# -- ingest ---------------------------------------------------------------
class Ingest:
    name = "ingest"

    def __init__(self, run: Run) -> None:
        self.run = run
        self.replays = 0

    def prepare(self) -> None:
        t = time.perf_counter()
        con = oracle.connect(self.run.fixtures, ["events"])
        self.expected = con.execute(hourly_rollup_oracle()).fetchdf()
        self.n_events = con.execute("SELECT count(*) FROM events").fetchone()[0]
        con.close()
        self.run.phases["oracle"] = time.perf_counter() - t
        t = time.perf_counter()
        for _ in range(INGEST_WARMUP_REPLAYS):
            self._replay(timed=None)
        self.run.phases["warmup"] = time.perf_counter() - t

    def _replay(self, timed: Timed | None, tracer=None) -> None:
        run = self.run
        op_id = f"replay{self.replays}"
        warehouse = os.path.join(run.work, f"warehouse_{self.replays}")
        self.replays += 1
        engine = IoTEngine(run.spark, warehouse)
        run.attempted += 1
        op = _begin(run, op_id, "replay", tracer)
        t = time.perf_counter()
        try:
            result = engine.ingest_stream(run.staged, max_files_per_trigger=1)
        except Exception as exc:  # noqa: BLE001 - an op failure is a result
            result = None
            run.fail(op_id, repr(exc))
        finally:
            wall = time.perf_counter() - t
            _end(run, op_id, op, tracer)
        if timed is not None:
            timed.wall_s += wall
        if result is not None:
            self._land(engine, op_id, result, wall, timed, tracer)
        shutil.rmtree(warehouse, ignore_errors=True)

    def _land(self, engine, op_id: str, result: dict, wall: float, timed: Timed | None,
              tracer) -> None:
        run = self.run
        raw = {p["batch_id"]: p for p in result["progress"]["raw"]}
        agg = {p["batch_id"]: p for p in result["progress"]["agg"]}
        batch_ms = [
            max(raw.get(b, {}).get("trigger_ms") or 0, agg.get(b, {}).get("trigger_ms") or 0)
            for b in sorted(set(raw) | set(agg))
        ]
        if tracer is not None:
            tracer.enabled = True  # the check's reads are traced, outside the op
        problem = self._check(engine, corrupt=run.fault and timed is not None and not timed.units)
        if tracer is not None:
            tracer.enabled = False
        if problem:
            run.fail(op_id, problem)
        if timed is not None:
            timed.op_ms.extend(batch_ms)
            timed.units.append({
                "op": op_id, "wall_s": wall, "batch_ms": batch_ms, "progress": result["progress"],
                "storage": _listing(engine.warehouse_dir), "events": self.n_events,
            })

    def _check(self, engine, corrupt: bool) -> str | None:
        landed = engine.sensor_events().count()
        if landed != self.n_events:
            return f"sensor_events has {landed} rows, expected {self.n_events}"
        actual = engine.hourly().toPandas()
        if corrupt:
            actual = actual.iloc[1:]
        return oracle.mismatch(actual, self.expected)

    def timed(self, seconds: float, tracer=None) -> tuple[Timed, Timed]:
        plain, traced = Timed(), Timed()
        i = 0
        while plain.wall_s < seconds:
            for tr in _pairs(tracer, i):
                self._replay(traced if tr else plain, tr)
            i += 1
        return plain, traced


def _listing(warehouse: str) -> dict:
    out = {}
    for table in ("sensor_events", "hourly_aggregates"):
        files = [
            os.path.join(d, f)
            for d, _, fs in os.walk(os.path.join(warehouse, table))
            for f in fs
            if f.endswith(".parquet")
        ]
        out[table] = {"files": len(files), "bytes": sum(os.path.getsize(f) for f in files)}
    return out


# -- query ----------------------------------------------------------------
class Query:
    name = "query"

    def __init__(self, run: Run) -> None:
        self.run = run
        self.rng = random.Random(run.seed)
        registry = entry.queries()
        self.queries = {name: registry[name] for name in QUERY_SUBSET}
        self.oracle_sql = {name: entry.oracle_sql()[name] for name in QUERY_SUBSET}
        self.executions = 0
        self.expected: dict = {}

    def _order(self) -> list[str]:
        names = list(self.queries)
        self.rng.shuffle(names)
        return names

    def _expected(self) -> None:
        t = time.perf_counter()
        con = oracle.connect(self.run.fixtures, TABLES)
        try:
            for name, sql in self.oracle_sql.items():
                self.expected[name] = con.execute(sql).fetchdf()
        finally:
            con.close()
            self.run.phases["oracle"] = time.perf_counter() - t

    def prepare(self) -> None:
        """Warm-up pass: collect each result and check it. The oracles run
        on one DuckDB thread next to it; the pass waits for them only to
        compare."""
        run = self.run
        worker = threading.Thread(target=self._expected, name="oracle")
        worker.start()
        t = time.perf_counter()
        results = {}
        corrupt = run.fault
        for name in self._order():
            run.attempted += 1
            try:
                pdf = self.queries[name](run.spark, run.fixtures).toPandas()
            except Exception as exc:  # noqa: BLE001 - an op failure is a result
                run.fail(name, repr(exc))
                continue
            if corrupt and len(pdf):
                pdf, corrupt = pdf.iloc[1:], False  # the first non-empty result loses a row
            results[name] = pdf
        worker.join()
        for name, pdf in results.items():
            if name not in self.expected:
                run.fail(name, "no oracle result (the oracle thread raised)")
                continue
            problem = oracle.mismatch(pdf, self.expected[name])
            if problem:
                run.fail(name, problem)
        run.phases["warmup"] = time.perf_counter() - t

    def timed(self, seconds: float, tracer=None) -> tuple[Timed, Timed]:
        plain, traced = Timed(), Timed()
        while plain.wall_s < seconds:
            for i, name in enumerate(self._order()):
                for tr in _pairs(tracer, i):
                    self._execute(name, traced if tr else plain, tr)
        return plain, traced

    def _execute(self, name: str, out: Timed, tracer) -> None:
        run = self.run
        op_id = f"q{self.executions}.{name}"
        self.executions += 1
        run.attempted += 1
        op = _begin(run, op_id, name, tracer)
        t = time.perf_counter()
        try:
            (self.queries[name](run.spark, run.fixtures)
             .write.format("noop").mode("overwrite").save())
        except Exception as exc:  # noqa: BLE001 - an op failure is a result
            run.fail(op_id, repr(exc))
        finally:
            ms = (time.perf_counter() - t) * 1000.0
            _end(run, op_id, op, tracer)
        out.op_ms.append(ms)
        out.wall_s += ms / 1000.0
        out.units.append({"op": op_id, "query": name, "wall_s": ms / 1000.0})


WORKLOADS = {"ingest": Ingest, "query": Query}


def end_to_end(timed: Timed, setup_s: float) -> dict:
    """The end-to-end metrics of one untraced timed segment."""
    return {
        "setup_s": {"value": setup_s, "unit": "s"},
        "op_p50_ms": {"value": statistics.median(timed.op_ms), "unit": "ms"},
        "ops_per_s": {"value": len(timed.op_ms) / timed.wall_s, "unit": "1/s"},
    }
