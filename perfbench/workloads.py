"""The three benchmark workloads and their correctness checks.

Each workload drives the engine only through its public entry points:
``SyncPipeline.sync`` over ``io.load`` (as ``cli.py sync`` does) and the
builders ``registry.queries()`` returns. One client thread runs a closed
loop: each operation starts when the previous one has returned.

Checks run outside the timed window. A failed check marks operations as
failed; nothing is retried or hidden.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from pathlib import Path

import gen

# The corpus and the warm-up slice have sf0.01's size (FIXTURES.md). The
# hit log is a chosen size at the fixtures' 66 hits a user: the smallest
# tried at which spark.busy_share clearly exceeds ga_sync's (README.md).
HIT_REPORT_EVENTS = 250_000
HIT_REPORT_USERS = 3_750
CORPUS_DOCS = 500
WARM_EVENTS = 10_000
WARM_USERS = 150
WARM_DOCS = 100
CHECK_THREADS = 4  # DuckDB plus the untimed check runs, after the window


@dataclass
class Op:
    """One timed operation."""

    key: str
    latency_s: float
    rows: int  # input rows the operation consumed (rows_per_s numerator)
    result: object  # what the call returned: result rows, or hits appended
    ok: bool = True
    traced: bool = False
    spark: dict | None = None  # status-store delta, traced operations only


@dataclass
class Outcome:
    ops: list[Op] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    extra: dict[str, float] = field(default_factory=dict)  # workload-only metrics

    def fail(self, n: int, why: str) -> None:
        self.failed += n
        self.problems.append(why)


# ---------------------------------------------------------------------------
# result digests
# ---------------------------------------------------------------------------


def digest(df) -> tuple[int, int]:
    """Identify a result up to row order: its row count and the sum of a
    64-bit hash of every row. Cells are put in the form
    tools/verify_driver.py compares: columns in name order, numbers as
    doubles (so 1 == 1.0 and -0.0 == 0.0), times as their text."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    cells = []
    for f in sorted(df.schema.fields, key=lambda f: f.name):
        c = F.col(f"`{f.name}`")
        if isinstance(f.dataType, T.NumericType):
            c = c.cast("double")
            c = F.when(c == 0, F.lit(0.0)).otherwise(c)
        elif isinstance(f.dataType, (T.TimestampType, T.TimestampNTZType, T.DateType)):
            c = c.cast("string")
        cells.append(c)
    names = "|".join(sorted(df.columns))
    row = df.agg(
        F.count(F.lit(1)).alias("rows"),
        F.coalesce(F.sum(F.xxhash64(F.lit(names), *cells).cast("decimal(38,0)")),
                   F.lit(0).cast("decimal(38,0)")).alias("hash"),
    ).first()
    return int(row["rows"]), int(row["hash"])


def write_oracles(files: dict[str, Path], sqls: dict[str, str], out: Path) -> dict[str, Path]:
    """Evaluate each oracle query with DuckDB over the generated files and
    write its result as parquet; returns the result file of each key."""
    import duckdb

    out.mkdir(parents=True, exist_ok=True)
    con = duckdb.connect()
    try:
        for table, path in files.items():
            con.execute(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{path}')")
        for key, sql in sqls.items():
            con.execute(f"COPY ({sql}) TO '{out / key}.parquet' (FORMAT PARQUET)")
    finally:
        con.close()
    return {key: out / f"{key}.parquet" for key in sqls}


def tally_query_checks(outcome: Outcome, want: dict[str, tuple[int, int]],
                       got: dict[str, tuple[int, int] | str]) -> None:
    """Fail every timed sample whose row count differs from the oracle's,
    and every sample of a key whose untimed check run (``got``: its
    digest, or the error it raised) differs from the oracle's digest."""
    for key, expected in want.items():
        samples = [op for op in outcome.ops if op.key == key and op.ok]
        if got[key] != expected:
            bad = samples
            outcome.fail(len(bad), f"{key}: check run (rows, hash) {got[key]} differs from "
                         f"the oracle's {expected}; {len(bad)} samples count as failed")
        else:
            bad = [op for op in samples if op.result != expected[0]]
            if bad:
                counts = sorted({op.result for op in bad})[:3]
                outcome.fail(len(bad), f"{key}: {len(bad)} samples returned {counts} rows, "
                             f"the oracle {expected[0]}")
        for op in bad:
            op.ok = False


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------


class QueryWorkload:
    """Registry operators over one generated dataset, cycled in a fixed
    order, each result forced through the ``noop`` sink."""

    keys: tuple[str, ...] = ()
    tables: tuple[str, ...] = ()
    input_rows = 0  # rows of the measured input each operation reads

    def __init__(self, workdir: Path, seed: int) -> None:
        self.data = workdir / "data"
        self.warm = workdir / "warm"
        self.seed = seed

    def generate(self) -> None:
        raise NotImplementedError

    def op_rows(self, result) -> int:
        return self.input_rows

    def files(self, root: Path) -> dict[str, Path]:
        return {t: root / f"{t}.parquet" for t in self.tables}

    def bind(self, spark, engine, tracer) -> None:
        self.spark, self.engine, self.tracer = spark, engine, tracer
        self.q = engine.registry.queries()

    def warmup(self) -> None:
        for key in self.keys:
            self._run(key, self.warm)

    def _run(self, key: str, where: Path) -> int:
        """Build the key's result and force it through the ``noop`` sink;
        returns its row count, observed in the same job."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        t = self.tracer
        df = t.call("ops.build", self.q[key], self.spark, str(where))
        obs = Observation(f"rows_{key}")
        writer = df.observe(obs, F.count(F.lit(1)).alias("rows")).write.format("noop")
        t.call("ops.exec", writer.mode("overwrite").save)
        return int(obs.get["rows"])

    def _check_run(self, key: str) -> tuple[int, int] | str:
        try:
            return digest(self.q[key](self.spark, str(self.data)))
        except Exception as e:
            return f"raised {type(e).__name__}: {str(e)[:300]}"

    def cycle(self, first_op: int) -> list[tuple[str, callable]]:
        return [(key, lambda key=key: self._run(key, self.data)) for key in self.keys]

    def check(self, outcome: Outcome) -> None:
        """After the window: one untimed digest run of each key against
        the DuckDB oracle, and every sample's row count. Nothing is timed
        here, so DuckDB and the check runs share the cores in parallel
        threads (the builders keep no shared session state)."""
        from concurrent.futures import ThreadPoolExecutor

        sqls = {k: self.engine.registry.oracle_sql()[k] for k in self.keys}
        with ThreadPoolExecutor(CHECK_THREADS) as pool:
            oracles = pool.submit(write_oracles, self.files(self.data), sqls,
                                  self.data.parent / "oracle")
            got = dict(zip(self.keys, pool.map(self._check_run, self.keys)))
            paths = oracles.result()
            want = dict(zip(paths, pool.map(
                lambda p: digest(self.spark.read.parquet(str(p))), paths.values())))
        tally_query_checks(outcome, want, got)


class HitReports(QueryWorkload):
    keys = ("q_sessionize", "q_flagship", "q_funnel", "q_retention",
            "q_attribution", "q_anomaly_zscore")
    tables = ("events",)

    def generate(self) -> None:
        gen.write_hit_log(self.data, self.seed, HIT_REPORT_EVENTS, HIT_REPORT_USERS)
        gen.write_hit_log(self.warm, self.seed, WARM_EVENTS, WARM_USERS)

    input_rows = HIT_REPORT_EVENTS  # events scanned per operation


class CorpusCuration(QueryWorkload):
    keys = ("x_curation_e2e", "x_dedup_near", "x_semdedup", "x_tokenize", "x_pii_scrub")
    tables = ("documents", "embeddings")

    def generate(self) -> None:
        gen.write_corpus(self.data, self.seed, CORPUS_DOCS)
        gen.write_corpus(self.warm, self.seed, WARM_DOCS)

    input_rows = CORPUS_DOCS  # documents per operation


def _files(path: Path) -> dict[str, int]:
    out = {}
    for d, _, names in os.walk(path):
        for n in names:
            p = os.path.join(d, n)
            out[p] = os.path.getsize(p)
    return out


class GaSync:
    """The reference's cron sync: one ``SyncPipeline.sync`` per tick
    extract into a bucketed parquet target that keeps growing."""

    keys = ("sync",)

    def __init__(self, workdir: Path, seed: int) -> None:
        self.stream = gen.SyncStream(workdir / "ticks", seed)
        self.target = str(workdir / "target")
        self.op_of_tick: dict[int, int] = {}
        self.appended: dict[int, int] = {}
        self.new_files: list[int] = []
        self.buckets_touched: list[int] = []
        self.extracted = 0

    def generate(self) -> None:
        for _ in range(gen.WARM_TICKS):
            self.stream.write_next()

    def bind(self, spark, engine, tracer) -> None:
        self.spark, self.engine, self.tracer = spark, engine, tracer

    def _sync(self, tick: int) -> int:
        e, t = self.engine, self.tracer
        source = t.call("ops.build", e.io.load, self.spark, str(self.stream.dirs[tick]), "events")
        pipe = e.etl.SyncPipeline(self.spark, e.etl.EXAMPLE_CONFIG, self.target)
        return t.call("ops.exec", pipe.sync, source)

    def warmup(self) -> None:
        for tick in range(gen.WARM_TICKS):
            self.appended[tick] = self._sync(tick)

    def _tick(self, tick: int) -> int:
        before = _files(self.target)
        n = self._sync(tick)
        after = _files(self.target)
        self.appended[tick] = n
        self.extracted += self.stream.rows[tick]
        gained = [p for p in after if p not in before and p.endswith(".parquet")]
        self.new_files.append(len(gained))
        self.buckets_touched.append(len({os.path.dirname(p) for p in gained}))
        return n

    def cycle(self, first_op: int) -> list[tuple[str, callable]]:
        tick = self.stream.write_next()  # outside the operation's timing
        self.op_of_tick[tick] = first_op
        return [("sync", lambda: self._tick(tick))]

    def op_rows(self, result: int) -> int:
        return result  # hits appended

    def check(self, outcome: Outcome) -> None:
        import pyarrow.parquet as pq

        last = len(self.stream.dirs) - 1
        for tick, n in self.appended.items():
            want = len(self.stream.expected[tick])
            if n != want:
                op = self.op_of_tick.get(tick)
                outcome.fail(0 if op is None else 1, f"tick {tick}: appended {n}, expected {want}")
                if op is not None:
                    outcome.ops[op].ok = False
        # a repeated extract must append nothing
        outcome.attempted += 1
        try:
            again = self._sync(last)
        except Exception as e:
            again = f"{type(e).__name__}: {e}"
        if again != 0:
            outcome.fail(1, f"repeated tick {last} appended {again}, expected 0")
        keys = pq.read_table(self.target, columns=["hit_id"]).column("hit_id").to_pylist()
        want = frozenset().union(*self.stream.expected[: last + 1])
        if len(keys) != len(set(keys)):
            outcome.fail(outcome.attempted - outcome.failed,
                         f"target holds {len(keys) - len(set(keys))} duplicate keys")
        elif set(keys) != want:
            outcome.fail(outcome.attempted - outcome.failed,
                         f"target key set differs: {len(set(keys) - want)} unexpected, "
                         f"{len(want - set(keys))} missing")
        outcome.extra["stored_bytes_per_row"] = sum(_files(self.target).values()) / max(len(keys), 1)
        outcome.extra["stored_files_per_sync"] = sum(self.new_files) / max(len(self.new_files), 1)
        outcome.extra["buckets_touched_per_sync"] = (
            sum(self.buckets_touched) / max(len(self.buckets_touched), 1))
        outcome.extra["fresh_ratio"] = (
            sum(n for t, n in self.appended.items() if t in self.op_of_tick) / max(self.extracted, 1))
