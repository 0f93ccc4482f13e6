"""The benchmark's workloads.

A workload generates its inputs, builds its distinct ops, and checks every
op's full result once (outside the timed region) before the timed passes.
An op has a construction phase (``build``) and an execution phase
(``action``, which returns a row count) and checks its own result.
"""

from __future__ import annotations

import inspect
import math
import os
import re
import time
from collections import defaultdict
from collections.abc import Callable
from dataclasses import dataclass, field
from typing import Any

import duckdb

import bench
import gen
from measure import SINK_JOB
from data_engineering_zoomcamp_my_test_spark.operators import all_oracle_sql, all_queries
from data_engineering_zoomcamp_my_test_spark.operators.transforms import with_literal_column
from data_engineering_zoomcamp_my_test_spark.pipeline import Pipeline, input_hash
from data_engineering_zoomcamp_my_test_spark.plans.sql import run_sql
from data_engineering_zoomcamp_my_test_spark.sinks.writers import save_table, write_parquet
from data_engineering_zoomcamp_my_test_spark.sources.readers import fetch_to_local, read_source
from data_engineering_zoomcamp_my_test_spark.sources.tables import TABLE_NAMES, load_table
from data_engineering_zoomcamp_my_test_spark.streaming.windows import dir_bytes
from tests.oracle import _duckdb_con, compare, compare_digest

# Results up to this many rows are checked row by row; larger ones by digest.
_ROW_COMPARE_LIMIT = 20_000


@dataclass
class Op:
    name: str
    build: Callable[[], Any]
    action: Callable[[Any], int]
    check: Callable[[Any, int], str | None]  # (build result, rows) -> error
    input_rows: int


@dataclass
class Workload:
    name: str
    sf: float
    nominal_pass_s: float  # passes per run: max(min_passes, round(seconds / nominal_pass_s))
    min_passes: int = 1
    ops: list[Op] = field(default_factory=list)
    check_failures: list[str] = field(default_factory=list)
    # Per-op layer timings the workload takes around its own calls.
    layer: dict[str, float] = field(default_factory=lambda: defaultdict(float))


def tables_read(name: str) -> list[str]:
    """Tables a decl reads: named in its oracle SQL, else in its source."""
    text = all_oracle_sql().get(name) or inspect.getsource(all_queries()[name])
    return [t for t in TABLE_NAMES if re.search(rf"\b{t}\b", text)]


class DeclWorkload(Workload):
    """Declared catalog queries, one op per decl: build, then ``count()``."""

    def __init__(self, name: str, decls: list[str], sf: float, nominal_pass_s: float):
        super().__init__(name, sf, nominal_pass_s)
        self.decls = decls
        self.tables = sorted({t for d in decls for t in tables_read(d)})

    def inputs(self, work: str, seed: int) -> None:
        self.data = os.path.join(work, "data")
        self.rows = gen.write_tables(self.data, seed, self.sf)

    def load_tables(self, spark) -> float:
        """One direct ``load_table`` of every table this workload reads."""
        t0 = time.perf_counter()
        for t in self.tables:
            load_table(spark, self.data, t)
        return time.perf_counter() - t0

    def setup(self, spark) -> None:
        queries, oracle = all_queries(), all_oracle_sql()
        con = _duckdb_con(self.data)
        for name in self.decls:
            fn = queries[name]
            sql = oracle.get(name)
            expected = None
            if sql is not None:
                expected = con.sql(f"SELECT count(*) FROM ({sql}) _n").fetchone()[0]
            try:
                df = fn(spark, self.data)
                if sql is None:
                    expected = df.count()
                else:
                    check = compare if expected <= _ROW_COMPARE_LIMIT else compare_digest
                    res = check(name, df, sql, self.data)
                    if not res.ok:
                        self.check_failures.append(f"{name}: {res.mismatches[:2]}")
            except Exception as exc:  # noqa: BLE001 - recorded, never retried
                self.check_failures.append(f"{name}: {exc!r}"[:300])
            self.ops.append(self._op(spark, name, fn, expected))
        con.close()

    def _op(self, spark, name: str, fn, expected: int | None) -> Op:
        def check(_df, rows: int) -> str | None:
            return None if rows == expected else f"{name}: {rows} rows, expected {expected}"

        return Op(
            name=name,
            build=lambda: fn(spark, self.data),
            action=lambda df: df.count(),
            check=check,
            input_rows=sum(self.rows[t] for t in tables_read(name)),
        )


_INGEST_SQL = (
    "SELECT payment_type, count(*) AS n, sum(total_amount) AS total, "
    "min(batch) AS bmin, max(batch) AS bmax FROM trips_landed GROUP BY payment_type"
)


class IngestEtl(Workload):
    """The reference's ingest job through ``pipeline.Pipeline``: fetch
    (cached), read a gzip CSV, tag, land as gzip parquet plus a managed
    table, then load the landed table and aggregate it through SQL."""

    def __init__(self, rows: int, nominal_pass_s: float):
        super().__init__("ingest_etl", 0.0, nominal_pass_s)
        self.n_rows = rows

    def inputs(self, work: str, seed: int) -> None:
        self.work = work
        self.csv = os.path.join(work, "trips.csv.gz")
        gen.write_trips_csv(self.csv, seed, self.n_rows)
        self.csv_bytes = os.path.getsize(self.csv)
        con = duckdb.connect()
        self.expected = con.sql(
            "SELECT payment_type, count(*), sum(total_amount) FROM "
            f"read_csv('{self.csv}', header=true) GROUP BY 1 ORDER BY 1"
        ).fetchall()
        con.close()
        self.tag = 0

    def load_tables(self, spark) -> float:
        return 0.0  # ingest_etl times load_table inside its query stage

    def _timed(self, key: str, fn: Callable[[], Any]) -> Any:
        t0 = time.perf_counter()
        try:
            return fn()
        finally:
            self.layer[key] += time.perf_counter() - t0

    def _pipeline(self, spark) -> Pipeline:
        pipe = Pipeline("ingest_etl")
        landed = os.path.join(self.work, "trips.parquet")

        def stage(name: str, **kw):
            def deco(fn):
                def timed(ctx):
                    self.layer[f"attempts.{name}"] += 1
                    return self._timed(f"pipeline.stage_s.{name}", lambda: fn(ctx))

                pipe.stage(name, **kw)(timed)
                return fn

            return deco

        @stage("fetch", cache=True, cache_key_fn=lambda c: input_hash("fetch", c["url"]))
        def _fetch(ctx):
            return {"local": fetch_to_local(ctx["url"])}

        @stage("read")
        def _read(ctx):
            return {"df": self._timed("sources.read_source_s", lambda: read_source(spark, ctx["local"]))}

        @stage("transform")
        def _transform(ctx):
            return {"df": with_literal_column(ctx["df"], "batch", ctx["tag"])}

        @stage("land")
        def _land(ctx):
            spark.sparkContext.setJobDescription(SINK_JOB)
            try:
                self._timed("sinks.write_s", lambda: write_parquet(ctx["df"], landed))
                self._timed("sinks.write_s", lambda: save_table(ctx["df"], "trips", if_exists="replace"))
            finally:
                spark.sparkContext.setJobDescription(None)
            warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
            self.layer["sinks.bytes_written"] += dir_bytes(landed) + dir_bytes(
                os.path.join(warehouse, "trips")
            )

        @stage("query")
        def _query(ctx):
            df = self._timed("sources.load_table_s", lambda: load_table(spark, self.work, "trips"))
            df.createOrReplaceTempView("trips_landed")
            rows = self._timed("plans.sql_s", lambda: run_sql(spark, _INGEST_SQL).collect())
            return {"rows": sorted(tuple(r) for r in rows)}

        return pipe

    def setup(self, spark) -> None:
        pipe = self._pipeline(spark)

        def build():
            self.tag += 1
            self.layer["pipeline.runs"] += 1
            return pipe.run({"url": self.csv, "tag": f"t{self.tag}"})

        def check(ctx, _rows: int) -> str | None:
            tag, rows = ctx["tag"], ctx["rows"]
            if any(r[3] != tag or r[4] != tag for r in rows):
                return f"ingest_etl: landed rows from another batch than {tag}"
            got = [r[:3] for r in rows]
            if len(got) != len(self.expected) or any(
                g[:2] != e[:2] or not math.isclose(g[2], e[2], rel_tol=1e-9)
                for g, e in zip(got, self.expected)
            ):
                return f"ingest_etl: aggregate {got[:2]} != expected {self.expected[:2]}"
            return None

        op = Op(
            name="ingest_etl",
            build=build,
            action=lambda ctx: len(ctx["rows"]),
            check=check,
            input_rows=self.n_rows,
        )
        try:
            ctx = op.build()
            err = op.check(ctx, op.action(ctx))
            if err:
                self.check_failures.append(err)
        except Exception as exc:  # noqa: BLE001 - recorded, never retried
            self.check_failures.append(f"ingest_etl: {exc!r}"[:300])
        self.ops.append(op)


# Each run pays for a JVM start and a cold check pass of every op, so the op
# lists are cut to fit the benchmark's run budget: c43_keep_best_per_cluster
# repeats c36's clustering, c28_simhash_pairs has no oracle, and of the
# replays only the dedup one stays; c66_streaming_tumbling,
# c88_streaming_ledger (the slowest) and c89_streaming_upsert are left out.
CURATION = [
    "c17_jaccard_pairs",
    "c18_embed_neardup",
    "c36_dedup_clusters",
    "c46_decontaminate",
]
STREAM_REPLAY = ["c87_streaming_dedup"]


class Combined(Workload):
    """Several workloads' ops in one pass, sharing one layer accumulator."""

    def __init__(self, name: str, parts: list[Workload], nominal_pass_s: float):
        super().__init__(name, max(p.sf for p in parts), nominal_pass_s)
        self.parts = parts
        for p in parts:
            p.layer = self.layer

    def inputs(self, work: str, seed: int) -> None:
        for p in self.parts:
            p.inputs(work, seed)
        self.csv_bytes = sum(getattr(p, "csv_bytes", 0) for p in self.parts)

    def load_tables(self, spark) -> float:
        return sum(p.load_tables(spark) for p in self.parts)

    def setup(self, spark) -> None:
        for p in self.parts:
            p.setup(spark)
            self.ops += p.ops
            self.check_failures += p.check_failures


def make(name: str, small: bool = False) -> Workload:
    """Build a workload by name; ``small`` shrinks every input for smoke runs."""
    sf = 0.001 if small else 0.02
    # Each op is timed at least three times: one op's latency varies by up
    # to 40% between executions even on a quiet box, and the JIT keeps
    # speeding up the first passes after the check pass.
    if name == "headline":
        wl = DeclWorkload(name, bench.BENCH_QUERIES, sf, 8.0)
        wl.min_passes = 3
        return wl
    if name == "pipelines":
        wl = Combined(name, [
            DeclWorkload("decls", CURATION + STREAM_REPLAY, sf, 0.0),
            IngestEtl(2_000 if small else 30_000, 0.0),
        ], 10.5)
        wl.min_passes = 3
        return wl
    raise KeyError(name)


WORKLOADS = ("headline", "pipelines")
