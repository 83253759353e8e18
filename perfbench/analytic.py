"""analytic_programs: the reference-vocabulary catalog programs over a
seeded TPC-H-shaped star schema plus ``events``, each written to Spark's
noop sink. Read-only: no ingest, no persisted output. The correctness
check compares each program's output with its catalog DuckDB oracle.
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor

import duckdb
import pyarrow.parquet as pq

from oracle import compare
from probes import materialize

#: program -> the tables it scans, with multiplicity (rows consumed)
PROGRAMS = {
    "flagship_earliest_event": ["orders", "orders"],
    "tpch_q3_shaped": ["customer", "orders", "lineitem"],
    "a1_groupby_summarise": ["lineitem"],
    "w2_sort_slice_topn": ["lineitem"],
    "j1_left_join_two_keys": ["lineitem", "lineitem"],
    "j3_spine_study": ["customer", "orders", "orders"],
    "e2_sessionize_gap30m": ["events"],
    "c8_decision_column": ["lineitem"],
}


class AnalyticPrograms:
    """One step = one program; one round = every program once."""

    MIN_ROUNDS = 1  # the cold round, as a CLI invocation pays it

    def __init__(self, ctx, inputs: str, work: str, manifest: dict):
        from configurable_etl_python_repo_spark.catalog import (
            ORACLES, QUERIES,
        )

        self.ctx, self.inputs = ctx, inputs
        self.queries = {n: QUERIES[n] for n in PROGRAMS}
        self.oracles = {n: ORACLES[n] for n in PROGRAMS}
        self.tables = manifest["tables"]
        path = {t: os.path.join(inputs, f"{t}.parquet") for t in self.tables}
        self.rows = {n: sum(pq.ParquetFile(path[t]).metadata.num_rows
                            for t in ts) for n, ts in PROGRAMS.items()}
        self.bytes = {n: sum(os.path.getsize(path[t]) for t in ts)
                      for n, ts in PROGRAMS.items()}
        self.input_bytes = 0

    def storage_dirs(self) -> list[str]:
        return []

    def space(self) -> tuple[int, int]:
        """Nothing is persisted: live bytes are the input tables alone."""
        size = sum(os.path.getsize(os.path.join(self.inputs, f"{t}.parquet"))
                   for t in self.tables)
        return size, size

    def run_round(self, rnd: int) -> None:
        for name in PROGRAMS:
            self.ctx.run_step(name, lambda name=name: self._program(name))

    def _program(self, name: str) -> int:
        ctx, tr = self.ctx, self.ctx.tracer
        with tr.span("plans.build"):
            df = self.queries[name](ctx.spark, self.inputs)
        with tr.span("operators.run"):
            df.write.format("noop").mode("overwrite").save()
        if tr.enabled:
            with ctx.isolated(f"plans.program.{name}"):
                _, counts = materialize(df)
            ctx.record_plan(counts)
        self.input_bytes += self.bytes[name]
        return self.rows[name]

    def check(self) -> list[str]:
        """Each program's output vs its catalog oracle. The programs are
        small jobs that leave cores idle, so they run four at a time."""
        con = duckdb.connect()
        try:
            for t in self.tables:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet("
                            f"'{os.path.join(self.inputs, t)}.parquet')")

            def one(name: str) -> list[str]:
                got = self.queries[name](self.ctx.spark, self.inputs).toPandas()
                want = con.cursor().execute(self.oracles[name]).fetchdf()
                return compare(name, got, want)

            with ThreadPoolExecutor(max_workers=4) as pool:
                return [p for ps in pool.map(one, PROGRAMS) for p in ps]
        finally:
            con.close()
