"""The workloads: inputs, the timed pass, and the output checks.

A workload's pass is the unit the benchmark times again and again:

- ``ingest_day``: one ``process_day`` into a fresh ``ParquetSink`` lake,
  inferred schema (reference parity);
- ``query_pack``: build (``QUERIES[name](spark, dir)``) and execute into
  the noop sink each query of the pack, in an order the seed shuffles
  anew for every pass.

Before the timed passes every workload runs ``warm_up_passes`` passes on
the same inputs (the warm-up), whose time is part of set-up: one for
``ingest_day``, whose second pass is within a fifth of its steady pass
time; three for ``query_pack``, whose passes keep getting faster until
about the fifth. Every pass, the warm-up too,
is checked: an ingest pass against the generator's expected result, a
read-back of the lake and its audit row (after the timed part); a query
pass by the row count and order-insensitive content hash of each query's
output, collected on the side as the noop write runs (``observed``), against
the goldens in ``goldens.json``. A failed check or an exception counts as a
failed operation.
"""

from __future__ import annotations

import json
import os
import random
import shutil
from dataclasses import dataclass, field

import gen_ingest
import gen_tables

HERE = os.path.dirname(os.path.abspath(__file__))
GOLDENS = os.path.join(HERE, "goldens.json")

# ingest_day: one day of FILES x ROWS (a quarter gzipped), plus decoy files
# of neighbouring days that pruning must skip.
DAY = "2025-02-03"
DAY_FILES, DAY_ROWS = 40, 3000
DAY_DECOYS, DAY_DECOY_FILES = ["2025-02-01", "2025-02-02", "2025-02-04"], 2
DUP_FRACTION = 0.03

# query_pack: execution-heavy queries first, then build-heavy ones; the
# tables each reads (for rows_per_s and bytes per input byte).
EXEC_HEAVY = ["q1_pricing_summary", "join_asof"]
BUILD_HEAVY = ["corpus_prep_funnel3", "dedup_jaccard_prefix_filter"]
QUERY_PACK = EXEC_HEAVY + BUILD_HEAVY
QUERY_TABLES = {
    "q1_pricing_summary": ["lineitem"],
    "join_asof": ["events"],
    "corpus_prep_funnel3": ["documents"],
    "dedup_jaccard_prefix_filter": ["documents"],
}


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


@dataclass
class Outcome:
    """What one pass or warm-up did, as the run loop needs it."""

    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    rows_loaded: int = 0
    stored_bytes: int = 0
    queries: dict[str, dict[str, float]] = field(default_factory=dict)

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(what)

    def fail(self, what: str, exc: BaseException) -> None:
        self.attempted += 1
        self.failed += 1
        self.errors.append(f"{what}: {type(exc).__name__}: {str(exc)[:300]}")


def _check_day(out: Outcome, res, exp: gen_ingest.DayExpected) -> None:
    got = (res.day, res.files_found, res.files_processed, res.total_rows, sorted(res.columns))
    want = (exp.day, exp.files, exp.files, exp.distinct_rows, exp.columns)
    out.check(got == want and res.column_count == len(exp.columns), f"DayResult {got} != {want}")


class IngestDay:
    name = "ingest_day"
    warm_up_passes = 1

    def __init__(self, work: str, seed: int):
        self.work = work
        self.src = os.path.join(work, "src")
        self.exp = gen_ingest.generate(
            self.src, seed, [DAY], DAY_FILES, DAY_ROWS, DUP_FRACTION, DAY_DECOYS, DAY_DECOY_FILES
        )
        self.input_rows = self.exp.rows_written
        self.input_bytes = self.exp.input_bytes
        self._n = 0

    def _lake(self) -> str:
        self._n += 1
        return os.path.join(self.work, f"lake{self._n}")

    def run_pass(self, spark, timed) -> Outcome:
        from etl_from_s3_to_postgresql_template_spark import pipeline
        from etl_from_s3_to_postgresql_template_spark.sinks.base import ParquetSink

        lake = self._lake()
        out = Outcome()
        try:
            with timed:
                res = pipeline.process_day(
                    spark, pipeline.PipelineConfig(source_dir=self.src), DAY, ParquetSink(lake)
                )
        except Exception as e:  # noqa: BLE001 — a failed operation is a result
            out.fail(f"process_day {DAY}", e)
            shutil.rmtree(lake, ignore_errors=True)
            return out
        _check_day(out, res, self.exp.days[DAY])
        self._check_lake(spark, out, lake, self.exp.days[DAY])
        out.rows_loaded = res.total_rows
        out.stored_bytes = dir_bytes(lake)
        shutil.rmtree(lake, ignore_errors=True)
        return out

    @staticmethod
    def _check_lake(spark, out: Outcome, lake: str, exp: gen_ingest.DayExpected) -> None:
        from pyspark.sql import functions as F

        data = spark.read.parquet(f"{lake}/merged")
        n = data.where(F.col("dt") == exp.day).count()
        cols = sorted(c for c in data.columns if c != "dt")
        out.check(n == exp.distinct_rows and cols == exp.columns, f"lake rows {n} cols {cols}")
        audit = spark.read.parquet(f"{lake}/data_processing_log").collect()
        ok = len(audit) == 1 and (
            audit[0]["total_row_count"],
            audit[0]["files_processed"],
            audit[0]["date_of_data"].date().isoformat(),
        ) == (exp.distinct_rows, exp.files, exp.day)
        out.check(ok, f"audit rows {[r.asDict() for r in audit]}")


def observed(df, obs):
    """``df`` with its row count and an order-insensitive content hash
    collected on the side into ``obs`` as it runs: the sum over rows of the
    low 32 bits of ``xxhash64`` of the row's columns (sorted by name), so
    row order does not matter and a duplicated or missing row does."""
    from pyspark.sql import functions as F

    cols = [F.col(f"`{c}`") for c in sorted(df.columns)]
    return df.observe(
        obs,
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.xxhash64(*cols).bitwiseAND(0xFFFFFFFF)).alias("xxsum"),
    )


def load_goldens() -> dict:
    with open(GOLDENS) as fh:
        return json.load(fh)["queries"]


class QueryPack:
    name = "query_pack"
    warm_up_passes = 3

    def __init__(self, work: str, seed: int):
        self.tables = os.path.join(work, "tables")
        rows = gen_tables.generate(self.tables)
        self.rng = random.Random(seed)
        read = sorted({t for q in QUERY_PACK for t in QUERY_TABLES[q]})
        self.input_rows = sum(rows[t] for t in read)
        self.input_bytes = sum(
            os.path.getsize(os.path.join(self.tables, f"{t}.parquet")) for t in read
        )
        self.goldens = load_goldens()

    def _order(self) -> list[str]:
        order = list(QUERY_PACK)
        self.rng.shuffle(order)
        return order

    def run_pass(self, spark, timed) -> Outcome:
        """Build and execute each query once. The row count and content
        hash of each noop write, observed on the side, must match the
        query's golden (the row count alone for a rows-only golden)."""
        from pyspark.sql import Observation

        from etl_from_s3_to_postgresql_template_spark.plans import QUERIES

        out = Outcome()
        for q in self._order():
            obs = Observation(f"out_{q}")
            try:
                with timed.lap(f"plans.{q}.build") as build:
                    df = QUERIES[q](spark, self.tables)
                df = observed(df, obs)
                with timed.lap(f"plans.{q}.exec") as run:
                    df.write.format("noop").mode("overwrite").save()
                got = obs.get
            except Exception as e:  # noqa: BLE001
                out.fail(f"query {q}", e)
                continue
            out.queries[q] = {"build_s": build.elapsed, "exec_s": run.elapsed}
            g = self.goldens[q]
            ok = got["rows"] == g["rows"] and (g["mode"] == "rows" or got["xxsum"] == g["xxsum"])
            out.check(ok, f"query {q}: wrote {got}, golden {g}")
        return out


WORKLOADS = {w.name: w for w in (IngestDay, QueryPack)}


def tail(values: list[float]) -> float:
    """The highest order statistic with at least ten samples beyond it;
    the maximum while there are ten samples or fewer."""
    xs = sorted(values)
    return xs[-11] if len(xs) > 10 else xs[-1]
