"""The benchmark's workloads.

Each is a closed loop driven by one client thread.  A workload makes
its inputs from the seed (``generate``, not timed), loads them
(``load``, repeatable, part of set-up), runs discarded warm-up ops and
then whole passes of timed ops.  Every op goes through ``do(kind, fn,
check, items)``: ``fn`` holds only calls into the program and is timed;
``check`` verifies its result afterwards, untimed, and returns a list
of problems (empty when correct); ``items`` is the input rows the op
processed.

Calls into public ``term_spark`` functions are wrapped in
``tracer.span(name, layer)``; with the untraced ``NullTracer`` that is
a no-op.
"""

from __future__ import annotations

import math
import os
import shutil
from typing import Callable, Dict, List

import gen

Do = Callable[..., object]


def _statuses(result) -> List[str]:
    return [o.result.status.value for o in result.report.outcomes]


def _errors(result) -> List[str]:
    return [f"{o.check}/{o.result.name}: {o.result.message}"
            for o in result.report.outcomes if o.result.status.value == "error"]


def dir_bytes(path: str):
    """(files, bytes) under path."""
    files = size = 0
    for root, _, names in os.walk(path):
        for name in names:
            files += 1
            size += os.path.getsize(os.path.join(root, name))
    return files, size


class Workload:
    #: op kind whose latency is ``op_s``
    op_kind = ""
    warm_passes = 1

    def __init__(self, spark, tracer, run_dir: str, seed: int):
        self.spark, self.tracer = spark, tracer
        self.run_dir, self.seed = run_dir, seed
        self.data_dir = os.path.join(run_dir, "data")
        self.layer_counts: Dict[str, float] = {}

    def span(self, name: str, layer: str):
        return self.tracer.span(name, layer)

    def generate(self) -> None:
        raise NotImplementedError

    def load(self) -> int:
        """Read, cache and count the inputs; returns input rows."""
        raise NotImplementedError

    def unload(self) -> None:
        self.spark.catalog.clearCache()

    def warm_up(self, do: Do) -> None:
        for _ in range(self.warm_passes):
            self.run_pass(do)

    def run_pass(self, do: Do) -> None:
        raise NotImplementedError

    def traced_extras(self, do: Do) -> None:
        """Calls made only in a traced run, to split an op further."""


# ---------------------------------------------------------------------------
# validate
# ---------------------------------------------------------------------------

def lineitem_20(check):
    """The 20-constraint lineitem check, each constraint paired with the
    defect kind that breaks it (None: no injected defect can)."""
    from term_spark import Assertion
    spec = [
        (lambda c: c.has_size(Assertion.gt(0)), None),
        (lambda c: c.is_complete("l_orderkey"), None),
        (lambda c: c.is_complete("l_partkey"), "null_partkey"),
        (lambda c: c.is_complete("l_suppkey"), "null_suppkey"),
        (lambda c: c.is_complete("l_quantity"), None),
        (lambda c: c.has_min("l_quantity", Assertion.ge(1)), "quantity_low"),
        (lambda c: c.has_max("l_quantity", Assertion.le(50)), "quantity_high"),
        (lambda c: c.has_mean("l_quantity", Assertion.between(20, 30)), None),
        (lambda c: c.has_sum("l_extendedprice", Assertion.gt(0)), None),
        (lambda c: c.has_standard_deviation("l_quantity", Assertion.gt(0)), None),
        (lambda c: c.has_variance("l_quantity", Assertion.gt(0)), None),
        (lambda c: c.value_range("l_discount", 0.0, 0.1), "discount_range"),
        (lambda c: c.is_contained_in("l_returnflag", ["R", "A", "N"]),
         "bad_returnflag"),
        (lambda c: c.is_contained_in("l_linestatus", ["O", "F"]), None),
        (lambda c: c.satisfies("l_extendedprice >= 0", 1.0), None),
        (lambda c: c.satisfies("l_tax >= 0", 1.0), "negative_tax"),
        (lambda c: c.uniqueness(["l_orderkey", "l_linenumber"], 0.5), None),
        (lambda c: c.has_approx_count_distinct("l_orderkey",
                                               Assertion.gt(100)), None),
        (lambda c: c.has_approx_quantile("l_quantity", 0.5,
                                         Assertion.between(20, 30)), None),
        (lambda c: c.has_correlation("l_quantity", "l_extendedprice",
                                     Assertion.between(-1, 1)), None),
    ]
    defects = []
    for add, defect in spec:
        check = add(check)
        defects.append(defect)
    return check, defects


def multi_table(check):
    from term_spark import Assertion
    check = (check
             .foreign_key("lineitem", "l_orderkey", "orders", "o_orderkey")
             .foreign_key("orders", "o_custkey", "customer", "c_custkey")
             .join_coverage("lineitem", "l_orderkey", "orders", "o_orderkey",
                            Assertion.eq(1.0))
             .cross_table_sum("orders", "o_totalprice", "lineitem",
                              "l_extendedprice", tolerance=0.01))
    return check, ["orphan_lineitem", "orphan_orders", "orphan_lineitem",
                   "price_mismatch"]


class Validate(Workload):
    op_kind = "suite"
    warm_passes = 12

    def generate(self):
        tables, self.defects = gen.tpch_tables(self.seed)
        self.paths = gen.write_tables(tables, self.data_dir)
        self.oracle = self._duckdb_oracle()

    def _duckdb_oracle(self) -> Dict[str, float]:
        """Size, mean and FK-orphan counts from DuckDB on the same files."""
        import duckdb
        con = duckdb.connect()
        try:
            con.execute("SET threads TO 1")
            p = self.paths
            size, mean = con.execute(
                "SELECT count(*), avg(l_quantity) FROM read_parquet(?)",
                [p["lineitem"]]).fetchone()
            li_orphans = con.execute(
                "SELECT count(*) FROM read_parquet(?) l WHERE l_orderkey IS NOT NULL"
                " AND l_orderkey NOT IN (SELECT o_orderkey FROM read_parquet(?))",
                [p["lineitem"], p["orders"]]).fetchone()[0]
            o_orphans = con.execute(
                "SELECT count(*) FROM read_parquet(?) o WHERE o_custkey IS NOT NULL"
                " AND o_custkey NOT IN (SELECT c_custkey FROM read_parquet(?))",
                [p["orders"], p["customer"]]).fetchone()[0]
        finally:
            con.close()
        return {"size": size, "mean": mean, "orphans.l_orderkey": li_orphans,
                "orphans.o_custkey": o_orphans}

    def load(self):
        from term_spark.sources import read_parquet
        with self.span("read_parquet", "sources"):
            self.tables = {name: read_parquet(self.spark, path).cache()
                           for name, path in self.paths.items()}
            rows = sum(df.count() for df in self.tables.values())
        from term_spark import Check, Level, ValidationSuite
        self.scalar, scalar_defects = lineitem_20(Check("lineitem_20", Level.ERROR))
        self.multi, multi_defects = multi_table(Check("multi_table", Level.ERROR))
        self.suite = (ValidationSuite("validate").on_table("lineitem")
                      .with_check(self.scalar).with_check(self.multi))
        self.expected = ["failure" if d and self.defects[d] else "success"
                         for d in scalar_defects + multi_defects]
        self.rows = rows
        return rows

    def check(self, result) -> List[str]:
        self.layer_counts["plans.reported_jobs"] = result.report.num_spark_jobs
        problems = _errors(result)
        got = _statuses(result)
        if got != self.expected:
            problems.append(f"statuses {got} != expected {self.expected}")
        m, o = result.metrics, self.oracle
        if m.get("size") != o["size"]:
            problems.append(f"size {m.get('size')} != duckdb {o['size']}")
        if not math.isclose(m.get("mean.l_quantity", math.nan), o["mean"],
                            rel_tol=1e-12):
            problems.append(f"mean {m.get('mean.l_quantity')} != duckdb {o['mean']}")
        for col, child_rows in (("l_orderkey", gen.N_LINEITEM),
                                ("o_custkey", gen.N_ORDERS)):
            orphans = round(m.get(f"foreign_key.{col}", math.nan) * child_rows)
            if orphans != o[f"orphans.{col}"]:
                problems.append(f"{col} orphans {orphans} != duckdb "
                                f"{o[f'orphans.{col}']}")
        return problems

    def run_pass(self, do):
        def op():
            with self.span("ValidationSuite.run", "plans"):
                return self.suite.run(self.spark, self.tables)
        do("suite", op, self.check, self.rows)

    def traced_extras(self, do):
        from term_spark import ValidationSuite
        for name, check, layer in (("scalar", self.scalar, "plans"),
                                   ("multitable", self.multi, "operators")):
            suite = ValidationSuite(name).on_table("lineitem").with_check(check)

            def op(suite=suite, name=name, layer=layer):
                with self.span(f"ValidationSuite.run[{name}]", layer):
                    return suite.run(self.spark, self.tables)
            do(name, op, _errors, self.rows)


# ---------------------------------------------------------------------------
# monitor
# ---------------------------------------------------------------------------

DAYS = 12
DAY_ROWS = 30_000


class Monitor(Workload):
    """One pass appends DAYS daily batches to an empty repository and
    state store; each day is one op: ingest, then query."""

    op_kind = "day"
    #: one pass leaves the next pass ~10 % slower than settled
    warm_passes = 2

    def generate(self):
        tables, _ = gen.tpch_tables(self.seed)
        self.day_paths = gen.write_days(tables["lineitem"], self.data_dir,
                                        self.seed, DAYS, DAY_ROWS)
        self.passes = 0

    def load(self):
        from term_spark.sources import read_parquet
        with self.span("read_parquet", "sources"):
            self.days = [read_parquet(self.spark, p) for p in self.day_paths]
            return sum(df.count() for df in self.days)

    def _fresh_stores(self):
        from term_spark.analyzers.base import (CompletenessAnalyzer,
                                               MeanAnalyzer, SizeAnalyzer)
        from term_spark.analyzers.runner import (FilesystemStateStore,
                                                 IncrementalAnalysisRunner)
        from term_spark.repository import ParquetRepository
        self.passes += 1
        root = os.path.join(self.run_dir, f"monitor{self.passes}")
        shutil.rmtree(os.path.join(self.run_dir, f"monitor{self.passes - 1}"),
                      ignore_errors=True)
        self.repo_path = os.path.join(root, "repository")
        self.state_path = os.path.join(root, "state")
        self.raw_repo = ParquetRepository(self.repo_path)
        self.repo = self.tracer.wrap(self.raw_repo, "repository",
                                     ("save", "series"))
        self.metric_rows = 0
        self.incr = (IncrementalAnalysisRunner(
                         FilesystemStateStore(self.state_path))
                     .add(SizeAnalyzer()).add(CompletenessAnalyzer("l_partkey"))
                     .add(MeanAnalyzer("l_quantity")))

    def _suite(self):
        import pyspark.sql.functions as F

        from term_spark import Assertion, Check, Level, ValidationSuite
        from term_spark.analyzers.anomaly import RelativeRateOfChange, ZScore
        check = (Check("daily", Level.WARNING)
                 .has_size(Assertion.gt(0))
                 .is_complete("l_orderkey")
                 .has_mean("l_quantity", Assertion.between(20, 30))
                 .value_range("l_discount", 0.0, 0.1)
                 .is_contained_in("l_linestatus", ["O", "F"])
                 .has_no_anomaly("size", F.count(F.lit(1)),
                                 RelativeRateOfChange(1.5, 0.5), self.repo)
                 .has_no_anomaly("mean.l_quantity", F.mean("l_quantity"),
                                 ZScore(4.0), self.repo))
        return ValidationSuite("daily").on_table("lineitem").with_check(check)

    def run_pass(self, do):
        from term_spark.analyzers.anomaly import AnomalyDetector, ZScore
        from term_spark.repository import ResultKey
        self._fresh_stores()
        suite = self._suite()
        detector = AnomalyDetector(ZScore(4.0))
        for day, df in enumerate(self.days):
            tags = {"day": f"{day:03d}"}

            def op(day=day, df=df, tags=tags):
                with self.span("ValidationSuite.run_and_store", "plans"):
                    result = suite.run_and_store(self.spark, df, self.repo,
                                                 timestamp=float(day + 1), **tags)
                with self.span("IncrementalAnalysisRunner.analyze_partition",
                               "analyzers"):
                    self.incr.analyze_partition(df, f"day{day:03d}",
                                                spark=self.spark)
                series = self.repo.series("size")
                with self.span("AnomalyDetector.detect_on", "analyzers"):
                    detector.detect_on(self.repo, "mean.l_quantity")
                with self.span("IncrementalAnalysisRunner.aggregate_partitions",
                               "analyzers"):
                    ctx = self.incr.aggregate_partitions(spark=self.spark)
                return result, series, ctx

            def check(out, day=day, tags=tags):
                result, series, ctx = out
                problems = _errors(result)
                key = ResultKey.of(float(day + 1), suite="daily", **tags)
                stored = self.raw_repo.load(key) or {}
                saved = {k: v for k, v in result.metrics.items()
                         if isinstance(v, (int, float))}
                self.metric_rows += len(stored)
                self.layer_counts["plans.reported_jobs"] = \
                    result.report.num_spark_jobs
                if {k: v.value for k, v in stored.items()} != saved:
                    problems.append(f"day {day} read back {stored} != {saved}")
                if len(series) != day + 1:
                    problems.append(f"series has {len(series)} runs, want {day + 1}")
                size = ctx.metric("size")
                if size is None or size.value != (day + 1) * DAY_ROWS:
                    problems.append(f"aggregated size {size} != {(day + 1) * DAY_ROWS}")
                return problems
            do("day", op, check, DAY_ROWS)
        files, size = dir_bytes(self.repo_path)
        self.layer_counts.update({
            "repository.files": files,
            "repository.bytes_per_metric": size / max(self.metric_rows, 1),
            "repository.history_runs": len(self.days),
            "analyzers.state_bytes": dir_bytes(self.state_path)[1],
        })


WORKLOADS = {"validate": Validate, "monitor": Monitor}
