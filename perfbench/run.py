"""Benchmark of the customs-cleaning pipeline, its history table and its
market-share reports.

Run from the repository root:

    python3 perfbench/run.py --workload batch_small --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --smoke

One process, ``local[<cpus>]`` Spark, one closed-loop client: the next
operation starts when the previous one has completed.  Inputs come from
``perfbench/gen.py`` and the seed alone.  Each operation's output is
checked; a failed check makes the run exit 1.  The last stdout line is one
JSON object ``{"correct", "attempted", "failed", "metrics"}``: with
``--trace 0`` the end-to-end metrics, with ``--trace 1`` the per-layer
metrics (see perfbench/README.md for which end-to-end metric each should
move).  A traced run also writes its spans to ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import random
import resource
import shutil
import statistics
import sys
import time
import traceback

import gen
from spans import Tracer, job_counts

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "etl_project_for_heavy_machinery_in_earthmoving_and_mobile_cranes_spark"
OUT_DIR = os.path.join(ROOT, ".perfbench_out")

WORKLOADS = ("batch_small", "batch_large", "history_report")
SMOKE_SEED = 7

# Catalog and batch sizes.  ``small_rows`` matches the reference batch
# (Input data/Indonesia_842952_May_July.xlsx, ~1.3k rows); ``large`` is
# ``large_base`` planted rows amplified ``large_reps`` times.
SIZES = {
    "full": dict(
        brands=60, models=50, series=5,
        small_rows=1300, small_pool=2, large_base=5000, large_reps=20,
        hist_rows=48_000, hist_months=24, upsert_rows=2000,
    ),
    "smoke": dict(
        brands=8, models=10, series=2,
        small_rows=200, small_pool=2, large_base=400, large_reps=3,
        hist_rows=1200, hist_months=24, upsert_rows=100,
    ),
}
REPLICA_STRIDE = 10**8   # amplified id = planted id + replica * stride
FIRST_MONTH = 202201

STAGES = (
    "coerce_and_derive", "normalize", "match_catalog", "label_cascades",
    "regex_stage", "capacity_from_text", "infer_models",
    "mark_price_outliers", "add_intervals", "finalize",
)
MATCH_PATHS = ("full", "brand_only", "regex1", "regex2", "capacity",
               "inferred", "parts", "none")
PATH_OF_REMARK = {
    gen.R_FULL: "full", gen.R_BRAND_ONLY: "brand_only",
    gen.R_RX_UNIQUE: "regex1", gen.R_RX_MULTI: "regex1",
    gen.R_RX_NB_UNIQUE: "regex2", gen.R_RX_NB_MULTI: "regex2",
    gen.R_CAPACITY: "capacity", gen.R_INFERRED: "inferred",
    gen.R_PARTS: "parts", gen.R_NONE: "none",
}
REPORTS = ("key_players", "capacity_share", "top3", "year_slice", "multi_grain")

E2E_UNITS = {
    "setup_s": "s", "cycle_p50_s": "s", "rows_per_s": "rows/s",
    "ok_ratio": "ratio", "retained_mb": "MB",
}
LAYER_UNITS = {
    "pipeline.build_s": "s", "pipeline.exec_s": "s",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.failed_tasks": "count",
    **{f"stage.{s}.{p}_s": "s" for s in STAGES for p in ("build", "exec")},
    "match.pairs_evaluated": "count",
    **{f"match.rows_{p}": "count" for p in MATCH_PATHS},
    "match.rows_dropped": "count", "match.hit_ratio": "ratio",
    "delta.upsert_s": "s", "delta.files_added": "count",
    "delta.files_removed": "count", "delta.write_amp": "ratio",
    "delta.read_s": "s", "delta.files_scanned": "count",
    **{f"report.{r}_s": "s" for r in REPORTS},
    "process.peak_rss_mb": "MB",
    "trace.overhead_s": "s",
}


class CheckFailed(Exception):
    pass


def _configure_env(work: str) -> None:
    """Keep every file Spark and the JVM write inside the checkout; must
    run before pyspark starts the JVM."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    # -UsePerfData: no hsperfdata files in the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["PYSPARK_SUBMIT_ARGS"] = "--conf spark.ui.showConsoleProgress=false pyspark-shell"


def _history_schema():
    from pyspark.sql import types as T

    return T.StructType([
        T.StructField("shipment_id", T.LongType()),
        T.StructField("month", T.IntegerType()),
        T.StructField("date", T.DateType()),
        T.StructField("brand", T.StringType()),
        T.StructField("model", T.StringType()),
        T.StructField("type", T.StringType()),
        T.StructField("capacity", T.DoubleType()),
        T.StructField("capacity_interval", T.StringType()),
        T.StructField("new_used", T.StringType()),
        T.StructField("qty_n", T.DoubleType()),
        T.StructField("amount_in_usd", T.DoubleType()),
    ])


class Bench:
    """One benchmark process: a Spark session plus the run's state."""

    def __init__(self, work: str, sizes: dict, seed: int, seconds: float, trace: bool):
        self.work = work
        self.sizes = sizes
        self.seed = seed
        self.seconds = seconds
        self.traced = trace
        self.tracer = Tracer(trace)
        self.layer: dict[str, list[float]] = {}
        self.op_walls: list[float] = []
        self.rows_per_s: list[float] = []
        self.attempted = 0
        self.failed = 0
        self.n_group = 0
        self.inputs = os.path.join(work, "inputs")

    # -- session ------------------------------------------------------------

    def load_package(self) -> None:
        from etl_project_for_heavy_machinery_in_earthmoving_and_mobile_cranes_spark import (
            schemas,
        )
        from etl_project_for_heavy_machinery_in_earthmoving_and_mobile_cranes_spark.operators import (
            analysis,
            history,
        )
        from etl_project_for_heavy_machinery_in_earthmoving_and_mobile_cranes_spark.plans import (
            pipeline,
        )
        from etl_project_for_heavy_machinery_in_earthmoving_and_mobile_cranes_spark.session import (
            get_spark,
        )
        from etl_project_for_heavy_machinery_in_earthmoving_and_mobile_cranes_spark.sources import (
            delta_lite,
        )

        self.S, self.P, self.D, self.A, self.H = schemas, pipeline, delta_lite, analysis, history
        self.get_spark = get_spark

    def start(self, first_input: str, schema, n_rows: int) -> None:
        """The timed set-up: a cold JVM and session from ``get_spark``, then
        the first job, a count of ``first_input`` (generated before the
        timer starts)."""
        t0 = time.perf_counter()
        self.spark = self.get_spark(app_name="perfbench")
        n = self.spark.read.schema(schema).parquet(first_input).count()
        self.setup_s = time.perf_counter() - t0
        print(f"setup: {self.setup_s:.3f} s", file=sys.stderr)
        if n != n_rows:
            raise CheckFailed(f"input {first_input}: {n} rows, generated {n_rows}")
        self.sc = self.spark.sparkContext
        self.sc.setLogLevel("ERROR")
        self.jvm_pid = int(self.spark._jvm.java.lang.ProcessHandle.current().pid())

    def stop(self) -> None:
        """Stop Spark and wait for the JVM to exit."""
        from pyspark import SparkContext

        self.spark.stop()
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None) if gw is not None else None
        if gw is not None:
            gw.shutdown()
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None

    def peak_rss_mb(self) -> float:
        kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        with open(f"/proc/{self.jvm_pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    kb += int(line.split()[1])
        return kb / 1024.0

    def retained_mb(self) -> float:
        """JVM heap and non-heap in use after two full collections, plus the
        Python process's peak RSS: the memory the process keeps, which
        unlike the JVM's RSS does not depend on how far the collector
        chose to grow the heap."""
        jvm = self.spark._jvm
        # the first collection lets Spark's ContextCleaner drop the blocks
        # of dead broadcasts; the second frees them
        jvm.java.lang.System.gc()
        time.sleep(1.0)
        jvm.java.lang.System.gc()
        mem = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        heap = mem.getHeapMemoryUsage().getUsed() / 2**20
        non_heap = mem.getNonHeapMemoryUsage().getUsed() / 2**20
        py = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
        print(f"retained: heap {heap:.1f} MB, non-heap {non_heap:.1f} MB, python {py:.1f} MB",
              file=sys.stderr)
        return heap + non_heap + py

    def _group(self, prefix: str) -> str:
        self.n_group += 1
        g = f"{prefix}-{self.n_group}"
        self.sc.setJobGroup(g, g)
        return g

    def _add(self, name: str, value: float) -> None:
        self.layer.setdefault(name, []).append(value)

    def _frame(self, rows: list, schema):
        """A DataFrame of generated rows (dicts or tuples), through Arrow."""
        import pandas as pd

        return self.spark.createDataFrame(pd.DataFrame(rows, columns=schema.names), schema)

    @staticmethod
    def _write(rows: list, schema, path: str) -> None:
        """Generated rows (dicts or tuples) as one parquet file, written
        with pyarrow, so no Spark session is needed."""
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import to_arrow_schema

        if rows and not isinstance(rows[0], dict):
            rows = [dict(zip(schema.names, r)) for r in rows]
        os.makedirs(path, exist_ok=True)
        table = pa.Table.from_pylist(rows, schema=to_arrow_schema(schema))
        pq.write_table(table, os.path.join(path, "part-0.parquet"))

    # -- closed loop --------------------------------------------------------

    def loop(self, op) -> None:
        """Run ``op`` back to back until ``seconds`` have passed (at least
        once).  An operation that raises counts as failed and records no
        sample; a failed output check ends the run."""
        t_end = time.perf_counter() + self.seconds
        while True:
            self.attempted += 1
            t0 = time.perf_counter()
            try:
                op()
                print(f"op {self.attempted}: {time.perf_counter() - t0:.3f} s", file=sys.stderr)
            except CheckFailed:
                raise
            except Exception:
                traceback.print_exc()
                self.failed += 1
            if time.perf_counter() >= t_end:
                break

    # -- batch workloads ----------------------------------------------------

    def generate_batches(self, large: bool) -> None:
        """Catalog, regex KB, FX and the raw batches, as parquet files."""
        s, S, d = self.sizes, self.S, self.inputs
        rng = random.Random(self.seed)
        self.cat = cat = gen.make_catalog(rng, s["brands"], s["models"], s["series"])
        self._write(cat.model_ref, S.MODEL_REF_SCHEMA, f"{d}/model_ref")
        self._write(cat.regex_kb, S.REGEX_KB_SCHEMA, f"{d}/regex_kb")
        self._write(cat.fx, S.FX_RATES_SCHEMA, f"{d}/fx")
        specs = [(s["small_rows"], 1)] * (1 if large else s["small_pool"])
        if large:
            specs.append((s["large_base"], s["large_reps"]))
        self.batches = []
        for i, (n, reps) in enumerate(specs):
            b = gen.make_batch(rng, cat, n, id_base=(i + 1) * 10**6, month=202405 + i % 3)
            path = f"{d}/batch{i}"
            self._write(b.rows, S.SHIPMENTS_SCHEMA, path if reps == 1 else path + "_base")
            self.batches.append((path, b, reps))

    def load_batches(self) -> None:
        """Untimed set-up after the first job: amplify the large batch and
        open every input."""
        from pyspark.sql import functions as F

        S, read, d = self.S, self.spark.read, self.inputs
        self._group("setup")
        self.pool = []
        for path, b, reps in self.batches:
            if reps > 1:
                # amplify: same planted rows, fresh ids, amounts scaled
                # within the F1 margins of the planted paths
                rep_c = F.col("__rep")
                scale = 1 + (rep_c % 7) / 100.0
                (
                    read.schema(S.SHIPMENTS_SCHEMA).parquet(path + "_base")
                    .crossJoin(self.spark.range(reps).withColumnRenamed("id", "__rep"))
                    .withColumn("shipment_id", F.col("shipment_id") + rep_c * REPLICA_STRIDE)
                    .withColumn("amount_in_usd", F.round(F.col("amount_in_usd") * scale, 2))
                    .withColumn("price_in_usd", F.col("price_in_usd") * scale)
                    .drop("__rep")
                    .write.mode("overwrite").parquet(path)
                )
            sh = read.schema(S.SHIPMENTS_SCHEMA).parquet(path)
            n_in = sh.count()
            if n_in != len(b.rows) * reps:
                raise CheckFailed(f"input {path}: {n_in} rows, generated {len(b.rows) * reps}")
            self.pool.append((sh, b, reps, n_in))
        self.frames = dict(
            model_ref=read.schema(S.MODEL_REF_SCHEMA).parquet(f"{d}/model_ref"),
            regex_kb=read.schema(S.REGEX_KB_SCHEMA).parquet(f"{d}/regex_kb"),
            fx=read.schema(S.FX_RATES_SCHEMA).parquet(f"{d}/fx"),
        )

    def batch_op(self, entry, timed: bool) -> None:
        sh, batch, reps, n_in = entry
        fr, tr = self.frames, self.tracer
        group = self._group("batch")
        with tr.span("batch", rows=n_in):
            t0 = time.perf_counter()
            with tr.span("pipeline.build"):
                out = self.P.run_pipeline(
                    sh, fr["model_ref"], fr["regex_kb"], fr["fx"], datasource="perfbench"
                )
            t1 = time.perf_counter()
            with tr.span("pipeline.exec"):
                out.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
        if self.traced and timed:
            for k, v in job_counts(self.sc, group).items():
                self._add(k, v)
        self._group("check")
        got = out.select("shipment_id", "brand", "model", "remark").collect()
        self.spark.catalog.clearCache()
        self.check_batch(got, batch, reps, n_in, record=self.traced and timed)
        if timed:   # only operations whose output passed the checks record samples
            self.op_walls.append(t2 - t0)
            self.rows_per_s.append(n_in / (t2 - t1))
            self._add("pipeline.build_s", t1 - t0)
            self._add("pipeline.exec_s", t2 - t1)

    def check_batch(self, got, batch, reps: int, n_in: int, record: bool) -> None:
        want = {sid + k * REPLICA_STRIDE for sid in batch.kept_ids for k in range(reps)}
        if len(got) != len(want):
            raise CheckFailed(f"pipeline output has {len(got)} rows, expected {len(want)}")
        ids = [r[0] for r in got]
        if len(set(ids)) != len(ids):
            raise CheckFailed(f"pipeline output repeats {len(ids) - len(set(ids))} shipment ids")
        if set(ids) != want:
            extra, lost = sorted(set(ids) - want), sorted(want - set(ids))
            raise CheckFailed(
                f"pipeline output holds {len(extra)} rows that F1/F2 drop or the input lacks,"
                f" e.g. {extra[:3]}, and loses {len(lost)} kept rows, e.g. {lost[:3]}"
            )
        bad = []
        for r in got:
            exp = batch.expected.get(r[0] % REPLICA_STRIDE)
            if exp is not None and (r[1], r[2], r[3]) != exp:
                bad.append((r[0], (r[1], r[2], r[3]), exp))
        if bad:
            raise CheckFailed(f"{len(bad)} planted rows mislabelled, e.g. {bad[:3]}")
        if not record:
            return
        rows = {p: 0 for p in MATCH_PATHS}
        for r in got:
            rows[PATH_OF_REMARK[r[3]]] += 1
        for p, n in rows.items():
            self._add(f"match.rows_{p}", n)
        self._add("match.rows_dropped", n_in - len(got))
        resolved = rows["full"] + rows["regex1"] + rows["regex2"] + rows["inferred"]
        self._add("match.hit_ratio", resolved / len(got))
        # rows in scope x dim rows, per join: J1 all kept rows x brands,
        # J2 rows with a brand x catalog, pass 1 brand-without-model rows x
        # patterns, pass 2 brandless rows x patterns
        brandless = rows["regex2"] + rows["capacity"] + rows["none"]
        scope1 = rows["brand_only"] + rows["regex1"] + rows["inferred"]
        self._add("match.pairs_evaluated",
                  len(got) * len(self.cat.brands)
                  + (len(got) - brandless) * len(self.cat.model_ref)
                  + (scope1 + brandless) * len(self.cat.regex_kb))

    def staged_batch(self, entry) -> None:
        """The pipeline stage by stage, each stage's input cut from its
        lineage with an eager localCheckpoint, so a stage's exec span
        covers that stage alone."""
        sh, batch, reps, n_in = entry
        P, fr, tr = self.P, self.frames, self.tracer
        fns = {
            "coerce_and_derive": P.coerce_and_derive,
            "normalize": P.normalize,
            "match_catalog": lambda d: P.match_catalog(d, fr["model_ref"]),
            "label_cascades": P.label_cascades,
            "regex_stage": lambda d: P.regex_stage(d, fr["regex_kb"]),
            "capacity_from_text": P.capacity_from_text,
            "infer_models": P.infer_models,
            "mark_price_outliers": P.mark_price_outliers,
            "add_intervals": P.add_intervals,
            "finalize": lambda d: P.finalize(d, fr["fx"], "perfbench"),
        }
        self._group("staged")
        df = sh
        with tr.span("staged_batch", rows=n_in):
            for name in STAGES:
                t0 = time.perf_counter()
                with tr.span(f"stage.{name}.build"):
                    out = fns[name](df)
                t1 = time.perf_counter()
                with tr.span(f"stage.{name}.exec"):
                    df = out.localCheckpoint(eager=True)
                t2 = time.perf_counter()
                self._add(f"stage.{name}.build_s", t1 - t0)
                self._add(f"stage.{name}.exec_s", t2 - t1)
        got = df.select("shipment_id", "brand", "model", "remark").collect()
        self.check_batch(got, batch, reps, n_in, record=False)

    def run_batches(self, large: bool) -> None:
        self.generate_batches(large)
        path, b, _ = self.batches[0]
        self.start(path, self.S.SHIPMENTS_SCHEMA, len(b.rows))
        self.load_batches()
        # batch_large warms up on a reference-size batch; batch_small on
        # the last pooled batch, and its timed operations cycle the pool
        if large:
            warm = self.pool[0]
            timed = [self.pool[1]]
        else:
            warm = self.pool[-1]
            timed = self.pool
        order = itertools.cycle(timed)
        self.run_loop(lambda: self.batch_op(warm, timed=False),
                      lambda t: self.batch_op(next(order), timed=t))
        if self.traced:
            self.staged_batch(timed[0])

    def run_loop(self, warm, op) -> None:
        """Untimed ``warm()``, then (traced runs) one untraced ``op(False)``
        as the base of trace.overhead_s, then the closed loop of ``op(True)``."""
        self.tracer.enabled = False
        warm()
        if self.traced:
            t0 = time.perf_counter()
            op(False)
            untraced = time.perf_counter() - t0
        self.tracer.enabled = self.traced
        walls = []

        def timed_op() -> None:
            t0 = time.perf_counter()
            op(True)
            walls.append(time.perf_counter() - t0)

        self.loop(timed_op)
        if self.traced and walls:
            self._add("trace.overhead_s", statistics.median(walls) - untraced)

    # -- history workload ---------------------------------------------------

    def generate_history(self) -> None:
        """The catalog and the seed rows of the history, as parquet."""
        s = self.sizes
        self.months = gen.months_from(FIRST_MONTH, s["hist_months"])
        self.rng = rng = random.Random(self.seed)
        self.cat = gen.make_catalog(rng, s["brands"], s["models"], s["series"])
        rows = gen.make_history(rng, self.cat, s["hist_rows"], self.months)
        self._write(rows, _history_schema(), os.path.join(self.inputs, "history_rows"))
        self.stored = {r["shipment_id"]: r["month"] for r in rows}
        self.amounts = {r["shipment_id"]: r["amount_in_usd"] for r in rows}
        self.next_id = len(rows) + 1

    def load_history(self) -> None:
        """Untimed set-up after the first job: the month-partitioned
        table, moved to the keyed bucket layout the upserts keep."""
        D = self.D
        self.table = os.path.join(self.work, "history")
        self._group("setup")
        df = self.spark.read.schema(_history_schema()).parquet(
            os.path.join(self.inputs, "history_rows"))
        D.write_delta(df, self.table, partition_by=["month"])
        D.upsert_delta(self.spark, self.table, df.limit(0), ["shipment_id"])
        n = D.read_delta(self.spark, self.table).count()
        if n != len(self.stored):
            raise CheckFailed(f"seeded history has {n} rows, generated {len(self.stored)}")

    def _reports(self, snap, year: int) -> dict:
        """The reference report set over one snapshot, as lazy builders."""
        from pyspark.sql import functions as F

        A, H = self.A, self.H
        return {
            "key_players": lambda: A.report_order(
                A.fold_others(A.group_share(snap, "brand", "amount_in_usd", "qty_n"), "brand"),
                "brand"),
            "capacity_share": lambda: A.group_share(snap, "capacity_interval", "amount_in_usd"),
            "top3": lambda: A.top_k(A.group_share(snap, "brand", "amount_in_usd"), "amount", 3),
            "year_slice": lambda: A.group_share(
                H.year_slice(snap, "date", year), "brand", "amount_in_usd"),
            "multi_grain": lambda: A.multi_grain_report(
                snap, ["brand", "type", "capacity_interval"],
                [["brand"], ["brand", "type"], ["capacity_interval"], []],
                [F.sum("amount_in_usd").alias("amount"), F.count("*").alias("n")]),
        }

    def history_op(self, timed: bool) -> None:
        tr, spark, D = self.tracer, self.spark, self.D
        month = gen.months_from(self.months[-1], 2)[1]
        self.months.append(month)
        rows = gen.make_upsert_batch(self.rng, self.cat, self.stored, self.next_id,
                                     self.sizes["upsert_rows"], month)
        batch = self._frame(rows, _history_schema())
        group = self._group("cycle")
        with tr.span("cycle", rows=len(rows)):
            t0 = time.perf_counter()
            with tr.span("delta.upsert"):
                version = D.upsert_delta(spark, self.table, batch, ["shipment_id"])
            t1 = time.perf_counter()
            snap, results, read_s, report_s = self.refresh(month // 100)
            t3 = time.perf_counter()
        if self.traced and timed:
            for k, v in job_counts(self.sc, group).items():
                self._add(k, v)
        # the model of the table the upsert should have produced
        for r in rows:
            self.stored[r["shipment_id"]] = r["month"]
            self.amounts[r["shipment_id"]] = r["amount_in_usd"]
        self.next_id += sum(1 for r in rows if r["shipment_id"] >= self.next_id)
        self._group("check")
        self.check_history(snap, results["key_players"])
        if self.traced and timed:
            self._record_files(version, batch, snap)
        if timed:
            self.op_walls.append(t3 - t0)
            self.rows_per_s.append(len(rows) / (t1 - t0))
            self._add("delta.upsert_s", t1 - t0)
            self._add("delta.read_s", read_s)
            self._add("report_s", t3 - t1)
            for name, v in report_s.items():
                self._add(f"report.{name}_s", v)

    def refresh(self, year: int):
        """read_delta, then the report set, each report collected."""
        tr, results, report_s = self.tracer, {}, {}
        with tr.span("report"):
            t0 = time.perf_counter()
            with tr.span("delta.read"):
                snap = self.D.read_delta(self.spark, self.table)
            read_s = time.perf_counter() - t0
            for name, build in self._reports(snap, year).items():
                r0 = time.perf_counter()
                with tr.span(f"report.{name}"):
                    results[name] = build().collect()
                report_s[name] = time.perf_counter() - r0
        return snap, results, read_s, report_s

    def _record_files(self, version: int, batch, snap) -> None:
        added, removed, _ = self.D.changed_files(self.table, version - 1, version)
        bpath = os.path.join(self.work, "batch_bytes")
        batch.write.mode("overwrite").parquet(bpath)
        batch_bytes = sum(
            os.path.getsize(os.path.join(bpath, f))
            for f in os.listdir(bpath) if f.endswith(".parquet")
        )
        self._add("delta.files_added", len(added))
        self._add("delta.files_removed", len(removed))
        self._add("delta.write_amp", sum(a.get("size", 0) for a in added.values()) / batch_bytes)
        self._add("delta.files_scanned", len(snap.inputFiles()))

    def check_history(self, snap, key_players) -> None:
        from pyspark.sql import functions as F

        n, n_keys = snap.agg(F.count("*"), F.countDistinct("shipment_id")).first()
        if n != n_keys or n != len(self.stored):
            raise CheckFailed(
                f"history has {n} rows and {n_keys} distinct keys, expected {len(self.stored)}"
            )
        total = sum(self.amounts.values())
        got = sum(r["amount"] for r in key_players)
        if abs(got - total) > 1e-9 * total:
            raise CheckFailed(f"key-players total {got!r} != snapshot sum {total!r}")

    def run_history(self) -> None:
        self.generate_history()
        self.start(os.path.join(self.inputs, "history_rows"), _history_schema(),
                   len(self.stored))
        self.load_history()
        self.run_loop(lambda: self.history_op(False), self.history_op)

    # -- results ------------------------------------------------------------

    def run(self, name: str) -> None:
        """Run one workload; afterwards ``e2e`` and ``per_layer`` hold the
        medians and the session is stopped.  Raises CheckFailed if no timed
        operation completed its output check."""
        self.load_package()
        try:
            if name == "history_report":
                self.run_history()
            else:
                self.run_batches(large=name == "batch_large")
            if not self.op_walls:
                raise CheckFailed("no timed operation completed its output check")
            self._add("process.peak_rss_mb", self.peak_rss_mb())
            self.e2e = {
                "setup_s": self.setup_s,
                "cycle_p50_s": statistics.median(self.op_walls),
                "rows_per_s": statistics.median(self.rows_per_s),
                "ok_ratio": (self.attempted - self.failed) / self.attempted,
                "retained_mb": self.retained_mb(),
            }
            # layers the workload does not run read 0
            self.per_layer = {
                k: statistics.median(self.layer[k]) if k in self.layer else 0.0
                for k in LAYER_UNITS
            }
            if self.traced:
                os.makedirs(OUT_DIR, exist_ok=True)
                self.tracer.write(os.path.join(OUT_DIR, f"trace-{name}-seed{self.seed}.json"))
        finally:
            if hasattr(self, "spark"):
                self.stop()

    def summary(self, name: str) -> None:
        """Human-readable lines, with the workload's own metric names."""
        e = self.e2e
        lines = [("setup_s", e["setup_s"], "s")]
        if name == "history_report":
            lines += [("upsert_p50_s", statistics.median(self.layer["delta.upsert_s"]), "s"),
                      ("report_p50_s", statistics.median(self.layer["report_s"]), "s")]
        else:
            lines.append(("batch_p50_s", e["cycle_p50_s"], "s"))
        lines += [("cycle_p50_s", e["cycle_p50_s"], "s"),
                  ("rows_per_s", e["rows_per_s"], "rows/s"),
                  ("failed_ratio", self.failed / self.attempted, "ratio"),
                  ("peak_rss_mb", self.layer["process.peak_rss_mb"][0], "MB"),
                  ("retained_mb", e["retained_mb"], "MB"),
                  ("operations", self.attempted, "count")]
        for k, v, u in lines:
            print(f"{name:15s} {k:14s} {v:.6g} {u}")


def _work_dir() -> str:
    return os.path.join(ROOT, ".perfbench_work", str(os.getpid()))


def _remove_work(work: str) -> None:
    shutil.rmtree(work, ignore_errors=True)
    try:
        os.rmdir(os.path.dirname(work))   # only if no other run is using it
    except OSError:
        pass


def smoke() -> int:
    """Every workload once at a tiny size, traced, with all output checks;
    fails unless every metric named in BENCHMARK.json is reported."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    want_e2e = {m["name"] for m in spec["end_to_end"]}
    want_layer = {m["name"] for m in spec["per_layer"]}
    if not {w["name"] for w in spec["workloads"]} <= set(WORKLOADS):
        print("BENCHMARK.json names a workload run.py does not have", file=sys.stderr)
        return 1
    work = _work_dir()
    _configure_env(work)
    try:
        for name in WORKLOADS:
            b = Bench(work, SIZES["smoke"], SMOKE_SEED, 1, True)
            b.run(name)
            b.summary(name)
            missing = (want_e2e - set(b.e2e)) | (want_layer - set(b.per_layer))
            trace_file = os.path.join(OUT_DIR, f"trace-{name}-seed{SMOKE_SEED}.json")
            if missing or not os.path.isfile(trace_file) or b.failed:
                print(f"smoke {name}: missing {sorted(missing)}, failed ops {b.failed}",
                      file=sys.stderr)
                return 1
    finally:
        _remove_work(work)
    print("smoke ok")
    return 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, PKG, "plans", "pipeline.py")):
        print(f"package {PKG} not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    if args.smoke:
        return smoke()
    if args.workload is None:
        ap.error("--workload is required")
    work = _work_dir()
    _configure_env(work)
    b = Bench(work, SIZES["full"], args.seed, args.seconds, bool(args.trace))
    try:
        b.run(args.workload)
    except CheckFailed as e:
        print(f"output check failed: {e}", file=sys.stderr)
        print(json.dumps({"correct": False, "attempted": max(b.attempted, 1),
                          "failed": b.failed, "metrics": {}}))
        return 1
    finally:
        _remove_work(work)
    b.summary(args.workload)
    values, units = (b.per_layer, LAYER_UNITS) if args.trace else (b.e2e, E2E_UNITS)
    print(json.dumps({
        "correct": True,
        "attempted": b.attempted,
        "failed": b.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
