"""The three workloads: what one operation is, how its output is checked,
and which layer counters a traced run reports.

Each workload drives the package only through its public entry points
(``pipeline.run_step1``, ``pipeline.run_step2``, the registered catalog
queries).  ``run_pass`` runs one pass and returns the seconds its
operations took; ``check_pass`` then returns one failure reason (``None``
= correct) per operation.  Everything but the operations themselves runs
outside the timed region.
"""

from __future__ import annotations

import contextlib
import glob
import math
import os
import random
import shutil
import statistics
import time

import pyarrow.parquet as pq

import checks
import gen
from spans import Tracer, layer_totals


def damage_parquet(path: str) -> None:
    """Self-test: add 1.0 to the first double of one committed parquet
    file, rewriting it in place."""
    import pyarrow as pa
    import pyarrow.compute as pc

    f = sorted(p for p in checks.data_files(path) if p.endswith(".parquet"))[0]
    t = pq.read_table(f)
    for i, fld in enumerate(t.schema):
        if pa.types.is_floating(fld.type):
            col = t.column(i).combine_chunks()
            first = pc.index(pc.is_valid(col), True).as_py()
            vals = col.to_pylist()
            vals[first] += 1.0
            t = t.set_column(i, fld, pa.array(vals, fld.type))
            break
    pq.write_table(t, f)


class Workload:
    name = ""
    #: untimed warm-up operations after the cold one (fixed, never timed)
    warmup = 1

    def __init__(self, manifest: dict, work: str, seed: int):
        self.m = manifest
        self.out = os.path.join(work, "out")
        self.sink_stats: list[dict] = []
        self.persisted: list[int] = []
        self.tracer: Tracer | None = None

    def prepare(self) -> None:
        """Per-run work that needs no Spark session (expected results)."""

    def run_pass(self, spark, damage: bool = False, cold: bool = False) -> float:
        """Run one pass and return its timed seconds (the operations only;
        the persisted-RDD count and sweep after each operation are not
        timed).  With ``damage`` the self-test corrupts one committed row
        of the pass; ``cold`` marks the set-up pass."""
        raise NotImplementedError

    def check_pass(self, damage: bool = False) -> list[str | None]:
        """One failure reason (or None) per operation of the last pass."""
        raise NotImplementedError

    def after_operation(self, spark) -> None:
        """Count RDDs the operation left persisted, then free them."""
        from conte_to_fresco_etl_spark.session import sweep_persisted

        self.persisted.append(spark.sparkContext._jsc.getPersistentRDDs().size())
        sweep_persisted(spark)

    def clear_outputs(self) -> None:
        shutil.rmtree(self.out, ignore_errors=True)

    # figures for the end-to-end metrics
    def rows_per_pass(self) -> int:
        return self.m["rows_in"]

    def bytes_in(self) -> int:
        return self.m["bytes_in"]

    def query_latencies(self, pass_walls: list[float]) -> dict:
        """{query: [latency per timed pass]}; a pipeline is one query."""
        return {self.name: pass_walls}

    def timed_call(self, spark, fn, *args):
        t = time.perf_counter()
        result = fn(*args)
        dt = time.perf_counter() - t
        self.after_operation(spark)
        return dt, result

    def bytes_out(self) -> float:
        return statistics.median(s["bytes"] for s in self.sink_stats)

    def record_sinks(self, dirs: list[str]) -> None:
        files = [f for d in dirs for f in checks.data_files(d)]
        rows = [checks.file_rows(f) for f in files]
        self.sink_stats.append({
            "files": len(files),
            "max_rows": max(rows, default=0),
            "bytes": sum(os.path.getsize(f) for f in files),
        })

    # traced-run layer figures for one timed pass
    def layers(self, tracer: Tracer, op: int) -> dict:
        """Readers, sinks and job counts shared by both pipelines."""
        t = layer_totals(tracer, op)
        z = {"self_s": 0.0, "wall_s": 0.0}
        rd, sk = t.get("readers", z), t.get("sinks", z)
        allspans = [sp.counts for sp in tracer.op_spans(op)]
        last = self.sink_stats[-1]
        return {
            "readers.self_s": rd["self_s"],
            "readers.rows_in": sum(c.get("inputRecords", 0) for c in allspans),
            "sinks.self_s": sk["self_s"],
            "sinks.busy_cores": sk.get("executorRunTime", 0) / 1000.0 / max(sk["wall_s"], 1e-9),
            "sinks.files_written": last["files"],
            "sinks.max_rows_per_file": last["max_rows"],
            "sinks.bytes_written": last["bytes"],
            "sinks.shuffle_bytes": sk.get("shuffleWriteBytes", 0),
            "sinks.spill_bytes": sk.get("memoryBytesSpilled", 0) + sk.get("diskBytesSpilled", 0),
            "pipeline.jobs": sum(c.get("jobs", 0) for c in allspans),
            "pipeline.stages": sum(c.get("stages", 0) for c in allspans),
            "pipeline.tasks": sum(c.get("tasks", 0) for c in allspans),
            "session.persisted_rdds": self.persisted[-1],
        }

    def diagnostics(self, spark, tracer: Tracer) -> dict:
        return {}


# ---------------------------------------------------------------------------

class Ingest(Workload):
    """Step 1 (``run_step1``) on seeded raw CSVs."""

    name = "ingest"
    warmup = 2

    def prepare(self) -> None:
        self.expected = checks.ingest_expected(self.m)
        self.raw_dir = os.path.join(self.m["dir"], self.m["raw_dir"])
        self.eav = os.path.join(self.out, "eav")

    def run_pass(self, spark, damage: bool = False, cold: bool = False) -> float:
        from conte_to_fresco_etl_spark import pipeline

        return self.timed_call(spark, pipeline.run_step1, spark, self.raw_dir, self.eav)[0]

    def check_pass(self, damage: bool = False) -> list[str | None]:
        self.record_sinks([self.eav])
        if damage:
            damage_parquet(self.eav)
        return [checks.ingest_check(self.expected, self.eav)]

    def layers(self, tracer: Tracer, op: int) -> dict:
        out = super().layers(tracer, op)
        out["transforms.self_s"] = layer_totals(tracer, op).get("transforms", {}).get("self_s", 0.0)
        out["pipeline.months"] = len(glob.glob(os.path.join(self.eav, "ym=*")))
        return out

    def diagnostics(self, spark, tracer: Tracer) -> dict:
        """Row counts per transform and the window shuffle, measured by
        separate untimed executions of the same public functions."""
        from conte_to_fresco_etl_spark.operators import transforms
        from conte_to_fresco_etl_spark.pipeline import RAW_SCHEMAS
        from conte_to_fresco_etl_spark.sources.readers import read_raw_csv

        frames = {n: read_raw_csv(spark, os.path.join(self.raw_dir, f"{n}.csv"), s)
                  for n, s in RAW_SCHEMAS.items()}
        kept = sum(transforms.TRANSFORMS[n](df).count() // (2 if n == "mem" else 1)
                   for n, df in frames.items())
        out = transforms.transform_folder(frames)
        rows_out = out.count()
        # noop writes, not count(): count() prunes the CSV columns (an
        # unparsed column cannot be malformed) and the nfs window whose
        # shuffle is measured here
        tracer.op = -2
        for n, df in frames.items():
            with tracer.span(f"diag.read_{n}", "diag"):
                df.write.format("noop").mode("overwrite").save()
        with tracer.span("diag.transform_folder", "diag") as sp:
            out.write.format("noop").mode("overwrite").save()
        tracer.collect(-2)
        parsed = sum(s.counts.get("inputRecords", 0) for s in tracer.op_spans(-2)
                     if s.name.startswith("diag.read_"))
        return {
            "readers.rows_malformed": self.m["rows_in"] - parsed,
            "transforms.rows_out": rows_out,
            "transforms.rows_dropped": parsed - kept,
            "transforms.shuffle_bytes": sp.counts.get("shuffleWriteBytes", 0),
        }


# ---------------------------------------------------------------------------

class JoinPivot(Workload):
    """Step 2 (``run_step2``) with both sinks on, over seeded monthly EAV
    chunks and accounting CSVs."""

    name = "join_pivot"
    warmup = 1

    def prepare(self) -> None:
        self.expected = checks.join_pivot_expected(self.m)
        self.ts_dir = os.path.join(self.m["dir"], self.m["ts_dir"])
        self.acct_dir = os.path.join(self.m["dir"], self.m["acct_dir"])
        self.set3 = os.path.join(self.out, "set3")
        self.csv = os.path.join(self.out, "csv")
        self.results: list[list] = []

    def run_pass(self, spark, damage: bool = False, cold: bool = False) -> float:
        from conte_to_fresco_etl_spark import pipeline

        dt, months = self.timed_call(spark, pipeline.run_step2, spark, self.ts_dir,
                                     self.acct_dir, self.set3, self.csv)
        self.results.append(months)
        return dt

    def check_pass(self, damage: bool = False) -> list[str | None]:
        self.record_sinks([self.set3, self.csv])
        if damage:
            damage_parquet(self.set3)
        reason = checks.join_pivot_check(self.expected, self.set3, self.csv)
        months = {f"{r.year}_{r.month}": r.rows for r in self.results[-1]}
        if reason is None and sum(months.values()) != self.expected["rows"][0]:
            reason = f"run_step2 reported {months}, expected {self.expected['rows'][0]} rows"
        return [reason]

    def layers(self, tracer: Tracer, op: int) -> dict:
        out = super().layers(tracer, op)
        t = layer_totals(tracer, op)
        # each month's input is the EAV chunks plus the accounting rows
        scanned_once = sum(self.m["rows_in"] // len(self.m["months"]) + mo["acct_rows"]
                           for mo in self.m["months"])
        out.update({
            "join.self_s": t.get("join", {}).get("self_s", 0.0),
            "join.rows_out": sum(r.rows for r in self.results[-1]),
            "pipeline.months": len(self.results[-1]),
            "pipeline.eav_scans": t.get("sinks", {}).get("inputRecords", 0) / scanned_once,
        })
        return out

    def diagnostics(self, spark, tracer: Tracer) -> dict:
        """Interval selectivity, join strategy and join parallelism per
        month, from separate untimed executions of the public functions."""
        from conte_to_fresco_etl_spark.operators.join import (
            join_ts_jobs, process_month, standardize_keys,
        )
        from conte_to_fresco_etl_spark.sources.readers import (
            read_accounting_csv, read_fresco_ts,
        )

        equi = kept = 0
        broadcast = 1
        run_s = wall = 0.0
        tracer.op = -3
        for mo in self.m["months"]:
            ts = read_fresco_ts(spark, [os.path.join(self.m["dir"], f) for f in mo["ts_files"]])
            jobs = read_accounting_csv(spark, os.path.join(self.m["dir"], mo["acct"]))
            k_ts, k_jobs = standardize_keys(ts, jobs)
            equi += k_ts.join(k_jobs, k_ts["Job Id"] == k_jobs["jobID"]).count()
            kept += join_ts_jobs(ts, jobs).count()
            set3 = process_month(ts, jobs)
            with tracer.span("diag.process_month", "diag") as sp:
                set3.write.format("noop").mode("overwrite").save()
            plan = set3._jdf.queryExecution().executedPlan().toString()
            broadcast &= int("BroadcastHashJoin" in plan)
            tracer.collect(-3)
            run_s += sp.counts.get("executorRunTime", 0) / 1000.0
            wall += sp.wall
        return {
            "join.keep_frac": kept / max(equi, 1),
            "join.broadcast": broadcast,
            "join.busy_cores": run_s / max(wall, 1e-9),
        }


# ---------------------------------------------------------------------------

#: Queries of the catalog mix and the tables each reads (for rows/bytes in).
CATALOG_QUERIES = {
    "q1_pricing_summary": ["lineitem"],
    "q_interval_join": ["lineitem", "orders"],
    "q_kn_bigram_nll": ["documents"],
    "q_fk_orphans": ["region", "nation", "customer", "supplier", "part", "orders",
                     "lineitem", "events", "documents", "embeddings"],
}


class Catalog(Workload):
    """One pass = every query of the mix in a seed-shuffled order, each
    built by its registered function and written to the noop sink."""

    name = "catalog"
    warmup = 2

    def __init__(self, manifest: dict, work: str, seed: int):
        super().__init__(manifest, work, seed)
        self.rng = random.Random(seed)
        self.sf_dir = os.path.join(manifest["dir"], manifest["sf_dir"])
        self.passes: list[dict[str, float]] = []  # query -> seconds, per pass
        self.expected_rows: dict[str, int] = {}
        self.out_bytes = 0
        self.reasons: list[str | None] = []
        self.collected: dict[str, checks.Collected] = {}

    def prepare(self) -> None:
        import __spark_entry__ as entrymod

        self.queries = {q: entrymod.queries()[q] for q in CATALOG_QUERIES}

    def run_pass(self, spark, damage: bool = False, cold: bool = False) -> float:
        """With ``cold`` (the set-up pass) each result is collected for
        the oracle comparison instead of written to the noop sink."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        order = list(CATALOG_QUERIES)
        self.rng.shuffle(order)
        reasons = self.reasons = []
        latency = {}
        for i, q in enumerate(order):
            t0 = time.perf_counter()
            with self.span(f"plans.{q}", "plans"):
                df = self.queries[q](spark, self.sf_dir)
            if cold:
                self.collected[q] = checks.Collected(df.columns, [tuple(r) for r in df.collect()])
            else:
                if damage and i == 0:
                    df = df.offset(1)
                obs = Observation(f"rows_{q}")
                sink = df.observe(obs, F.count(F.lit(1)).alias("n")).write.format(
                    "noop").mode("overwrite")
                with self.span(f"catalog.{q}", "catalog"):
                    sink.save()
                n = obs.get["n"]
                want = self.expected_rows.get(q)
                reasons.append(None if want is None or n == want
                               else f"{q}: noop sink saw {n} rows, oracle has {want}")
            latency[q] = time.perf_counter() - t0
            self.after_operation(spark)
        self.passes.append(latency)
        return sum(latency.values())

    def span(self, name: str, layer: str):
        tr = self.tracer
        if tr is None or not tr.enabled:
            return contextlib.nullcontext()
        return tr.span(name, layer)

    def check_pass(self, damage: bool = False) -> list[str | None]:
        if self.collected:
            # the cold pass: DuckDB oracle parity, which also fixes the row
            # counts every later pass is checked against
            self.reasons, self.expected_rows, self.out_bytes = checks.catalog_parity(
                self.collected, self.sf_dir)
            self.collected = {}
        return self.reasons

    def rows_per_pass(self) -> int:
        return sum(self.m["rows"][t] for ts in CATALOG_QUERIES.values() for t in ts)

    def bytes_in(self) -> int:
        return sum(self.m["bytes"][t] for ts in CATALOG_QUERIES.values() for t in ts)

    def bytes_out(self) -> float:
        return float(self.out_bytes)

    def query_latencies(self, pass_walls: list[float]) -> dict:
        timed = self.passes[-len(pass_walls):]
        return {q: [p[q] for p in timed] for q in CATALOG_QUERIES}

    def layers(self, tracer: Tracer, op: int) -> dict:
        spans = tracer.op_spans(op)
        build = [sp for sp in spans if sp.layer == "plans"]
        execs = [sp for sp in spans if sp.layer == "catalog"]
        wall = sum(sp.wall for sp in spans)

        def tot(key, group=spans):
            return sum(sp.counts.get(key, 0) for sp in group)

        out = {
            "plans.build_s": sum(sp.wall for sp in build),
            "plans.build_jobs": tot("jobs", build),
            "catalog.exec_s": sum(sp.wall for sp in execs),
            "catalog.jobs": tot("jobs"),
            "catalog.stages": tot("stages"),
            "catalog.tasks": tot("tasks"),
            "catalog.shuffle_bytes": tot("shuffleWriteBytes"),
            "catalog.spill_bytes": tot("memoryBytesSpilled") + tot("diskBytesSpilled"),
            "catalog.cpu_s": tot("executorCpuTime") / 1e9,
            "catalog.busy_cores": tot("executorRunTime") / 1000.0 / max(wall, 1e-9),
            "session.persisted_rdds": sum(self.persisted[-len(CATALOG_QUERIES):]),
        }
        for sp in execs:
            out[f"{sp.name}.exec_s"] = sp.wall
        return out


WORKLOADS = {"ingest": Ingest, "join_pivot": JoinPivot, "catalog": Catalog}

#: Input size per workload (the generator's ``size`` argument).
SIZES = {"ingest": 60_000, "join_pivot": 200_000, "catalog": 5}

BUILDERS = {"ingest": gen.build_ingest, "join_pivot": gen.build_join_pivot,
            "catalog": gen.build_catalog}


def geomean(xs: list[float]) -> float:
    return math.exp(sum(math.log(x) for x in xs) / len(xs))
