"""The measured process: one closed-loop client driving the engine.

Started by ``run.py`` in a fresh interpreter, so ``setup_s`` covers a real
process start, JVM launch, ``build_session`` and ``registry.load_all``.
It runs one workload (a cold pass, a fixed warm-up, then passes until the
time window closes), checks every output, and writes its raw timings and
counters as JSON to ``--out``. Spark is driven only through the engine's
public functions; the layer split comes from spans around those calls
and from Spark's own status (see ``spans.py``).
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import sys
import time
import urllib.request

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import proctree  # noqa: E402
from inputs import PAGE_SIZE  # noqa: E402
from spans import JvmProbe, PlanningListener, Tracer, tracker_phases_ms  # noqa: E402

# The JVM-relational part of bench.py's frozen common-18 set.
ANALYTICS = (
    "q1_pricing_summary",
    "j1_inner_equi_join",
    "j6_broadcast_join",
    "j8_asof_join",
    "a8_pivot",
    "w1_row_number_latest",
    "o3_top_k_per_group",
    "x1_exact_dedup",
    "x1b_incremental_dedup",
    "t1_tumbling_window",
)
# Noop warm-up passes after the cold pass. analytics_mix also runs its
# oracle-check pass first, which warms the same plans. The steadiness
# report in run.py prints the drift that shows whether the warm-up ended.
WARMUP = {"analytics_mix": 0, "connector_etl": 3}
# The connector's window is a fixed number of passes rather than a time
# window: every pass appends a generation to the raw table that the next
# pass reads, so window pass k must see the same table (k + 4 generations)
# in every run, however fast the code is. The count is --seconds over the
# warm connector pass measured on a 4-core host.
CONNECTOR_PASS_S = 2.4


def warmup_passes(workload: str, trace: int) -> int:
    # a traced run needs one untraced noop pass as its overhead reference
    return max(WARMUP[workload], trace)


def connector_window(seconds: float) -> int:
    return max(1, round(seconds / CONNECTOR_PASS_S))


def connector_generations(seconds: float, trace: int) -> int:
    """Generations one connector run ingests: cold, warm-up, window."""
    return 1 + warmup_passes("connector_etl", trace) + connector_window(seconds)


RAW_NAME = "docs_api"
REST_SCHEMA = (
    "id BIGINT, version BIGINT, text STRING, lang STRING, "
    "geo STRUCT<`geo.country`: STRING, city: STRING>"
)


def force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Run:
    """State of one workload run: the session, the op log and the probes."""

    def __init__(self, spark, args, tracer: Tracer):
        from ssn_college_software_architecture_assignments__spark import registry

        self.spark, self.args, self.tr = spark, args, tracer
        self.qs = registry.all_queries()
        self.oracles = registry.all_oracles()
        self.probe = JvmProbe(spark) if tracer.enabled else None
        self.ops: list[dict] = []
        self.errors: list[str] = []
        self.passes: list[dict] = []
        self.pid = os.getpid()

    # -- bookkeeping ---------------------------------------------------------

    def record(self, phase: str, n_pass: int, kind: str, seconds: float, ok: bool,
               err: str | None = None, **extra) -> None:
        if not ok:
            self.errors.append(f"{phase}/{kind}: {err}")
        self.ops.append({"phase": phase, "pass": n_pass, "kind": kind, "s": seconds, "ok": ok, **extra})

    def counters(self) -> dict:
        """Cumulative counters, read between ops in traced runs only."""
        p = self.probe
        workers = {pid: st for pid, st in proctree.tree(self.pid).items() if pid != self.pid}
        compiles, compile_s = p.codegen()
        return {
            "job": p.next_job_id(),
            "compiles": compiles,
            "compile_s": compile_s,
            "gc_s": p.gc_s(),
            "pyworker_cpu_s": proctree.cpu_s(workers, only_python=True),
            "pyworker_procs": sum(1 for st in workers.values() if st[0].startswith("python")),
        }

    def layer_delta(self, before: dict) -> dict:
        after = self.counters()
        jobs = self.probe.jobs_summary(before["job"], after["job"])
        gc.collect()
        return {
            **jobs,
            "compiles": after["compiles"] - before["compiles"],
            "compile_s": after["compile_s"] - before["compile_s"],
            "gc_s": after["gc_s"] - before["gc_s"],
            "pyworker_cpu_s": after["pyworker_cpu_s"] - before["pyworker_cpu_s"],
            "pyworker_procs": after["pyworker_procs"],
            "persisted_frames": self.probe.persisted_frames(),
        }

    # -- the time window -------------------------------------------------------

    def timed_pass(self, phase: str, n: int, fn) -> None:
        steal0 = proctree.host_load()["steal_s"]
        t0 = time.perf_counter()
        with self.tr.span("pass"):
            fn(phase, n)
        wall = time.perf_counter() - t0
        steal = proctree.host_load()["steal_s"] - steal0
        self.passes.append({"phase": phase, "pass": n, "wall": wall, "steal_s": steal})

    def window_over(self, done: int, deadline: float) -> bool:
        """The window runs at least one pass and ends once ``--seconds``
        have elapsed."""
        return done > 0 and time.perf_counter() >= deadline

    def drive(self, one_pass) -> dict:
        """Cold pass, warm-up, then the window's passes. A traced run
        leaves the warm-up untraced: its last pass is the reference for
        the tracing overhead."""
        tr = self.tr
        traced = tr.enabled
        with tr.span("run"):
            self.timed_pass("cold", 0, one_pass)
            tr.enabled = False
            n = self.warmup(one_pass, 1)
            tr.enabled = traced
            deadline = time.perf_counter() + self.args.seconds
            cpu0 = proctree.cpu_s(proctree.tree(self.pid))
            first = n
            while not self.window_over(n - first, deadline):
                self.timed_pass("window", n, one_pass)
                n += 1
            cpu = proctree.cpu_s(proctree.tree(self.pid)) - cpu0
        return {"passes": n - first, "cpu_s": cpu}

    def warmup(self, one_pass, n: int) -> int:
        for _ in range(warmup_passes(self.args.workload, self.args.trace)):
            self.timed_pass("warmup", n, one_pass)
            n += 1
        return n


# analytics_mix ---------------------------------------------------------------------


class Analytics(Run):
    def __init__(self, spark, args, tracer):
        super().__init__(spark, args, tracer)
        self.planning = PlanningListener(spark) if tracer.enabled else None

    def run_query(self, phase: str, n_pass: int, name: str) -> None:
        tr, traced = self.tr, self.tr.enabled
        before = self.counters() if traced else None
        extra = {}
        t0 = time.perf_counter()
        try:
            with tr.span(name, op=True) as sp:
                with tr.span("registry.build") as b:
                    df = self.qs[name](self.spark, self.args.data)
                if traced:
                    # analysis ran eagerly when the DataFrame was built; the
                    # write plans the query again in an execution of its own
                    analysis = tracker_phases_ms(df._jdf.queryExecution()).get("analysis", 0.0)
                    self.planning.take()  # drop executions run by the registry call
                with tr.span("execute") as e:
                    force(df)
            seconds = time.perf_counter() - t0
            if traced:
                extra["catalyst"] = {"analysis_ms": analysis, **self.planning.take()}
            ok, err = True, None
        except Exception as exc:  # an op that raises counts as failed
            seconds, ok, err = time.perf_counter() - t0, False, repr(exc)[:300]
        df = None
        if traced and ok:
            extra["layers"] = {
                "registry.build": b["end"] - b["start"],
                "execute": e["end"] - e["start"],
            }
            extra["wall"] = sp["end"] - sp["start"]
            extra.update(self.layer_delta(before))
        self.record(phase, n_pass, name, seconds, ok, err, **extra)

    def one_pass(self, phase: str, n_pass: int) -> None:
        for name in ANALYTICS:
            self.run_query(phase, n_pass, name)

    def check_pass(self, n_pass: int) -> None:
        """Untimed warm-up pass that collects every query and compares it
        with its DuckDB oracle through tools/check_oracle's sweep."""
        from tools.check_oracle import run_sweep

        sweep = run_sweep(self.spark, self.args.data, list(ANALYTICS), self.qs, self.oracles)
        for name, status in sweep["queries"].items():
            ok = status == "pass"
            self.record("check", n_pass, name, 0.0, ok, None if ok else f"oracle check: {status}")

    def warmup(self, one_pass, n: int) -> int:
        self.timed_pass("check", n, lambda _phase, k: self.check_pass(k))
        return super().warmup(one_pass, n + 1)


# connector_etl ----------------------------------------------------------------------


class Connector(Run):
    def __init__(self, spark, args, tracer):
        super().__init__(spark, args, tracer)
        from inputs import ConnectorOracle

        self.url = args.server
        self.base = os.path.join(args.work, "lake")
        self.path = os.path.join(self.base, f"{RAW_NAME}_raw")
        self.oracle = ConnectorOracle(args.seed, args.records)
        self.gen = 0

    def window_over(self, done: int, deadline: float) -> bool:
        return done >= connector_window(self.args.seconds)

    def server_stats(self) -> dict:
        with urllib.request.urlopen(self.url + "/stats", timeout=30) as resp:
            return json.loads(resp.read())

    def extract(self, gen: int):
        from ssn_college_software_architecture_assignments__spark.sources.rest import read_rest

        # 40 pages of 500 in 4 page-range partitions
        return read_rest(
            self.spark, self.url, "records", schema=REST_SCHEMA, page_size=PAGE_SIZE,
            pages_per_partition=max(1, -(-self.args.records // PAGE_SIZE) // 4),
            params=json.dumps({"gen": gen}),
        )

    def pipeline(self, gen: int):
        from pyspark.sql import functions as F

        from ssn_college_software_architecture_assignments__spark.operators.projections import (
            sanitize_field_names,
        )
        from ssn_college_software_architecture_assignments__spark.plans.pipeline import Pipeline

        return (
            Pipeline(name=RAW_NAME, source=lambda s: self.extract(gen))
            .transform(lambda df: df.filter(F.length(F.trim("text")) > 0))
            .transform(sanitize_field_names)
            .transform(lambda df: df.select(
                "id", "version",
                F.trim("text").alias("text"),
                F.lower(F.trim("lang")).alias("lang"),
                F.length(F.trim("text")).alias("n_chars"),
                "geo",
            ))
        )

    def raw_query(self) -> dict:
        """Latest row per id over the accumulated raw table, then totals
        per language."""
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        raw = self.spark.read.parquet(self.path)
        latest = raw.withColumn(
            "rn", F.row_number().over(Window.partitionBy("id").orderBy(F.col("version").desc()))
        ).filter("rn = 1")
        rows = latest.groupBy("lang").agg(
            F.count("*").alias("n"), F.sum("n_chars").alias("chars")
        ).collect()
        return {r["lang"]: (r["n"], r["chars"]) for r in rows}

    def sink_files(self) -> tuple[int, float]:
        n, size = 0, 0
        for d, _, files in os.walk(self.path):
            for f in files:
                if f.endswith(".parquet"):
                    n += 1
                    size += os.path.getsize(os.path.join(d, f))
        return n, size / 2**20

    def ingest_traced(self, gen: int) -> tuple:
        """The ingest as three separately timed calls: extract alone
        (noop write), the transformed frame cached, then the validated
        insert of that cache."""
        from ssn_college_software_architecture_assignments__spark.sources.sink import (
            validated_insert,
        )

        tr, layers = self.tr, {}
        s0 = self.server_stats()
        c0 = self.counters()
        with tr.span("rest.extract") as sp:
            force(self.extract(gen))
        layers["rest.extract"] = sp["end"] - sp["start"]
        s1 = self.server_stats()
        rest = self.layer_delta(c0)
        files0 = self.sink_files()
        df = None
        try:
            with tr.span("pipeline.build") as sp:
                df = self.pipeline(gen).dataframe(self.spark).cache()
                df.count()
            layers["pipeline.build"] = sp["end"] - sp["start"]
            with tr.span("sink.insert") as sp:
                report = validated_insert(df, RAW_NAME, self.base)
            layers["sink.insert"] = sp["end"] - sp["start"]
        finally:
            if df is not None:
                df.unpersist()
        files1 = self.sink_files()
        extra = {
            "layers": layers,
            "rest": {
                "requests": s1["requests"] - s0["requests"],
                "data_pages": s1["data_pages"] - s0["data_pages"],
                "partitions": rest["first_stage_tasks"],
                "server_cpu_s": s1["cpu_s"] - s0["cpu_s"],
            },
            "sink": {"files": files1[0] - files0[0], "mb": files1[1] - files0[1]},
        }
        return report, extra

    def one_pass(self, phase: str, n_pass: int) -> None:
        tr, traced = self.tr, self.tr.enabled
        self.gen += 1
        gen = self.gen
        expect_rows, expect_totals = self.oracle.ingest(gen)

        before = self.counters() if traced else None
        t0 = time.perf_counter()
        extra, err = {}, None
        try:
            with tr.span("ingest", op=True) as sp:
                if traced:
                    report, extra = self.ingest_traced(gen)
                else:
                    report = self.pipeline(gen).run(self.spark, self.base)
            seconds = time.perf_counter() - t0
            ok = report.consistent and report.n_written == expect_rows
            if not ok:
                err = f"InsertReport {report} but {expect_rows} rows expected"
            extra["rows"] = report.n_written
        except Exception as exc:
            seconds, ok, err = time.perf_counter() - t0, False, repr(exc)[:300]
        if traced and ok:
            extra["wall"] = sp["end"] - sp["start"]
            extra.update(self.layer_delta(before))
        self.record(phase, n_pass, "ingest", seconds, ok, err, **extra)

        before = self.counters() if traced else None
        extra, err = {}, None
        t0 = time.perf_counter()
        try:
            with tr.span("raw_query", op=True) as sp:
                with tr.span("raw.read") as rd:
                    got = self.raw_query()
            seconds = time.perf_counter() - t0
            ok = got == expect_totals
            if not ok:
                err = f"raw-table checksum {got} != expected {expect_totals}"
        except Exception as exc:
            seconds, ok, err = time.perf_counter() - t0, False, repr(exc)[:300]
        if traced and ok:
            extra["layers"] = {"raw.read": rd["end"] - rd["start"]}
            extra["wall"] = sp["end"] - sp["start"]
            extra.update(self.layer_delta(before))
        self.record(phase, n_pass, "raw_query", seconds, ok, err, **extra)

    def drive(self, one_pass) -> dict:
        s0 = self.server_stats()
        out = super().drive(one_pass)
        s1 = self.server_stats()
        out["server_cpu_s"] = s1["cpu_s"] - s0["cpu_s"]
        out["server_requests"] = s1["requests"] - s0["requests"]
        # the landed schema must be legal for a document store
        from ssn_college_software_architecture_assignments__spark.sources.mongomock import (
            check_schema_keys,
        )

        t0 = time.perf_counter()
        try:
            check_schema_keys(self.spark.read.parquet(self.path).schema)
            self.record("check", -1, "schema_keys", time.perf_counter() - t0, True)
        except Exception as exc:
            self.record("check", -1, "schema_keys", time.perf_counter() - t0, False, repr(exc)[:300])
        return out


# entry point ------------------------------------------------------------------------


def fingerprint(spark) -> dict:
    import pyspark

    sc = spark.sparkContext
    jvm = spark._jvm
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "master": sc.master,
        "defaultParallelism": sc.defaultParallelism,
        "driver_memory": sc.getConf().get("spark.driver.memory", None),
        "driver_heap_max_mb": jvm.java.lang.Runtime.getRuntime().maxMemory() / 2**20,
        "pyspark": pyspark.__version__,
        "java": jvm.System.getProperty("java.version"),
    }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=tuple(WARMUP))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--root", required=True, help="checkout holding the engine package")
    ap.add_argument("--work", required=True, help="scratch directory for this run")
    ap.add_argument("--data", default="", help="fixture table directory (analytics_mix)")
    ap.add_argument("--server", default="", help="REST stand-in base URL (connector_etl)")
    ap.add_argument("--records", type=int, default=0)
    ap.add_argument("--spawn-time", type=float, required=True)
    ap.add_argument("--spans", default="", help="where a traced run writes its spans")
    ap.add_argument("--setup-only", action="store_true")
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    sys.path.insert(0, args.root)

    from ssn_college_software_architecture_assignments__spark import build_session, registry

    t_a = time.time()
    spark = build_session(
        app_name="perfbench",
        extra_confs={
            # keep the JVM's temp files (and no perf-data file) out of /tmp
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={args.work}/tmp -XX:-UsePerfData",
        },
    )
    t_b = time.time()
    registry.load_all()
    t_ready = time.time()
    result = {
        "setup": {
            "setup_s": t_ready - args.spawn_time,
            "session.build_s": t_b - t_a,
            "registry.load_s": t_ready - t_b,
        }
    }
    try:
        if not args.setup_only:
            fp = fingerprint(spark)
            result["fingerprint"] = fp
            if str(fp["defaultParallelism"]) != str(fp["SPARK_GRAFT_CPUS"]):
                print(
                    f"refusing to run: defaultParallelism={fp['defaultParallelism']} "
                    f"but SPARK_GRAFT_CPUS={fp['SPARK_GRAFT_CPUS']}",
                    file=sys.stderr,
                )
                return 3
            tracer = Tracer(bool(args.trace))
            cls = Analytics if args.workload == "analytics_mix" else Connector
            run = cls(spark, args, tracer)
            result["window"] = run.drive(run.one_pass)
            result["ops"] = run.ops
            result["passes"] = run.passes
            result["errors"] = run.errors
            if tracer.enabled:
                result["heap_peak_mb"] = run.probe.heap_peak_mb()
                tracer.dump(args.spans)
    finally:
        spark.stop()
    with open(args.out, "w", encoding="utf-8") as fh:
        json.dump(result, fh)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
