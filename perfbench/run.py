"""Benchmark entry point.

    python3 perfbench/run.py --workload connector_etl --seed 1 --seconds 15 --trace 0

Makes the workload's inputs from ``--seed``, starts the REST stand-in when
the workload needs one, times two setup-only processes, then starts the
measured program (``program.py``) in a fresh process and samples the
memory of its process tree (driver, JVM, Python workers) until it exits.
Prints a human-readable report, then, as the last line, one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones, with ``--trace 1`` the per-layer ones.
See README.md in this directory for what each metric means.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import proctree  # noqa: E402
from program import ANALYTICS, connector_generations  # noqa: E402

PACKAGE = "ssn_college_software_architecture_assignments__spark"
WORKLOADS = ("connector_etl", "analytics_mix")
SETUP_PROBES = 1  # extra setup-only process; setup_s is the median of 2 samples
DRIVER_MEMORY = "1g"  # below host RAM; the engine's default is 48g
DEADLINE_S = 170.0  # a run must exit within 180 s
SERVER_CPU_SHARE_FLAG = 0.25  # flag a run whose load generator is this busy

# cold_s is reported but not listed: it is one sample per run, and host
# steal moved it by up to 28% (IQR/median over ten seeds) on a 4-core VM.
END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "cpu_s": "s",
    "peak_rss_mb": "MB",
}

PER_LAYER = {
    "session.build_s": "s",
    "registry.load_s": "s",
    "registry.build_s": "s",
    **{f"op.{q}.s": "s" for q in ANALYTICS + ("ingest", "raw_query")},
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "catalyst.cold_ms": "ms",
    "codegen.compiles": "count",
    "codegen.compile_s": "s",
    "codegen.cold_compiles": "count",
    "codegen.cold_compile_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "exec.wall_s": "s",
    "exec.run_s": "s",
    "shuffle.read_mb": "MB",
    "shuffle.write_mb": "MB",
    "spill.mb": "MB",
    "rest.extract_s": "s",
    "rest.requests": "count",
    "rest.useful_ratio": "ratio",
    "rest.partitions": "count",
    "mock_api.cpu_s": "s",
    "pipeline.build_s": "s",
    "sink.insert_s": "s",
    "sink.files": "count",
    "sink.mb": "MB",
    "scratch.persisted_frames": "count",
    "pyworker.procs": "count",
    "pyworker.cpu_s": "s",
    "jvm.gc_s": "s",
    "jvm.heap_peak_mb": "MB",
    "trace.pass_s": "s",
    "trace.overhead": "ratio",
    "trace.coverage": "ratio",
    "trace.op_self_s": "s",
    "trace.pass_self_s": "s",
}


def log(msg: str) -> None:
    print(msg, flush=True)


def median(xs, default=0.0) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else default


def iqr_share(xs) -> float:
    xs = list(xs)
    if len(xs) < 2 or not median(xs):
        return 0.0
    q = statistics.quantiles(xs, n=4)
    return (q[2] - q[0]) / median(xs)


def tail_percentile(xs) -> tuple[float | None, int | None]:
    """The highest percentile with at least ten samples beyond it, as
    (value, percentile); (None, None) when fewer than 11 samples."""
    xs = sorted(xs)
    k = len(xs) - 10
    if k < 1:
        return None, None
    return xs[k - 1], round(100 * k / len(xs))


class Tree:
    """Watches a child's process tree: peak summed PSS, and every pid seen
    so the caller can wait for the JVM and workers to exit too."""

    def __init__(self, proc: subprocess.Popen):
        self.proc, self.peak_mb, self.peak_by_comm = proc, 0.0, {}
        self.pids: dict[int, str] = {}  # pid -> start time, to never kill a reused pid
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._sample, daemon=True)
        self._thread.start()

    def _sample(self) -> None:
        while not self._stop.is_set():
            stats = proctree.tree(self.proc.pid)
            self.pids.update({pid: st[20] for pid, st in stats.items()})
            mb = proctree.pss_mb(stats)
            if self.proc.poll() is None and mb > self.peak_mb:
                self.peak_mb = mb
                self.peak_by_comm = {}
                for pid, st in stats.items():
                    self.peak_by_comm[st[0]] = self.peak_by_comm.get(st[0], 0) + proctree.pss_mb({pid: st})
            self._stop.wait(0.25)

    def finish(self, timeout: float) -> None:
        """Stop sampling; kill what is left of the tree after ``timeout``."""
        self._stop.set()
        self._thread.join()
        end = time.time() + timeout
        while time.time() < end and self._alive():
            time.sleep(0.1)
        for pid in self._alive():
            try:
                os.kill(pid, signal.SIGKILL)
            except OSError:
                pass
        try:
            self.proc.wait(timeout=5)
        except subprocess.TimeoutExpired:
            pass

    def _alive(self) -> list[int]:
        out = []
        for pid, start in self.pids.items():
            st = proctree.stat(pid)
            if st is not None and st[20] == start and st[1] != "Z":
                out.append(pid)
        return out


def run_program(argv: list[str], env: dict, log_path: str, deadline: float) -> tuple[dict, float]:
    """Run program.py to completion; returns (its result JSON, peak MB)."""
    out_path = log_path + ".json"
    spawn = time.time()
    with open(log_path, "ab") as err:
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "program.py"), *argv,
             "--spawn-time", repr(spawn), "--out", out_path],
            env=env, cwd=os.path.dirname(log_path),
            stdin=subprocess.DEVNULL, stdout=err, stderr=err,
        )
        tree = Tree(proc)
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            code = None
        finally:
            tree.finish(timeout=20 if code is not None else 0)
    if code != 0:
        with open(log_path, encoding="utf-8", errors="replace") as fh:
            tail = fh.read()[-3000:]
        raise RuntimeError(f"program exited with {code}:\n{tail}")
    with open(out_path, encoding="utf-8") as fh:
        result = json.load(fh)
    result["peak_by_comm"] = {k: round(v) for k, v in tree.peak_by_comm.items()}
    return result, tree.peak_mb


class Server:
    """The REST stand-in in its own process."""

    def __init__(self, seed: int, records: int, generations: int, workers: int, log_path: str):
        self._err = open(log_path, "ab")
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "server.py"), "--seed", str(seed),
             "--records", str(records), "--generations", str(generations),
             "--workers", str(workers)],
            stdin=subprocess.DEVNULL, stdout=subprocess.PIPE, stderr=self._err, text=True,
        )
        line = self.proc.stdout.readline().split()
        if len(line) != 2 or line[0] != "PORT":
            self.close()
            raise RuntimeError("REST stand-in failed to start")
        self.url = f"http://127.0.0.1:{line[1]}"

    def close(self) -> None:
        if self.proc.poll() is None:
            self.proc.send_signal(signal.SIGINT)
            try:
                self.proc.wait(timeout=10)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait()
        self.proc.stdout.close()
        self._err.close()


# metrics ---------------------------------------------------------------------------


def passes(ops: list[dict], phase: str) -> dict[int, list[dict]]:
    out: dict[int, list[dict]] = {}
    for op in ops:
        if op["phase"] == phase:
            out.setdefault(op["pass"], []).append(op)
    return out


def pass_seconds(ops: list[dict], phase: str) -> list[float]:
    return [sum(o["s"] for o in p) for p in passes(ops, phase).values()]


def end_to_end(result: dict, setup: list[float], peak_mb: float) -> dict:
    ops, window = result["ops"], result["window"]
    return {
        "setup_s": median(setup),
        "pass_s": median(pass_seconds(ops, "window")),
        "cpu_s": window["cpu_s"] / window["passes"],
        "peak_rss_mb": peak_mb,
    }


def per_layer(result: dict) -> dict:
    ops = result["ops"]
    win = [o for o in ops if o["phase"] == "window" and "wall" in o]
    cold = [o for o in ops if o["phase"] == "cold" and "wall" in o]
    by_pass = passes(win, "window")

    def per_pass(fn) -> float:
        return median(sum(fn(o) for o in p) for p in by_pass.values())

    def layer(o, name) -> float:
        return o.get("layers", {}).get(name, 0.0)

    def write_planning_s(o) -> float:
        cat = o.get("catalyst", {})
        return (cat.get("optimization_ms", 0.0) + cat.get("planning_ms", 0.0)) / 1e3

    def of_kind(kind, fn) -> float:
        return median(fn(o) for o in win if o["kind"] == kind)

    ingest = lambda fn: of_kind("ingest", fn)  # noqa: E731
    plog = result["passes"]
    win_passes = [p for p in plog if p["phase"] == "window"]
    traced_pass = median(p["wall"] for p in win_passes)
    untraced_ref = [p["wall"] for p in plog if p["phase"] == "warmup"][-1]
    pass_self = median(
        p["wall"] - sum(o["wall"] for o in by_pass.get(p["pass"], ())) for p in win_passes
    )
    return {
        "session.build_s": result["setup"]["session.build_s"],
        "registry.load_s": result["setup"]["registry.load_s"],
        "registry.build_s": per_pass(lambda o: layer(o, "registry.build")),
        **{f"op.{k}.s": of_kind(k, lambda o: o["wall"]) for k in ANALYTICS + ("ingest", "raw_query")},
        **{
            f"catalyst.{k}": per_pass(lambda o, k=k: o.get("catalyst", {}).get(k, 0.0))
            for k in ("analysis_ms", "optimization_ms", "planning_ms")
        },
        "catalyst.cold_ms": sum(sum(o.get("catalyst", {}).values()) for o in cold),
        "codegen.compiles": per_pass(lambda o: o["compiles"]),
        "codegen.compile_s": per_pass(lambda o: o["compile_s"]),
        "codegen.cold_compiles": sum(o["compiles"] for o in cold),
        "codegen.cold_compile_s": sum(o["compile_s"] for o in cold),
        "spark.jobs": per_pass(lambda o: o["jobs"]),
        "spark.stages": per_pass(lambda o: o["stages"]),
        "spark.tasks": per_pass(lambda o: o["tasks"]),
        "exec.wall_s": per_pass(
            lambda o: o["wall"] - layer(o, "registry.build") - write_planning_s(o)
        ),
        "exec.run_s": per_pass(lambda o: o["run_s"]),
        "shuffle.read_mb": per_pass(lambda o: o["shuffle_read_mb"]),
        "shuffle.write_mb": per_pass(lambda o: o["shuffle_write_mb"]),
        "spill.mb": per_pass(lambda o: o["spill_mb"]),
        "rest.extract_s": ingest(lambda o: layer(o, "rest.extract")),
        "rest.requests": ingest(lambda o: o["rest"]["requests"]),
        "rest.useful_ratio": ingest(lambda o: o["rest"]["data_pages"] / o["rest"]["requests"]),
        "rest.partitions": ingest(lambda o: o["rest"]["partitions"]),
        "mock_api.cpu_s": ingest(lambda o: o["rest"]["server_cpu_s"]),
        "pipeline.build_s": ingest(lambda o: layer(o, "pipeline.build")),
        "sink.insert_s": ingest(lambda o: layer(o, "sink.insert")),
        "sink.files": ingest(lambda o: o["sink"]["files"]),
        "sink.mb": ingest(lambda o: o["sink"]["mb"]),
        "scratch.persisted_frames": max((o["persisted_frames"] for o in win), default=0),
        "pyworker.procs": max((o["pyworker_procs"] for o in win), default=0),
        "pyworker.cpu_s": per_pass(lambda o: o["pyworker_cpu_s"]),
        "jvm.gc_s": per_pass(lambda o: o["gc_s"]),
        "jvm.heap_peak_mb": result["heap_peak_mb"],
        "trace.pass_s": traced_pass,
        "trace.overhead": traced_pass / untraced_ref if untraced_ref else 0.0,
        "trace.coverage": min(
            (sum(o["layers"].values()) / o["wall"] for o in win + cold), default=0.0
        ),
        "trace.op_self_s": per_pass(lambda o: o["wall"] - sum(o["layers"].values())),
        "trace.pass_self_s": pass_self,
    }


# report ----------------------------------------------------------------------------


def steadiness(label: str, xs: list[float]) -> None:
    """Drift of the window (median of its last third against its first
    third) and the window's own IQR. A window still falling by more than
    10% means the fixed warm-up did not end the downward trend."""
    third = max(1, len(xs) // 3)
    first, last = median(xs[:third]), median(xs[-third:])
    drift = last / first - 1 if first else 0.0
    flag = "  WARM-UP DID NOT END" if drift < -0.10 else ""
    log(f"steadiness {label}: n={len(xs)} drift={drift:+.3f} "
        f"iqr/median={iqr_share(xs):.3f}{flag}")


def report(workload: str, result: dict, setup: list[float]) -> None:
    fp = result["fingerprint"]
    log("fingerprint " + json.dumps(fp, sort_keys=True))
    log(f"setup_s samples {[round(x, 3) for x in setup]}")
    log(f"peak PSS by process name (MB) {result['peak_by_comm']}")
    ops = result["ops"]
    for phase in ("cold", "check", "warmup", "window"):
        walls = [(round(p["wall"], 3), round(p["steal_s"], 2))
                 for p in result["passes"] if p["phase"] == phase]
        if walls:
            log(f"{phase} pass (wall, host steal) {walls}")
    log(f"cold_s={sum(pass_seconds(ops, 'cold')):.4f} (first pass in the fresh session)")
    steadiness("pass_s", pass_seconds(ops, "window"))
    kinds = dict.fromkeys(o["kind"] for o in ops if o["phase"] == "window")
    log("op medians " + " ".join(
        f"{k}={median(o['s'] for o in ops if o['phase'] == 'window' and o['kind'] == k):.3f}"
        for k in kinds))
    if workload == "connector_etl":
        ing = [o for o in ops if o["phase"] == "window" and o["kind"] == "ingest"]
        secs = [o["s"] for o in ing]
        steadiness("ingest", secs)
        tail, pct = tail_percentile(secs)
        win = result["window"]
        n_ingests = sum(1 for o in ops if o["kind"] == "ingest")
        server_cpu = win["server_cpu_s"] / max(1, n_ingests)
        p50 = median(secs)
        log(f"ingest_p50_s={p50:.4f} ingest_tail_s={tail} (p{pct}, n={len(secs)})")
        log(f"records_per_s={median(o['rows'] / o['s'] for o in ing if 'rows' in o):.1f} "
            f"raw_query_s={median(o['s'] for o in ops if o['phase'] == 'window' and o['kind'] == 'raw_query'):.4f}")
        flag = "  LOAD GENERATOR BUSY" if p50 and server_cpu >= SERVER_CPU_SHARE_FLAG * p50 else ""
        log(f"mock_api.cpu_s per ingest={server_cpu:.4f} "
            f"requests per ingest={win['server_requests'] / max(1, n_ingests):.1f}{flag}")
    attempted = len(ops)
    failed = sum(1 for o in ops if not o["ok"])
    log(f"fail_ratio={failed / attempted:.4f} ({failed} of {attempted} ops)")
    for e in result["errors"][:10]:
        log(f"  failed: {e}")


def spans_path(workload: str, seed: int) -> str:
    """Where a traced run leaves its spans (kept after the run)."""
    return os.path.join(ROOT, ".perfbench_work", f"spans-{workload}-{seed}.json")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true",
                    help="sf0.001-sized tables and 500 REST records (smoke test)")
    args = ap.parse_args()
    started = time.time()
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)) or not os.path.isfile(
        os.path.join(ROOT, "tools", "check_oracle.py")
    ):
        print(f"{ROOT} holds no {PACKAGE} package to benchmark", file=sys.stderr)
        return 2

    import inputs

    nproc = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    for sub in ("tmp", "local", "proc"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    env = dict(os.environ)
    env["SPARK_GRAFT_CPUS"] = env.get("SPARK_GRAFT_CPUS") or str(nproc)
    env.update({
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "TMPDIR": os.path.join(work, "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        # makes the engine importable by Python workers without shipping a zip
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p),
    })
    host_before = proctree.host_load()
    deadline = started + DEADLINE_S
    server = None
    try:
        argv = ["--workload", args.workload, "--seed", str(args.seed),
                "--seconds", str(args.seconds), "--trace", str(args.trace),
                "--root", ROOT, "--work", work, "--spans", spans_path(args.workload, args.seed)]
        if args.workload == "analytics_mix":
            rows = inputs.TINY_ROWS if args.tiny else inputs.ANALYTICS_ROWS
            argv += ["--data", inputs.write_analytics(args.seed, os.path.join(work, "data"), rows)]
        else:
            records = 500 if args.tiny else inputs.CONNECTOR_RECORDS
            server = Server(args.seed, records, connector_generations(args.seconds, args.trace),
                            nproc, os.path.join(work, "server.log"))
            argv += ["--server", server.url, "--records", str(records)]
        timeline = {"inputs": time.time() - started}
        setup = []
        for i in range(SETUP_PROBES):
            probe, _ = run_program(
                argv + ["--setup-only"], env, os.path.join(work, "proc", f"setup{i}.log"), deadline
            )
            setup.append(probe["setup"]["setup_s"])
        timeline["probes"] = time.time() - started
        result, peak_mb = run_program(argv, env, os.path.join(work, "proc", "main.log"), deadline)
        timeline["program"] = time.time() - started
        setup.append(result["setup"]["setup_s"])
    finally:
        if server is not None:
            server.close()
        shutil.rmtree(work, ignore_errors=True)
    host_after = proctree.host_load()

    timeline["end"] = time.time() - started
    log("timeline (s since start) " + " ".join(f"{k}={v:.1f}" for k, v in timeline.items()))
    log(f"host before {host_before} after {host_after} "
        f"steal_s during run={host_after['steal_s'] - host_before['steal_s']:.2f}")
    report(args.workload, result, setup)
    if args.trace:
        values, units = per_layer(result), PER_LAYER
    else:
        values, units = end_to_end(result, setup, peak_mb), END_TO_END
    ops = result["ops"]
    failed = sum(1 for o in ops if not o["ok"])
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
