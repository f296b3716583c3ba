"""Benchmark of the PySpark analytics engine: one closed-loop client
running one workload's ops on local[N].

    python3 perfbench/run.py --workload warehouse_sql --seed 1 --seconds 14 --trace 0
    python3 perfbench/run.py --smoke

A run reads the package's fixed test tables at the workload's scale,
sets the engine up, checks every op's output once against DuckDB (the
verification pass), runs one untimed warm-up pass, then runs whole
passes over the workload's ops, each in an order the seed shuffles, for
about ``--seconds``. With ``--trace 0`` it reports the
end-to-end metrics of BENCHMARK.json; with ``--trace 1`` it alternates
untraced and traced passes and reports the per-layer metrics, writing
the spans to perfbench/results/. The last stdout line is one JSON
object. A human-readable table goes to stderr.

Everything the run writes (Spark scratch, event logs, sink
output, spark-warehouse) lives under perfbench/.scratch/ and is removed
at exit. ``--smoke`` runs every workload once at the smallest size, in
both modes, and checks that every metric of BENCHMARK.json is reported
with its unit and that no op failed.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time
from contextlib import nullcontext
from pathlib import Path
from types import SimpleNamespace

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PACKAGE = "data_warehouse_data_mining_spark"
# two task threads leave two cores of a 4-core host to the driver, the
# JVM's own threads and the Python workers; at four, run-to-run spread
# on a shared host was larger and no workload ran faster
MAX_THREADS = 2
DRIVER_MEMORY = "1g"
MB = 2**20


def log(*parts) -> None:
    print(*parts, file=sys.stderr, flush=True)


# ---- engine set-up ---------------------------------------------------------


def import_layers() -> SimpleNamespace:
    return SimpleNamespace(**{
        attr: importlib.import_module(f"{PACKAGE}.{mod}")
        for attr, mod in [
            ("catalog", "catalog"), ("oracle", "oracle"), ("writers", "sinks.writers"),
            ("classify", "ml.classify"), ("balance", "ml.balance"),
        ]
    })


def spark_conf(scratch: Path, trace: bool) -> dict[str, str]:
    conf = {
        "spark.sql.warehouse.dir": str(scratch / "spark-warehouse"),
        "spark.local.dir": str(scratch / "local"),
        # the JVM writes no hsperfdata file outside the checkout
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={scratch / 'tmp'} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": (scratch / "eventlog").as_uri(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def jvm_pid() -> int:
    """The pid of the JVM pyspark launched for this session."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is None:
        raise RuntimeError("the Spark JVM was not launched by this process")
    return proc.pid


def stop_engine() -> None:
    """Stop the Spark context, then the JVM and the Python workers below
    it, and wait until each has exited. Does nothing if none is running."""
    from pyspark import SparkContext

    import procstat

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    tree = procstat.tree(proc.pid) if proc is not None else []
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    for pid in tree:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            os.kill(pid, 9)


# ---- one run ---------------------------------------------------------------


class Run:
    def __init__(self, workload, seed: int, seconds: float, trace: bool,
                 scratch: Path):
        import workloads as W

        self.W = W
        self.wl = W.WORKLOADS[workload] if isinstance(workload, str) else workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.scratch = scratch
        self.n = min(MAX_THREADS, len(os.sched_getaffinity(0)))
        self.failures: list[str] = []
        self.attempted = 0

    def shuffled(self, rng: random.Random) -> list[str]:
        groups = list(self.wl.groups)
        rng.shuffle(groups)
        return [op for g in groups for op in g]

    def set_up(self, tracer) -> dict[str, float]:
        """Start the session, import the package and open every table."""
        t0 = t = time.perf_counter()
        session = importlib.import_module(f"{PACKAGE}.session")
        self.spark = session.get_session(
            app_name=f"perfbench-{self.wl.name}", master=f"local[{self.n}]",
            driver_memory=DRIVER_MEMORY, extra_conf=spark_conf(self.scratch, self.trace),
        )
        get_session_s = time.perf_counter() - t
        t = time.perf_counter()
        registry = importlib.import_module(f"{PACKAGE}.registry")
        queries = registry.all_queries()
        all_queries_s = time.perf_counter() - t
        mods = import_layers()
        if tracer is not None:
            tracer.sc = self.spark.sparkContext
            tracer.install(mods)
        t = time.perf_counter()
        cat = mods.catalog.load(self.spark, str(self.data_dir))
        for name in mods.catalog.TABLE_NAMES:
            cat.table(name)
        table_open_s = time.perf_counter() - t
        self.duck = mods.oracle.duckdb_connection(str(self.data_dir))
        self.ops = self.W.make_ops(
            self.wl, self.spark, queries, mods, str(self.data_dir),
            str(self.scratch / "sink"), self.duck,
        )
        times = {
            "setup_s": time.perf_counter() - t0,
            "get_session_s": get_session_s,
            "all_queries_s": all_queries_s,
            "table_open_s": table_open_s,
        }
        log("perfbench: set-up " + ", ".join(f"{k} {v:.3f}" for k, v in times.items()))
        return times

    def verification_pass(self) -> None:
        """Check every op's output once. Not part of set-up time: the
        oracle queries and the collects exist only for checking."""
        t0 = time.perf_counter()
        took = []
        for name in self.shuffled(random.Random(self.seed - 1)):
            self.attempted += 1
            t = time.perf_counter()
            try:
                err = self.ops[name].verify()
            except Exception as exc:  # a failed op is a result, not a crash
                err = f"raised {exc!r}"[:500]
            took.append(f"{name} {time.perf_counter() - t:.3f}")
            if err is not None:
                self.failures.append(f"verify {name}: {err}")
        log(f"perfbench: verification pass {time.perf_counter() - t0:.3f} s: " + ", ".join(took))

    def warm_up_pass(self) -> float:
        """One untimed pass, counted in set-up time. After the cold
        verification pass, JIT compilation still made the next pass up to
        half again as slow, which changed how many timed passes fit in
        the window."""
        t = time.perf_counter()
        for name in self.shuffled(random.Random(self.seed - 2)):
            try:
                self.ops[name].sink(self.ops[name].build())
            except Exception:  # counted by the verification and timed passes
                pass
        return time.perf_counter() - t

    def run_op(self, name: str, tracer=None) -> float | None:
        op = self.ops[name]
        self.attempted += 1
        t = time.perf_counter()
        try:
            if tracer is None or not tracer.active:
                op.sink(op.build())
            else:
                tracer.op = name
                with tracer.span(name, "op"):
                    with tracer.span("build", "build", "build"):
                        df = op.build()
                    with tracer.span("plan", "plan", "plan"):
                        df._jdf.queryExecution().executedPlan()
                    with tracer.span("exec", "exec", "exec"):
                        op.sink(df)
        except Exception as exc:  # a failed op is a result, not a crash
            self.failures.append(f"{name}: {exc!r}"[:500])
            return None
        return time.perf_counter() - t

    def execute(self) -> dict:
        import procstat
        import spans as tr

        load = os.getloadavg()
        log(f"perfbench: workload={self.wl.name} seed={self.seed} N={self.n} "
            f"trace={int(self.trace)} loadavg={load[0]:.2f},{load[1]:.2f},{load[2]:.2f}")
        for sub in ("tmp", "local", "eventlog", "sink"):
            (self.scratch / sub).mkdir(parents=True, exist_ok=True)
        self.data_dir = Path(self.W.data_dir(self.wl.sf))
        tracer = tr.Tracer(self.wl.name) if self.trace else None
        setup = self.set_up(tracer)
        sampler = procstat.ProcSampler(jvm_pid())
        self.verification_pass()
        setup["warm_up_s"] = self.warm_up_pass()
        setup["setup_s"] += setup["warm_up_s"]

        rng = random.Random(self.seed)
        passes = []
        sampler.start()
        t_start = time.perf_counter()
        while True:
            traced = self.trace and len(passes) % 2 == 1
            if tracer is not None:
                tracer.active = traced
            cpu0 = sampler.cpu()
            t0 = time.perf_counter()
            with tracer.span(f"pass {len(passes)}", "pass") if traced else nullcontext():
                order = self.shuffled(rng)
                lat = [self.run_op(name, tracer) for name in order]
            cpu1 = sampler.cpu()
            wall = time.perf_counter() - t0
            log(f"perfbench: pass {len(passes)}{' traced' if traced else ''}: "
                + ", ".join(f"{n} {x if x is None else round(x, 3)}" for n, x in zip(order, lat)))
            if tracer is not None:
                tracer.active = False
            passes.append({
                "traced": traced, "wall": wall, "lat": lat,
                "cpu": {k: cpu1[k] - cpu0[k] for k in cpu0},
                "storage": self.storage() if self.trace else None,
            })
            # whole passes until the window is within half a pass of its
            # end; at least two when tracing, one untraced and one traced
            elapsed = time.perf_counter() - t_start
            more = elapsed + elapsed / len(passes) / 2 <= self.seconds
            if not more and (not self.trace or len(passes) >= 2):
                break
        elapsed = time.perf_counter() - t_start
        peaks = sampler.peaks()

        if self.trace:
            app_id = self.spark.sparkContext.applicationId
        sink_dir = self.scratch / "sink"
        files = [p for p in sink_dir.rglob("*.parquet")]
        written_mb = sum(p.stat().st_size for p in files) / MB
        stop_engine()
        self.duck.close()

        common = {"passes": passes, "peaks": peaks, "setup": setup, "elapsed": elapsed}
        if self.trace:
            tracer.attach_event_log(str(self.scratch / "eventlog" / app_id))
            tracer.finish()
            metrics = self.layer_metrics(tracer, len(files), written_mb, **common)
            out = HERE / "results" / f"spans-{self.wl.name}-seed{self.seed}.json"
            tracer.write(str(out))
            log(f"perfbench: {len(tracer.spans)} spans written to {out.relative_to(ROOT)}")
        else:
            metrics = self.e2e_metrics(**common)
        failed = len(self.failures)
        for f in self.failures:
            log(f"perfbench: FAILED {f}")
        return {
            "correct": failed == 0,
            "attempted": self.attempted,
            "failed": failed,
            "metrics": metrics,
        }

    def storage(self) -> tuple[int, float]:
        infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        blocks = sum(i.numCachedPartitions() for i in infos)
        size = sum(i.memSize() + i.diskSize() for i in infos)
        return blocks, size / MB

    # ---- metrics -------------------------------------------------------

    def e2e_metrics(self, passes, peaks, setup, elapsed) -> dict:
        done = [[x for x in p["lat"] if x is not None] for p in passes]
        lat = sorted(x for d in done for x in d)
        n = len(lat)
        # A pass holds 3 to 10 ops, so no run has the 10 samples beyond a
        # high percentile that a tail estimate needs. The 90th percentile
        # of each pass, interpolated between the two ops around it, then
        # the median over passes, stands in.
        tail = statistics.median(
            statistics.quantiles(d, n=10, method="inclusive")[-1] if len(d) > 1 else d[0]
            for d in done if d
        )
        tail_note = f"p90 per pass, median of {len(done)} passes; {n} samples"
        # whole passes run the same ops, so the median pass rate is robust
        # to one pass that the host slowed
        rate = statistics.median(len(d) / p["wall"] for d, p in zip(done, passes))
        ok = self.attempted - len(self.failures)
        cpu = {k: sum(p["cpu"][k] for p in passes) for k in passes[0]["cpu"]}
        rows = [
            ("setup_s", setup["setup_s"], "s",
             f"session, registry, catalog + warm-up pass {setup['warm_up_s']:.3f} s"),
            ("ops_per_min", 60.0 * rate, "1/min",
             f"median of {len(passes)} whole passes; {n} ops in {elapsed:.1f} s"),
            ("latency_p50_s", statistics.median(lat), "s", f"{n} samples"),
            ("latency_tail_s", tail, "s", tail_note),
            ("success_ratio", ok / self.attempted, "ratio",
             f"fail_ratio {len(self.failures) / self.attempted:.4f}: "
             f"{len(self.failures)} of {self.attempted} ops failed or mismatched"),
            ("jvm_peak_rss_mb", peaks["jvm"], "MB", "whole run"),
            ("driver_peak_rss_mb", peaks["driver"], "MB", "timed passes"),
        ]
        info = [
            ("driver.cpu_s", cpu["driver"], "s", "timed passes"),
            ("jvm.cpu_s", cpu["jvm"], "s", "timed passes"),
            ("python.worker_cpu_s", cpu["workers"], "s", "timed passes"),
            ("python.worker_peak_rss_mb", peaks["workers"], "MB", "live workers, whole life"),
        ]
        for name, value, unit, note in rows + info:
            log(f"  {name:22s} {value:12.4f} {unit:6s} {note}")
        return {name: {"value": value, "unit": unit} for name, value, unit, _ in rows}

    def layer_metrics(self, tracer, files_written, written_mb, passes, peaks, setup,
                      elapsed) -> dict:
        import spans as tr

        traced = [p for p in passes if p["traced"]]
        plain = [p for p in passes if not p["traced"]]
        k = len(traced)
        spans = tracer.spans
        kids: dict = {}
        for s in spans:
            kids.setdefault(s["parent"], []).append(s)

        def below(s, kind):
            out, todo = [], list(kids.get(s["id"], []))
            while todo:
                c = todo.pop()
                if c["kind"] == kind:
                    out.append(c)
                todo += kids.get(c["id"], [])
            return out

        def dur(s):
            return s["end"] - s["start"]

        def of(kind, name=None):
            return [s for s in spans if s["kind"] == kind and (name is None or s["name"] == name)]

        def stage_sum(roots, field):
            return sum(st[field] for r in roots for st in below(r, "stage"))

        builds, execs = of("build"), of("exec")
        build_s = sum(map(dur, builds))
        build_job_s = sum(
            tr.union_s([(j["start"], j["end"]) for j in below(b, "job")]) for b in builds
        )
        fits = of("layer", "ml.fit")
        exec_s = sum(map(dur, execs))
        exec_task_run = stage_sum(execs, "task_run_s")
        write_execs = [
            s for s in execs if spans[s["parent"]]["name"] == self.W.WRITE_OP
        ]
        op_spans = of("op")
        self_sum = sum(sum(x["self_s"] for x in tracer.subtree(o)) for o in op_spans)
        op_wall = sum(map(dur, op_spans))
        log(f"perfbench: span self times under the {len(op_spans)} traced ops sum to "
            f"{self_sum:.4f} s; the ops' wall time is {op_wall:.4f} s")
        per = 1.0 / k
        m = {
            "session.get_session_s": (setup["get_session_s"], "s"),
            "registry.all_queries_s": (setup["all_queries_s"], "s"),
            "catalog.table_open_s": (setup["table_open_s"], "s"),
            "catalog.memo_hit_ratio": (
                tracer.catalog_hits / tracer.catalog_calls if tracer.catalog_calls else 0.0,
                "ratio"),
            "operators.build_s": (build_s * per, "s"),
            "operators.build_jobs": (
                sum(s.get("jobs", 0) for s in builds + fits) * per, "count"),
            "operators.build_job_s": (build_job_s * per, "s"),
            "operators.build_driver_s": ((build_s - build_job_s) * per, "s"),
            "operators.build_tasks": (stage_sum(builds, "tasks") * per, "count"),
            "operators.build_slot_busy_ratio": (
                stage_sum(builds, "task_run_s") / (build_s * self.n) if build_s else 0.0,
                "ratio"),
            "operators.storage_blocks": (passes[-1]["storage"][0], "count"),
            "operators.storage_mb": (passes[-1]["storage"][1], "MB"),
            "operators.storage_blocks_growth": (
                (passes[-1]["storage"][0] - passes[0]["storage"][0]) / (len(passes) - 1),
                "count"),
            "plan.s": (sum(map(dur, of("plan"))) * per, "s"),
            "exec.s": (exec_s * per, "s"),
            "exec.jobs": (sum(s.get("jobs", 0) for s in execs) * per, "count"),
            "exec.stages": (sum(len(below(e, "stage")) for e in execs) * per, "count"),
            "exec.tasks": (stage_sum(execs, "tasks") * per, "count"),
            "exec.task_run_s": (exec_task_run * per, "s"),
            "exec.task_cpu_s": (stage_sum(execs, "task_cpu_s") * per, "s"),
            "exec.gc_s": (stage_sum(execs, "gc_s") * per, "s"),
            "exec.input_mb": (stage_sum(execs, "input_mb") * per, "MB"),
            "exec.shuffle_read_mb": (stage_sum(execs, "shuffle_read_mb") * per, "MB"),
            "exec.shuffle_write_mb": (stage_sum(execs, "shuffle_write_mb") * per, "MB"),
            "exec.spill_mb": (stage_sum(execs, "spill_mb") * per, "MB"),
            "exec.failed_tasks": (stage_sum(execs, "failed_tasks") * per, "count"),
            "exec.slot_busy_ratio": (
                exec_task_run / (exec_s * self.n) if exec_s else 0.0, "ratio"),
            "python.worker_cpu_s": (sum(p["cpu"]["workers"] for p in traced) * per, "s"),
            "python.data_sent_mb": (stage_sum(op_spans, "py_sent_mb") * per, "MB"),
            "python.data_received_mb": (stage_sum(op_spans, "py_received_mb") * per, "MB"),
            "ml.fit_s": (sum(map(dur, fits)) * per, "s"),
            "ml.fit_jobs": (sum(s.get("jobs", 0) for s in fits) * per, "count"),
            "ml.smote_s": (sum(map(dur, of("layer", "ml.balance.smote"))) * per, "s"),
            "sinks.write_s": (sum(map(dur, write_execs)) * per, "s"),
            "sinks.files_written": (files_written, "count"),
            "sinks.write_amplification": (
                written_mb / (os.path.getsize(self.data_dir / "lineitem.parquet") / MB)
                if write_execs else 0.0, "ratio"),
            "driver.cpu_s": (sum(p["cpu"]["driver"] for p in traced) * per, "s"),
            "jvm.cpu_s": (sum(p["cpu"]["jvm"] for p in traced) * per, "s"),
            "trace.overhead_ratio": (
                statistics.median(p["wall"] for p in traced)
                / statistics.median(p["wall"] for p in plain), "ratio"),
        }
        for name, (value, unit) in m.items():
            log(f"  {name:34s} {value:12.4f} {unit}")
        return {name: {"value": v, "unit": u} for name, (v, u) in m.items()}


# ---- entry points ----------------------------------------------------------


def prepare_env(scratch: Path) -> None:
    """Python workers import the package from the checkout, and every
    temporary file lands in the run's scratch directory."""
    sys.path.insert(0, str(ROOT))
    sys.path.insert(0, str(HERE))
    pp = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = str(ROOT) + (os.pathsep + pp if pp else "")
    (scratch / "tmp").mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(scratch / "tmp")
    import tempfile

    tempfile.tempdir = None


def smoke(scratch: Path) -> int:
    """Every workload once at the smallest size, untraced then traced."""
    import dataclasses

    import workloads as W

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    bad = []
    for wl in W.WORKLOADS.values():
        small = dataclasses.replace(wl, sf=0.001)
        for trace, key in ((False, "end_to_end"), (True, "per_layer")):
            res = Run(small, seed=0, seconds=0, trace=trace,
                      scratch=scratch / f"{wl.name}-{int(trace)}").execute()
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            if got != want:
                bad.append(f"{wl.name} trace={int(trace)}: metrics {got} != {want}")
            if res["failed"] or not res["correct"]:
                bad.append(f"{wl.name} trace={int(trace)}: {res['failed']} ops failed")
    for b in bad:
        log(f"perfbench smoke: {b}")
    print(json.dumps({"smoke_ok": not bad}))
    return 1 if bad else 0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=14.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args(argv)
    if not (ROOT / PACKAGE / "__init__.py").is_file():
        log(f"perfbench: the package {PACKAGE}/ is not in {ROOT}; nothing to measure")
        return 2
    scratch = HERE / ".scratch" / f"{args.workload or 'smoke'}-{os.getpid()}"
    try:
        prepare_env(scratch)
        if args.smoke:
            return smoke(scratch)
        import workloads as W

        if args.workload not in W.WORKLOADS:
            ap.error(f"--workload must be one of {sorted(W.WORKLOADS)}")
        result = Run(args.workload, args.seed, args.seconds, bool(args.trace), scratch).execute()
    finally:
        stop_engine()
        shutil.rmtree(scratch, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
