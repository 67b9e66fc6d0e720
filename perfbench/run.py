"""The repository benchmark: one command per workload and seed.

    python3 perfbench/run.py --workload {olap,corpus,etl} --seed N \
        --seconds S --trace {0,1}

Run from the repository root. The run builds a warm Spark session, runs
one cold pass over the workload's ops (the seed generates the `etl`
inputs), checks every op's output outside the timed region, and prints
as its last stdout line one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones; with --trace 1 the run also records
the Spark event log, spans around the program's layers and streaming
progress, and the metrics are the per-layer ones. A full record (ops,
noise, spans) is written under .perfbench/results/.
"""

from __future__ import annotations

import argparse
import fcntl
import hashlib
import io
import json
import math
import os
import re
import shutil
import statistics
import subprocess
import sys
import threading
import time
from contextlib import redirect_stdout
from pathlib import Path

import checks
import etl_gen
import eventlog
import spans
import workloads

BENCH_DIR = Path(__file__).resolve().parent
ROOT = BENCH_DIR.parent
STATE = ROOT / ".perfbench"
SF_DIR = BENCH_DIR / "data" / "sf0.01"
DRIVER_MEM = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "2g")
YOUNG_GEN = "384m"
TAIL_MIN_BEYOND = 10


def process_start_epoch() -> float:
    """Wall-clock time at which this process started."""
    ticks = int(Path("/proc/self/stat").read_text().rsplit(")", 1)[1].split()[19])
    uptime = float(Path("/proc/uptime").read_text().split()[0])
    return time.time() - (uptime - ticks / os.sysconf("SC_CLK_TCK"))


class RssSampler(threading.Thread):
    """Samples the summed resident memory of this process's descendants
    (the driver JVM and its Python workers) from /proc."""

    def __init__(self, interval: float = 0.1) -> None:
        super().__init__(daemon=True)
        self.interval = interval
        self.peak_bytes = 0
        self.peak_jvm = 0
        self.seen: set[int] = set()
        self._halt = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")

    def descendants(self) -> list[int]:
        children: dict[int, list[int]] = {}
        for d in Path("/proc").iterdir():
            if not d.name.isdigit():
                continue
            try:
                ppid = int((d / "stat").read_text().rsplit(")", 1)[1].split()[1])
            except (OSError, ValueError, IndexError):
                continue
            children.setdefault(ppid, []).append(int(d.name))
        out, todo = [], [os.getpid()]
        while todo:
            kids = children.get(todo.pop(), [])
            out += kids
            todo += kids
        return out

    def sample(self) -> None:
        total = 0
        for pid in self.descendants():
            self.seen.add(pid)
            try:
                rss = int(Path(f"/proc/{pid}/statm").read_text().split()[1]) * self._page
                comm = Path(f"/proc/{pid}/comm").read_text().strip()
            except (OSError, ValueError, IndexError):
                continue
            total += rss
            if comm == "java":
                self.peak_jvm = max(self.peak_jvm, rss)
        self.peak_bytes = max(self.peak_bytes, total)

    def run(self) -> None:
        while not self._halt.wait(self.interval):
            self.sample()

    def stop(self) -> None:
        self._halt.set()
        self.join(timeout=5)


def cpu_ticks() -> dict[str, int]:
    f = Path("/proc/stat").read_text().splitlines()[0].split()[1:]
    names = ("user", "nice", "system", "idle", "iowait", "irq", "softirq", "steal")
    return dict(zip(names, map(int, f)))


def source_id() -> dict:
    try:
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
        ).stdout.strip() or None
    except OSError:
        commit = None
    h = hashlib.sha1()
    for p in sorted((ROOT / "compendium_spark").rglob("*.py")):
        h.update(p.relative_to(ROOT).as_posix().encode())
        h.update(p.read_bytes())
    return {"commit": commit, "package_sha1": h.hexdigest()}


def _hold_batches(batches):
    for b in batches:
        time.sleep(1.0)
        yield b


def tail(latencies: list[float]) -> tuple[float, int]:
    """(value, percentile): the highest percentile with at least ten
    samples beyond it. Below 100 samples that percentile is under p90,
    which is no tail, so the maximum (p100) is reported instead."""
    xs = sorted(latencies)
    n = len(xs)
    p = math.floor(100 * (n - TAIL_MIN_BEYOND) / n) if n > TAIL_MIN_BEYOND else 0
    if p < 90:
        return xs[-1], 100
    return xs[math.ceil(p * n / 100) - 1], p


class Run:
    def __init__(self, args, run_dir: Path) -> None:
        self.args = args
        self.run_dir = run_dir
        self.cores = len(os.sched_getaffinity(0))
        self.tracer = spans.Tracer()
        self.ops: list[dict] = []
        self.fetch_rows: list[int] = []
        self.progress: list[dict] = []
        self.catalyst_s = 0.0
        self.timings: dict[str, float] = {}

    # -- set-up ---------------------------------------------------------
    def start_session(self):
        from compendium_spark.session import get_session  # noqa: PLC0415

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": str(self.run_dir / "spark-warehouse"),
            # A fixed young generation: with G1's adaptive sizing the
            # Spark driver's peak RSS moved by 40% between identical runs.
            "spark.driver.extraJavaOptions": f"-Xmn{YOUNG_GEN}",
        }
        if self.args.trace:
            evdir = self.run_dir / "eventlog"
            evdir.mkdir()
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.dir": evdir.as_uri(),
            })
        t0 = time.time()
        spark = get_session(f"perfbench-{self.args.workload}", extra_conf=conf)
        self.timings["session.start_s"] = time.time() - t0
        return spark

    def warm(self, spark) -> None:
        """Warm the JIT on plans in no workload, and spawn the Python
        worker pool, so set-up ends with a warm session."""
        from compendium_spark.plans import all_plans  # noqa: PLC0415

        t0 = time.time()
        plans = all_plans()
        for name in workloads.WARMUP:
            plans[name].fn(spark, str(SF_DIR)).write.format("noop").mode("overwrite").save()
        # one task per core, each held long enough that all run at once,
        # so the pool has a worker per core before the first op
        spark.range(0, self.cores, 1, self.cores).mapInPandas(
            _hold_batches, "id long"
        ).write.format("noop").mode("overwrite").save()
        self.timings["session.warm_s"] = time.time() - t0

    # -- the timed pass ---------------------------------------------------
    def run_plans(self, spark) -> list[tuple[dict, object]]:
        from compendium_spark.plans import all_plans  # noqa: PLC0415

        plans = all_plans()
        done = []
        for name in workloads.plan_order(self.args.workload):
            op = {"op": name, "ok": True}
            self.tracer.op = name
            df = None
            t0 = time.perf_counter()
            try:
                with self.tracer.span("op"):
                    with self.tracer.span("plans.build"):
                        df = plans[name].fn(spark, str(SF_DIR))
                    op["build_s"] = time.perf_counter() - t0
                    with self.tracer.span("exec.action"):
                        df.write.format("noop").mode("overwrite").save()
            except Exception as e:  # an op failure is counted, not fatal
                op.update(ok=False, error=f"{type(e).__name__}: {str(e)[:300]}")
            op["latency_s"] = time.perf_counter() - t0
            self.ops.append(op)
            if df is not None and op["ok"]:
                if self.args.trace:
                    self.catalyst_s += catalyst_seconds(df)
                done.append((op, df))
        self.tracer.op = None
        return done

    def run_etl(self, spark, inputs: Path, manifest: dict) -> dict[str, str]:
        from compendium_spark import cli  # noqa: PLC0415

        wh = str(self.run_dir / "warehouse")
        outputs: dict[str, str] = {}
        for argv in workloads.etl_commands(inputs, manifest, self.cores):
            name = " ".join(argv[:2]) if argv[0] in ("runit", "load-results") else argv[0]
            op = {"op": name, "command": argv[0], "ok": True}
            self.tracer.op = name
            buf = io.StringIO()
            t0 = time.perf_counter()
            try:
                with self.tracer.span("op"), self.tracer.span(f"cli.{argv[0]}"), redirect_stdout(buf):
                    rc = cli.main(["--warehouse", wh, *argv], spark=spark)
                if rc != 0:
                    op.update(ok=False, error=f"exit code {rc}")
            except Exception as e:  # an op failure is counted, not fatal
                op.update(ok=False, error=f"{type(e).__name__}: {str(e)[:300]}")
            op["latency_s"] = time.perf_counter() - t0
            outputs[argv[0]] = outputs.get(argv[0], "") + buf.getvalue()
            self.ops.append(op)
        self.tracer.op = None
        return outputs

    # -- output checks (untimed) ----------------------------------------
    def check_plans(self, done: list[tuple[dict, object]]) -> None:
        from compendium_spark.plans import all_plans  # noqa: PLC0415
        from compendium_spark.tables import TABLE_NAMES  # noqa: PLC0415

        plans = all_plans()
        oracle = checks.Oracle(SF_DIR, TABLE_NAMES, STATE / "oracle")
        try:
            for op, df in done:
                t0 = time.perf_counter()
                try:
                    why = checks.hash_mismatch(df.toPandas(), oracle.result(plans[op["op"]].oracle))
                except Exception as e:  # a failed check is counted, not fatal
                    why = f"check raised {type(e).__name__}: {str(e)[:300]}"
                op["check_s"] = time.perf_counter() - t0
                if why:
                    op.update(ok=False, error=f"output check: {why}")
        finally:
            oracle.close()

    def check_etl(self, spark, manifest: dict, outputs: dict[str, str]) -> None:
        from compendium_spark.storage import Warehouse  # noqa: PLC0415

        bad = checks.etl_mismatches(
            Warehouse(spark, str(self.run_dir / "warehouse")), manifest, outputs.get("forward", "")
        )
        for op in self.ops:
            if op["command"] in bad and op["ok"]:
                op.update(ok=False, error="output check: " + "; ".join(bad[op["command"]]))

    # -- metrics ---------------------------------------------------------
    def end_to_end(self, wall_s: float, setup_s: float, peak_rss: int) -> dict:
        lat = [op["latency_s"] for op in self.ops]
        tail_v, tail_p = tail(lat)
        failed = sum(not op["ok"] for op in self.ops)
        return {
            "setup_s": (setup_s, "s"),
            "wall_s": (wall_s, "s"),
            "op_p50_s": (statistics.median(lat), "s"),
            "op_tail_s": (tail_v, "s"),
            "ok_ratio": ((len(lat) - failed) / len(lat), "ratio"),
            "peak_rss_mb": (peak_rss / 2**20, "MB"),
        }, {"op_tail_percentile": tail_p, "op_samples": len(lat)}

    def per_layer(self, log: eventlog.EventLog, wall_s: float, input_bytes: int,
                  manifest: dict | None) -> dict:
        tr = self.tracer
        m: dict[str, tuple[float, str]] = {}
        m["session.start_s"] = (self.timings["session.start_s"], "s")
        m["session.warm_s"] = (self.timings["session.warm_s"], "s")

        loads = tr.named("tables.load", top_level=True)
        misses = [s for s in loads if not s["hit"]]
        m["tables.load_calls"] = (len(loads), "count")
        m["tables.load_s"] = (sum(s["end"] - s["start"] for s in loads), "s")
        m["tables.load_hit_ratio"] = ((len(loads) - len(misses)) / len(loads) if loads else 0.0, "ratio")
        first_jobs = [j for s in misses for j in log.jobs_between(s["start"], s["end"])]
        m["tables.first_load_jobs"] = (len(first_jobs), "count")

        builds = tr.named("plans.build")
        eager = [(s, log.jobs_between(s["start"], s["end"])) for s in builds]
        eager_s = sum(
            eventlog.union_seconds(
                [(j.submit_ms / 1e3, min(j.end_ms or math.inf, s["end"] * 1e3) / 1e3) for j in js])
            for s, js in eager
        )
        build_s = sum(s["end"] - s["start"] for s in builds)
        m["plans.build_s"] = (build_s, "s")
        m["plans.build_self_s"] = (build_s - eager_s, "s")
        m["plans.eager_jobs"] = (sum(len(js) for _, js in eager), "count")
        m["plans.eager_job_s"] = (eager_s, "s")
        m["plans.catalyst_s"] = (self.catalyst_s, "s")

        actions = tr.named("exec.action")
        action_s = sum(s["end"] - s["start"] for s in actions)
        ex = log.totals([j for s in actions for j in log.jobs_between(s["start"], s["end"])])
        m["exec.action_s"] = (action_s, "s")
        for k in ("jobs", "stages", "tasks"):
            m[f"exec.{k}"] = (ex[k], "count")
        m["exec.scan_bytes"] = (ex["scan_bytes"], "bytes")
        m["exec.scan_rows"] = (ex["scan_rows"], "rows")
        m["exec.shuffle_write_bytes"] = (ex["shuffle_write_bytes"], "bytes")
        m["exec.shuffle_read_bytes"] = (ex["shuffle_read_bytes"], "bytes")
        m["exec.shuffle_fetch_wait_s"] = (ex["fetch_wait_ms"] / 1e3, "s")
        m["exec.task_run_s"] = (ex["run_ms"] / 1e3, "s")
        m["exec.task_cpu_s"] = (ex["cpu_ns"] / 1e9, "s")
        m["exec.gc_s"] = (ex["gc_ms"] / 1e3, "s")
        m["exec.spill_bytes"] = (ex["spill_bytes"], "bytes")
        m["exec.scheduler_delay_s"] = (ex["scheduler_delay_ms"] / 1e3, "s")
        busy = ex["run_ms"] / 1e3 / (action_s * self.cores) if action_s else 0.0
        m["exec.core_busy_ratio"] = (busy, "ratio")

        # Python workers run inside eager jobs too, so these cover the whole op.
        op_spans = tr.named("op")
        py = log.totals([j for s in op_spans for j in log.jobs_between(s["start"], s["end"])])
        m["exec.python_run_s"] = (py["python_run_ms"] / 1e3, "s")
        m["exec.python_bytes_in"] = (py["python_bytes_in"], "bytes")
        m["exec.python_bytes_out"] = (py["python_bytes_out"], "bytes")
        m["exec.python_init_s"] = (py["python_init_ms"] / 1e3, "s")

        m["streaming.batches"] = (len(self.progress), "count")
        m["streaming.batch_s"] = (
            sum(p.get("durationMs", {}).get("triggerExecution", 0) for p in self.progress) / 1e3, "s")
        m["streaming.input_rows"] = (sum(p.get("numInputRows", 0) for p in self.progress), "rows")
        last_state: dict[str, int] = {}
        for p in self.progress:
            last_state[p["runId"]] = sum(o.get("numRowsTotal", 0) for o in p.get("stateOperators", []))
        m["streaming.state_rows"] = (sum(last_state.values()), "rows")

        writes = tr.named("storage.", top_level=True)
        written = sum(s["bytes_written"] for s in writes)
        m["storage.calls"] = (len(writes), "count")
        m["storage.write_s"] = (sum(s["end"] - s["start"] for s in writes), "s")
        m["storage.bytes_written"] = (written, "bytes")
        m["storage.files_written"] = (sum(s["files_written"] for s in writes), "count")
        m["storage.write_amp"] = (written / input_bytes, "ratio")

        for group in sorted(set(workloads.CLI_GROUPS.values())):
            cmds = [c for c, g in workloads.CLI_GROUPS.items() if g == group]
            m[f"cli.{group}_s"] = (
                sum(s["end"] - s["start"] for c in cmds for s in tr.named(f"cli.{c}")), "s")

        status = tr.named("pipeline.status")
        m["pipeline.status_transitions"] = (len(status), "count")
        m["pipeline.status_s"] = (sum(s["end"] - s["start"] for s in status), "s")
        asvs = tr.named("cli.asvs")
        am = log.totals([j for s in asvs for j in log.jobs_between(s["start"], s["end"])])
        m["pipeline.amplicon_asvs"] = (manifest["sequences"] if manifest and asvs else 0, "count")
        m["pipeline.amplicon_s"] = (am["python_run_ms"] / 1e3, "s")
        m["pipeline.amplicon_tasks"] = (am["python_tasks"], "count")
        m["pipeline.enrich_rows"] = (sum(self.fetch_rows), "rows")

        m["trace.wall_s"] = (wall_s, "s")
        untraced = untraced_walls(self.args.workload)
        m["trace.overhead_s"] = (wall_s - statistics.median(untraced) if untraced else 0.0, "s")
        return m


def catalyst_seconds(df) -> float:
    """Analysis + optimization + planning time of df's query execution,
    from its QueryPlanningTracker (PhaseSummary(start, end) in ms)."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = re.findall(r"PhaseSummary\((\d+), (\d+)\)", qe.tracker().phases().toString())
    return sum(int(e) - int(s) for s, e in phases) / 1e3


def untraced_walls(workload: str) -> list[float]:
    out = []
    for f in (STATE / "results").glob(f"{workload}-*-trace0-*.json"):
        try:
            out.append(json.loads(f.read_text())["metrics"]["wall_s"]["value"])
        except (OSError, ValueError, KeyError):
            continue
    return out


def stop_spark(spark, sampler: RssSampler) -> None:
    """Stop the session and the JVM, and wait until the JVM and every
    Python worker it started have exited."""
    from pyspark import SparkContext  # noqa: PLC0415

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    left = [p for p in sampler.seen if Path(f"/proc/{p}").exists()]
    while left and time.time() < deadline:
        time.sleep(0.2)
        left = [p for p in left if Path(f"/proc/{p}").exists()]
    for p in left:
        try:
            os.kill(p, 9)
        except ProcessLookupError:
            pass


def main(argv: list[str] | None = None) -> int:
    t_start = process_start_epoch()
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=workloads.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True,
                    help="expected length of the timed pass; a pass that runs over "
                         "four times this is reported on stderr")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--dup-share", type=float, default=0.0,
                    help="etl: share of samples given a second EXPERIMENT_PACKAGE")
    args = ap.parse_args(argv)

    sys.path.insert(0, str(ROOT))
    try:
        import compendium_spark  # noqa: PLC0415
    except ImportError as e:
        print(f"perfbench: cannot import the program from {ROOT}: {e}", file=sys.stderr)
        return 2
    if not Path(compendium_spark.__file__).resolve().is_relative_to(ROOT):
        print(f"perfbench: compendium_spark resolves outside {ROOT}", file=sys.stderr)
        return 2
    if not SF_DIR.is_dir():
        print(f"perfbench: input tables missing at {SF_DIR}", file=sys.stderr)
        return 2

    STATE.mkdir(exist_ok=True)
    (STATE / "results").mkdir(exist_ok=True)
    lock = open(STATE / "lock", "a")
    try:
        fcntl.flock(lock, fcntl.LOCK_EX | fcntl.LOCK_NB)
    except BlockingIOError:
        print("perfbench: another benchmark run holds .perfbench/lock", file=sys.stderr)
        return 3
    try:
        shutil.rmtree(STATE / "runs", ignore_errors=True)
        run_dir = STATE / "runs" / f"{args.workload}-{args.seed}-{os.getpid()}"
        for d in ("tmp", "spark-local"):
            (run_dir / d).mkdir(parents=True)
        # Plans stage fixtures, sinks and stream sources under the temp dir:
        # pointing it at the fresh run dir isolates each run from the last.
        os.environ["TMPDIR"] = str(run_dir / "tmp")
        # every JVM, the launcher's too: no hsperfdata files under /tmp
        os.environ["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, (
            os.environ.get("JAVA_TOOL_OPTIONS"), f"-Djava.io.tmpdir={run_dir / 'tmp'}",
            "-XX:-UsePerfData")))
        os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "spark-local")
        os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
        os.environ["PYTHONPATH"] = os.pathsep.join(
            [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
        return bench(args, run_dir, t_start)
    finally:
        shutil.rmtree(STATE / "runs", ignore_errors=True)
        lock.close()


def bench(args, run_dir: Path, t_start: float) -> int:
    import tempfile  # noqa: PLC0415

    tempfile.tempdir = None
    ticks0, load0 = cpu_ticks(), os.getloadavg()
    sampler = RssSampler()
    sampler.start()
    run = Run(args, run_dir)

    manifest, inputs = None, run_dir / "inputs"
    if args.workload == "etl":
        manifest = etl_gen.generate(args.seed, inputs, args.dup_share)
        input_bytes = manifest["input_bytes"]
    else:
        input_bytes = sum(f.stat().st_size for f in SF_DIR.iterdir())

    spark = run.start_session()
    try:
        run.warm(spark)
        setup_s = time.time() - t_start
        if args.trace:
            spans.install(run.tracer, run.fetch_rows)
            spark.streams.addListener(spans.streaming_listener(run.progress))

        t0 = time.perf_counter()
        if args.workload == "etl":
            outputs = run.run_etl(spark, inputs, manifest)
        else:
            done = run.run_plans(spark)
        wall_s = time.perf_counter() - t0
        sampler.sample()
        peak_rss = sampler.peak_bytes
        if wall_s > 4 * args.seconds:
            print(f"perfbench: pass took {wall_s:.1f}s, run length is {args.seconds}s",
                  file=sys.stderr)

        t_check = time.perf_counter()
        if args.workload == "etl":
            run.check_etl(spark, manifest, outputs)
        else:
            run.check_plans(done)
        run.timings["check_s"] = time.perf_counter() - t_check
        shuffle_parts = spark.conf.get("spark.sql.shuffle.partitions")
        if args.trace:
            time.sleep(1.0)  # let the listener bus deliver the last progress events
    finally:
        stop_spark(spark, sampler)
        sampler.stop()

    failed = sum(not op["ok"] for op in run.ops)
    e2e, tail_info = run.end_to_end(wall_s, setup_s, peak_rss)
    if args.trace:
        logs = list((run_dir / "eventlog").iterdir())
        log = eventlog.parse(logs[0]) if logs else eventlog.EventLog()
        metrics = run.per_layer(log, wall_s, input_bytes, manifest)
    else:
        metrics = e2e

    ticks1 = cpu_ticks()
    dt = {k: ticks1[k] - ticks0[k] for k in ticks0}
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "seconds": args.seconds,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        "end_to_end": {k: v for k, (v, _) in e2e.items()},
        **tail_info,
        "timings": run.timings,
        "ops": run.ops,
        "noise": {
            "steal_share": dt["steal"] / max(sum(dt.values()), 1),
            "loadavg_before": load0,
            "loadavg_after": os.getloadavg(),
            "cores": run.cores,
            "driver_memory": DRIVER_MEM,
            "shuffle_partitions": shuffle_parts,
            **source_id(),
        },
        "dup_share": args.dup_share,
        "peak_jvm_rss_mb": sampler.peak_jvm / 2**20,
        "processes_seen": len(sampler.seen),
    }
    stamp = f"{args.workload}-{args.seed}-trace{args.trace}-{int(time.time() * 1000)}"
    (STATE / "results" / f"{stamp}.json").write_text(json.dumps(record, indent=1, default=str))
    if args.trace:
        run.tracer.dump(STATE / "results" / f"{stamp}.spans.json")
    for op in run.ops:
        if not op["ok"]:
            print(f"perfbench: {op['op']} failed: {op['error']}", file=sys.stderr)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(run.ops),
        "failed": failed,
        "metrics": record["metrics"],
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
