"""Seeded log-pipeline benchmark.

Runs one workload through the package's public functions on ``local[N]``
(N = usable cores less one) for a fixed time, checks every run's output
against the generator's golden messages, and prints one JSON result as its
last line.

    python3 perfbench/run.py --workload merge_window --seed 1 --seconds 20 --trace 0

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` runs traced
and untraced runs in turn and reports the per-layer metrics read from
Spark's status store, plus the tracing overhead. ``--workload all`` runs
every workload, each in its own process. Inputs, outputs, spans and
result records go to ``.perfbench/`` under the checkout root.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from contextlib import contextmanager
from dataclasses import dataclass, field
from datetime import datetime, timezone

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
sys.path.insert(0, HERE)


def declared(trace: int) -> dict[str, str]:
    """Name -> unit of the metrics ``BENCHMARK.json`` declares for a run:
    the end-to-end ones untraced, the per-layer ones traced."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return {m["name"]: m["unit"] for m in bench["per_layer" if trace else "end_to_end"]}


def _spark_cores(nproc: int) -> int:
    """One Spark task thread fewer than the cores: the driver process, the
    JVM's own threads and the host's other work keep a core. On 4 cores
    local[3] ran as fast as local[4]."""
    return max(1, nproc - 1)


def _driver_mem_gib() -> int:
    """An eighth of the host's memory, 1-8 GiB: the session default (24g)
    does not fit a small host shared with other work."""
    with open("/proc/meminfo") as f:
        total_kib = int(f.readline().split()[1])
    return max(1, min(8, total_kib // 2**20 // 8))


def _configure_env(cores: int) -> dict[str, str]:
    """Deployment settings, made before pyspark starts the JVM so that it
    and the Python workers inherit them. Returns the Spark config to add."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    # the Python workers import the package from the checkout, whatever
    # the working directory
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ.setdefault("S4SPARK_DRIVER_MEM", f"{_driver_mem_gib()}g")
    # one shuffle partition per core, not the package's 32: on 4 cores the
    # default doubles resumable_pipeline's run (per-task overhead, not data,
    # sets it) and the judged runs would no longer fit their time budget
    os.environ.setdefault("S4SPARK_SHUFFLE_PARTITIONS", str(cores))
    java_opts = f"-Duser.timezone=UTC -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # the JVM that spark-submit runs first, to build the Spark command line
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    return {
        "spark.local.dir": os.path.join(WORK, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.driver.extraJavaOptions": java_opts,
        "spark.executor.extraJavaOptions": java_opts,
    }


def _git_sha() -> str | None:
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10)
    except OSError:
        return None
    return out.stdout.strip() or None


def _host_steal_s() -> float:
    """Seconds this machine's cores were ready to run but the hypervisor
    ran other work, summed over the cores (``/proc/stat``)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def _cpu_probe(nproc: int) -> dict:
    """``tools/cpu_probe.py``: single-core time and effective cores of a
    fixed N-way CPU load, so a throttled host shows in the record."""
    probe = os.path.join(ROOT, "tools", "cpu_probe.py")
    out = subprocess.run([sys.executable, probe, str(nproc)], capture_output=True, text=True, timeout=120, check=True)
    return json.loads(out.stdout.strip().splitlines()[-1])


class Tracer:
    """Spans (name, start, end, parent, run id) kept in memory."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.run_id = 0

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {"name": name, "run": self.run_id, "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), "end": None}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def self_times(self, run_id: int) -> dict[str, float]:
        """Each span's duration minus the part its child spans cover."""
        idx = [i for i, s in enumerate(self.spans) if s["run"] == run_id]
        own = {i: self.spans[i]["end"] - self.spans[i]["start"] for i in idx}
        for i in idx:
            parent = self.spans[i]["parent"]
            if parent is not None:
                own[parent] -= self.spans[i]["end"] - self.spans[i]["start"]
        out: dict[str, float] = {}
        for i, dur in own.items():
            out[self.spans[i]["name"]] = out.get(self.spans[i]["name"], 0.0) + dur
        return out


def _tail(values: list[float]) -> dict | None:
    """The highest percentile with at least ten samples beyond it."""
    n = len(values)
    if n <= 10:
        return None
    pct = int(100 * (n - 10) / n)
    return {"pct": pct, "value": statistics.quantiles(values, n=100, method="inclusive")[pct - 1]}


@dataclass
class Runs:
    """What the timed runs of one process measured."""

    attempted: int = 0
    failed: int = 0
    walls: list[float] = field(default_factory=list)
    cpus: list[float] = field(default_factory=list)
    peaks_mb: list[float] = field(default_factory=list)
    traced_walls: list[float] = field(default_factory=list)
    layers: list[dict] = field(default_factory=list)
    self_times: list[dict] = field(default_factory=list)
    tracer: Tracer = field(default_factory=lambda: Tracer(False))


@contextmanager
def _host_lock(label: str, record: dict):
    """Hold the host-wide lock that pytest, ``bench.py`` and
    ``tools/bench_scaling.py`` also take. After a bounded wait, or if the
    lock file cannot be opened, record that and go on rather than print
    no result."""
    from super_speedy_syslog_searcher_spark.hostlock import LOCK_PATH, HostLock, HostLockTimeout

    record["host_lock"] = LOCK_PATH
    lock = HostLock(label, timeout=60)
    try:
        lock.__enter__()
    except (HostLockTimeout, OSError) as exc:
        record["host_lock_contended"] = True
        print(f"perfbench: running without the host lock: {exc}", file=sys.stderr)
        yield
        return
    record["host_lock_contended"] = False
    try:
        yield
    finally:
        lock.__exit__(None, None, None)


def _measure(args, wl, inputs, cores: int, extra_conf: dict, record: dict) -> Runs:
    """Set up once (timed as ``setup_s``), then run until ``--seconds`` pass."""
    import workloads
    from layers import StatusReader
    from proctree import TreeMonitor, tree_pids

    from super_speedy_syslog_searcher_spark.session import get_spark, warm_python_workers

    runs = Runs()
    tracer = runs.tracer
    spark = None
    try:
        with TreeMonitor(os.getpid()) as mon:
            t0 = time.perf_counter()
            spark = get_spark(app_name=f"perfbench-{wl.name}", cores=cores, extra_conf=extra_conf)
            t1 = time.perf_counter()
            warm_python_workers(spark)
            t2 = time.perf_counter()
            ctx = workloads.Context(spark, inputs, os.path.join(WORK, "out", wl.name), cores)
            ctx.register()
            t3 = time.perf_counter()
            wl.prepare(ctx)
            t4 = time.perf_counter()
            result = wl.run(ctx, tracer)
            wl.finish(ctx, tracer, result)
            t5 = time.perf_counter()
            runs.attempted += 1
            try:
                wl.check(ctx, result)
            except workloads.CheckFailed as exc:
                runs.failed += 1
                print(f"perfbench: warm-up run failed its check: {exc}", file=sys.stderr)
            record["setup"] = {"start_s": t1 - t0, "warm_s": t2 - t1, "register_s": t3 - t2,
                               "warmup_run_s": t5 - t4, "setup_s": (t3 - t0) + (t5 - t4)}
            record["spark_conf"] = dict(spark.sparkContext.getConf().getAll())
            reader = StatusReader(spark) if args.trace else None

            steal0 = _host_steal_s()
            deadline = time.perf_counter() + args.seconds
            i = 0
            while True:
                i += 1
                # a traced run alternates untraced and traced runs so the
                # difference of their medians is the tracing overhead
                traced = bool(args.trace) and i % 2 == 0
                tracer.enabled, tracer.run_id = traced, i
                wl.prepare(ctx)
                mark = reader.mark() if traced else None
                runs.attempted += 1
                try:
                    mon.start_interval()
                    t = time.perf_counter()
                    with tracer.span("run"):
                        result = wl.run(ctx, tracer)
                    wall = time.perf_counter() - t
                    cpu, peak = mon.stop_interval()
                    until = reader.mark() if traced else None
                    wl.finish(ctx, tracer, result)
                    wl.check(ctx, result)
                except Exception as exc:  # one failed run is counted, the rest still run
                    runs.failed += 1
                    print(f"perfbench: run {i} failed: {exc!r}", file=sys.stderr)
                    traceback.print_exc(file=sys.stderr)
                else:
                    if traced:
                        layers = reader.read(mark, until)
                        selfs = tracer.self_times(i)
                        layers["pipeline.resume_s"] = selfs.get("pipeline.resume", 0.0)
                        layers["host.cpu_per_wall"] = cpu / wall
                        runs.traced_walls.append(wall)
                        runs.layers.append(layers)
                        runs.self_times.append(selfs)
                    else:
                        runs.walls.append(wall)
                        runs.cpus.append(cpu)
                        runs.peaks_mb.append(peak / 1e6)
                now = time.perf_counter()
                if now >= deadline and (runs.walls and (runs.layers or not args.trace)) or now >= deadline + 60:
                    break
            record["host_steal_s"] = _host_steal_s() - steal0
    finally:
        if spark is not None:
            _stop_spark(spark)
        leftover = [p for p in tree_pids(os.getpid()) if p != os.getpid()]
        if leftover:
            print(f"perfbench: processes left after Spark stopped: {leftover}", file=sys.stderr)
    return runs


def run_workload(args) -> int:
    nproc = len(os.sched_getaffinity(0))
    cores = _spark_cores(nproc)
    extra_conf = _configure_env(cores)
    sys.path.insert(0, ROOT)
    try:
        import super_speedy_syslog_searcher_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the package is not importable from {ROOT}: {exc}", file=sys.stderr)
        return 2
    import workloads

    wl = workloads.WORKLOADS[args.workload]
    inputs = workloads.make_inputs(WORK, wl.name, args.seed, args.size, n_files=2 * cores)
    stamp = datetime.now(timezone.utc).strftime("%Y%m%dT%H%M%S")
    record: dict = {
        "workload": wl.name, "seed": args.seed, "size": args.size, "trace": args.trace,
        "seconds": args.seconds, "git_sha": _git_sha(), "nproc": nproc, "master": f"local[{cores}]",
        "n_docs": inputs.n_docs, "started": stamp,
    }
    with _host_lock(f"perfbench {wl.name}", record):
        # the probes (~2 s each) feed the traced run's host.cores_* metrics;
        # untraced runs record only the steal time, which costs nothing
        if args.trace:
            record["probe_before"] = _cpu_probe(nproc)
        try:
            runs = _measure(args, wl, inputs, cores, extra_conf, record)
        except Exception as exc:
            print(f"perfbench: {wl.name} failed: {exc!r}", file=sys.stderr)
            traceback.print_exc(file=sys.stderr)
            return 1
        if args.trace:
            record["probe_after"] = _cpu_probe(nproc)
    if not runs.walls or (args.trace and not runs.layers):
        print("perfbench: no run succeeded", file=sys.stderr)
        return 1

    wall_s = statistics.median(runs.walls)
    setup = record["setup"]
    record.update(
        attempted=runs.attempted, failed=runs.failed, error_rate=runs.failed / runs.attempted,
        samples=len(runs.walls), walls_s=runs.walls, wall_tail=_tail(runs.walls),
        cpu_s=runs.cpus, peak_rss_mb=runs.peaks_mb,
    )
    if args.trace:
        # a layer the workload does not run reports no metrics: zero
        med = {k: statistics.median(r.get(k, 0.0) for r in runs.layers) for k in {k for r in runs.layers for k in r}}
        med.update({
            "session.start_s": setup["start_s"], "session.warm_s": setup["warm_s"],
            "session.warmup_run_s": setup["warmup_run_s"],
            "host.cores_before": record["probe_before"]["effective_cores"],
            "host.cores_after": record["probe_after"]["effective_cores"],
            "trace.overhead_s": statistics.median(runs.traced_walls) - wall_s,
        })
        out_metrics = {name: {"value": med.get(name, 0.0), "unit": unit} for name, unit in declared(1).items()}
        record["traced_walls_s"] = runs.traced_walls
        record["self_s"] = {k: statistics.median(r.get(k, 0.0) for r in runs.self_times)
                            for k in sorted({k for r in runs.self_times for k in r})}
        record["layers_per_run"] = runs.layers
        _write(os.path.join(WORK, "spans", f"{wl.name}-seed{args.seed}-{stamp}.jsonl"),
               "".join(json.dumps(s) + "\n" for s in runs.tracer.spans))
    else:
        values = {
            "wall_s": wall_s,
            "seq_per_s": inputs.n_docs / wall_s,
            "cpu_s": statistics.median(runs.cpus),
            "peak_rss_mb": statistics.median(runs.peaks_mb),
            "setup_s": setup["setup_s"],
        }
        out_metrics = {name: {"value": values[name], "unit": unit} for name, unit in declared(0).items()}
    _write(os.path.join(WORK, "results", f"{wl.name}-seed{args.seed}-trace{args.trace}-{stamp}.json"),
           json.dumps(record, indent=1, default=str))
    for name, m in out_metrics.items():
        print(f"{wl.name:<20} {name:<28} {m['value']:>16.6g} {m['unit']}")
    print(f"{wl.name:<20} {'error_rate':<28} {record['error_rate']:>16.6g} ratio")
    print(json.dumps({k: v for k, v in record.items() if k != "layers_per_run"}, default=str))
    print(json.dumps({"correct": runs.failed == 0, "attempted": runs.attempted, "failed": runs.failed,
                      "metrics": out_metrics}))
    return 0


def _stop_spark(spark) -> None:
    """Stop Spark, then the JVM it runs in, and wait for both."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None


def _write(path: str, text: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        f.write(text)


def run_all(args) -> int:
    """Every workload in turn, each in a process of its own."""
    import workloads

    total = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    code = 0
    for name in workloads.WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name, "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", str(args.trace), "--size", args.size]
        proc = subprocess.run(cmd, capture_output=True, text=True)
        sys.stderr.write(proc.stderr[-4000:] if proc.returncode else "")
        lines = proc.stdout.strip().splitlines()
        print("\n".join(lines[:-1]))
        if proc.returncode or not lines:
            print(f"perfbench: {name} exited with {proc.returncode}", file=sys.stderr)
            code = code or proc.returncode or 1
            total["correct"] = False
            continue
        res = json.loads(lines[-1])
        total["correct"] &= res["correct"]
        total["attempted"] += res["attempted"]
        total["failed"] += res["failed"]
        total["metrics"].update({f"{name}.{k}": v for k, v in res["metrics"].items()})
    print(json.dumps(total))
    return code


def main(argv: list[str] | None = None) -> int:
    import workloads

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=[*workloads.WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True, help="measure for this long")
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=["full", "tiny"], default="full", help="tiny: self-test inputs")
    args = ap.parse_args(argv)
    if args.workload == "all":
        return run_all(args)
    return run_workload(args)


if __name__ == "__main__":
    sys.exit(main())
