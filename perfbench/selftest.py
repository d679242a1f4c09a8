"""Self-test of the benchmark at tiny input sizes.

Checks that ``BENCHMARK.json`` and ``metrics.py`` name the same per-layer
metrics, that every workload emits every end-to-end metric untraced
(each above zero) and every per-layer metric traced with the declared
unit, that each layer reads non-zero on the workloads that run it and
zero on those that do not, that the outputs pass their checks, and that
the benchmark exits non-zero without a result when the package is absent.

    python3 perfbench/selftest.py
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import metrics  # noqa: E402
import workloads  # noqa: E402
from run import declared  # noqa: E402

_PARSE = ["parse.vote_s", "parse.py_run_s", "parse.py_init_s", "parse.arrow_in_bytes",
          "parse.arrow_out_bytes", "parse.rows_out", "scan.bytes"]
_SESSIONIZE = ["sessionize.shuffle_bytes", "sessionize.fetch_wait_s", "sessionize.py_run_s"]
# local-mode shuffle fetches may wait 0 ms even when the shuffle ran
_SESSIONIZE_RAN = ["sessionize.shuffle_bytes", "sessionize.py_run_s"]
_ROUTE = ["route.write_s", "route.count_s", "route.task_commit_s", "route.job_commit_s",
          "route.shuffle_bytes", "route.files", "route.bytes"]

# per-layer metrics that must read above zero on a workload: its layers ran
NONZERO = {
    "ingest_route": [*_PARSE, "route.files", "route.bytes"],
    "merge_window": [*_PARSE, "filters.rows_in", "filters.rows_out", "merge.sort_s"],
    "resumable_pipeline": [*_PARSE, *_SESSIONIZE_RAN, "yearfix.py_run_s", "route.files", "pipeline.jobs"],
}
# ... and those that must read zero: the workload does not run the layer
ZERO = {
    "ingest_route": _SESSIONIZE,
    "merge_window": [*_SESSIONIZE, *_ROUTE],
    "resumable_pipeline": [],
}


def _run(args: list[str], cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run([sys.executable, "perfbench/run.py", *args], cwd=cwd, capture_output=True,
                          text=True, timeout=900)


def check_declarations() -> None:
    if list(declared(1)) != list(metrics.MOVES):
        raise SystemExit(f"BENCHMARK.json per_layer and metrics.MOVES name different metrics: {list(declared(1))}")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        unknown = {w["name"] for w in json.load(f)["workloads"]} - set(workloads.WORKLOADS)
    if unknown:
        raise SystemExit(f"BENCHMARK.json names unknown workloads: {unknown}")


def check_emitted(trace: int) -> None:
    want = declared(trace)
    proc = _run(["--workload", "all", "--seed", "7", "--seconds", "1", "--trace", str(trace), "--size", "tiny"])
    if proc.returncode:
        raise SystemExit(f"trace {trace}: exit {proc.returncode}\n{proc.stderr[-3000:]}")
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    if not result["correct"] or result["failed"]:
        raise SystemExit(f"trace {trace}: output checks failed: {result}")
    for wl in workloads.WORKLOADS:
        got = {k.split(".", 1)[1]: v for k, v in result["metrics"].items() if k.startswith(wl + ".")}
        if set(got) != set(want):
            raise SystemExit(f"trace {trace}, {wl}: missing {set(want) - set(got)}, extra {set(got) - set(want)}")
        for name, unit in want.items():
            if got[name]["unit"] != unit or not isinstance(got[name]["value"], (int, float)):
                raise SystemExit(f"trace {trace}, {wl}: bad {name}: {got[name]}")
        value = {name: m["value"] for name, m in got.items()}
        if trace:
            bad = {n: value[n] for n in NONZERO[wl] if not value[n] > 0}
            bad.update({n: value[n] for n in ZERO[wl] if value[n] != 0})
        else:
            bad = {n: v for n, v in value.items() if not v > 0}
        if bad:
            raise SystemExit(f"trace {trace}, {wl}: values out of range: {bad}")
    print(f"trace {trace}: {len(want)} metrics emitted for each of {len(workloads.WORKLOADS)} workloads")


def check_fails_without_package() -> None:
    bare = os.path.join(ROOT, ".perfbench", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"), ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run(["--workload", "merge_window", "--seed", "1", "--seconds", "1", "--trace", "0"], cwd=bare)
    shutil.rmtree(bare, ignore_errors=True)
    if proc.returncode == 0 or '"metrics"' in proc.stdout:
        raise SystemExit(f"without the package the benchmark must fail without a result: {proc.returncode}")
    print("without the package: exit", proc.returncode)


def main() -> None:
    check_declarations()
    check_fails_without_package()
    check_emitted(0)
    check_emitted(1)
    print("selftest passed")


if __name__ == "__main__":
    main()
