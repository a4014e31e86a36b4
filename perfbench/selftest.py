"""Self-test of the benchmark on tiny inputs.

    python3 perfbench/selftest.py

Runs each workload on a tiny SDF corpus and the committed sf0.001 tables,
traced and untraced, and checks that:

- every end-to-end and per-layer metric in BENCHMARK.json is printed, by
  name, with its unit, and no other metric is;
- the untraced runs are correct, with no failed operation;
- every layer group that runs Spark work on a workload reports ``jobs > 0``;
- a deliberately wrong expected row count shows up as failed operations
  and in ``check.failed_ratio``;
- a directory holding only BENCHMARK.json and the benchmark's own files
  makes the benchmark exit non-zero without printing a result.

Exits 0 when every check holds.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TINY_SDF = ["--shards", "2", "--per-shard", "200"]
TINY_TABLES = ["--sf-dir", os.path.join(HERE, "data", "sf0.001")]
SDF_LAYERS = (
    "sources.sdf", "pipeline.write", "pipeline.build_indexes",
    "sources.manifest", "pipeline.lookup",
)
ANALYTICS_LAYERS = (
    "queries", "operators.dedup", "operators.retrieval", "operators.similarity",
    "operators.corpus",
)

failures: list[str] = []


def expect(ok: bool, what: str) -> None:
    print(("ok   " if ok else "FAIL ") + what, flush=True)
    if not ok:
        failures.append(what)


def run(cwd: str, workload: str, trace: int, *extra: str) -> tuple[int, dict | None]:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
           "--seconds", "1", "--trace", str(trace), *extra]
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    p = subprocess.run(cmd, cwd=cwd, env=env, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    try:
        return p.returncode, json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        return p.returncode, None


def check_names(result: dict, declared: list[dict], label: str) -> None:
    want = {m["name"]: m["unit"] for m in declared}
    got = {k: v.get("unit") for k, v in result["metrics"].items()}
    expect(got == want, f"{label}: metric names and units match BENCHMARK.json")
    expect(
        all(isinstance(v.get("value"), (int, float)) for v in result["metrics"].values()),
        f"{label}: every metric value is a number",
    )


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)

    cases = [
        ("sdf_build_serve", TINY_SDF, SDF_LAYERS),
        ("analytics_sf001", TINY_TABLES, ANALYTICS_LAYERS),
    ]
    for workload, extra, layers in cases:
        rc, res = run(ROOT, workload, 0, *extra)
        expect(rc == 0 and res is not None, f"{workload}: untraced run exits 0 with a result")
        if res:
            check_names(res, spec["end_to_end"], f"{workload} untraced")
            expect(res["correct"] and res["failed"] == 0 and res["attempted"] > 0,
                   f"{workload}: outputs correct ({res['attempted']} attempted, {res['failed']} failed)")
        rc, res = run(ROOT, workload, 1, *extra)
        expect(rc == 0 and res is not None, f"{workload}: traced run exits 0 with a result")
        if res:
            check_names(res, spec["per_layer"], f"{workload} traced")
            for layer in layers:
                jobs = res["metrics"][f"{layer}.jobs"]["value"]
                expect(jobs > 0, f"{workload}: {layer}.jobs = {jobs} > 0")

    rc, res = run(ROOT, "sdf_build_serve", 1, *TINY_SDF, "--perturb-expected", "1")
    expect(res is not None and res["failed"] > 0 and not res["correct"],
           "wrong expected count: counted as failed operations")
    if res:
        ratio = res["metrics"]["check.failed_ratio"]["value"]
        expect(ratio > 0, f"wrong expected count: check.failed_ratio = {ratio:.3f} > 0")

    bare = os.path.join(ROOT, ".perfbench_work", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    for path in spec["paths"]:
        shutil.copytree(os.path.join(ROOT, path), os.path.join(bare, path),
                        ignore=shutil.ignore_patterns("__pycache__"))
    for workload in spec["workloads"]:
        rc, res = run(bare, workload["name"], 0)
        expect(rc != 0 and res is None, f"bare directory: {workload['name']} exits {rc} without a result")
    shutil.rmtree(bare, ignore_errors=True)
    with contextlib.suppress(OSError):
        os.rmdir(os.path.dirname(bare))

    print(f"\n{len(failures)} failed check(s)")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
