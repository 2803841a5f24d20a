"""Self-test of the benchmark at sf0.001.

    python3 kgbench/selftest.py

Checks, each in fresh processes:
1. every workload, untraced and traced, prints every metric BENCHMARK.json
   names, with its unit, and verifies as correct;
2. a corrupted result (one triple dropped, or one query's row count off by
   one) is reported as a failed run, not as a timing;
3. the benchmark's composed flagship (seed-permuted source, KG index built in
   set-up, PipelineRun with run_flagship's arguments) gives the same triple
   multiset as ``flagship.run_flagship``.
Takes about ten minutes on a 4-core host. Exits non-zero on any failure.
"""

from __future__ import annotations

import collections
import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import run as bench  # noqa: E402


def invoke(workload: str, trace: int, corrupt: bool = False) -> dict:
    cmd = [
        sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
        "--seed", "7", "--seconds", "60", "--trace", str(trace),
    ]
    if corrupt:
        cmd.append("--corrupt")
    out = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, check=True,
                         text=True, timeout=200).stdout
    last = out.strip().splitlines()[-1]
    print(workload, f"trace={trace}", "corrupt" if corrupt else "", last,
          flush=True)
    return json.loads(last)


def parity() -> list[str]:
    """Composed flagship vs run_flagship, in this process (spawned with the
    benchmark's child environment)."""
    import workload as wl
    from table_annotation_spark.flagship import run_flagship

    host = wl.host_settings()
    spark, kg, _ = wl.flagship_setup(host, os.environ["TMPDIR"], 1, None)
    src = wl.permuted_source(spark, 7)
    _, composed, _ = wl.flagship_pass(spark, kg, src)
    reference = [
        tuple(r) for r in
        run_flagship(spark, wl.DATA, include_orders=False)
        .select(*wl.TRIPLE_COLS).collect()
    ]
    wl.stop_jvm(spark)
    if collections.Counter(composed) != collections.Counter(reference):
        return [f"composed flagship triples differ from run_flagship "
                f"({len(composed)} vs {len(reference)} rows)"]
    return []


def main() -> int:
    if sys.argv[1:] == ["--parity"]:
        problems = parity()
        print(json.dumps(problems))
        return 1 if problems else 0

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    expected = {
        0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
        1: {m["name"]: m["unit"] for m in spec["per_layer"]},
    }
    failures = []
    for w in bench.WORKLOADS:
        for trace in (0, 1):
            res = invoke(w, trace)
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            if got != expected[trace]:
                failures.append(f"{w} trace={trace}: metrics/units {got}")
            if not res["correct"] or res["failed"]:
                failures.append(f"{w} trace={trace}: run not correct")
        res = invoke(w, 0, corrupt=True)
        if res["correct"] or res["failed"] < 1:
            failures.append(f"{w}: corrupted result was not reported failed")

    run_dir = tempfile.mkdtemp(prefix="selftest-", dir=bench.WORK)
    try:
        code = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--parity"], cwd=ROOT,
            env=bench.child_env(run_dir), timeout=600,
        ).returncode
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    if code != 0:
        failures.append("composed flagship differs from run_flagship")

    for f in failures:
        print("FAIL", f)
    print("selftest:", "ok" if not failures else f"{len(failures)} failures")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
