"""Seeded benchmark for the table→KG engine.

    python3 kgbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Workloads (inputs: the sf0.001 TPC-H-shaped parquet under kgbench/data; the
seed only changes the order of the inputs):

- ``flagship-sf0.001``: the full pipeline (prep → lookup → CEA/CTA/CPA →
  canonical triples) over 26 embedded CSV tables (customers per nation, plus
  nations/regions), with the CSV data lines and the source rows permuted by
  the seed: about 100 Spark jobs for 325 triples, so the time is the fixed
  cost per job and per annotation pass.
- ``ops-sf0.001``: 10 operator queries, one per operator module, in a fresh
  session that never calls ``tune_for_input_size``: ``kg_lookup_fuzzy``
  first, the other nine in an order set by the seed. Lookup is its largest
  layer; annotation never runs.

Both are a closed loop with one client: one measured pass per run, in a child
process started here, on ``local[nproc]``. Warm-up policy, the same for every
run and so for both sides of a comparison: the measured pass is the first of
its kind in a fresh JVM. Before it the flagship builds its KG index three
times (set-up), and the op suite starts its session three times. The op
suite always runs lookup first, so that the process's one-off JIT cost
falls on the same query whatever the seed. The run does this fixed amount of
work whatever ``--seconds`` says; the value is recorded, and a pass that
took longer is flagged in the detail line.

``triples_per_s`` is the triples over ``wall_s``; on the op suite, the
canonical triples that ``kg_canon_conflict`` returns over the suite's wall.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the workload
with Spark's event log on and prints the per-layer metrics read from it.
Outputs are checked against DuckDB oracles outside the timed region; a run
whose check fails is reported with ``correct: false`` and ``failed > 0``.
The last stdout line is the JSON result; the line before it is the detail.
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
import tempfile
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")
WORKLOADS = ("ops-sf0.001", "flagship-sf0.001")
# Every run ends within 180 s: children get what is left of this budget.
RUN_BUDGET_S = 172
SETUP_REPS = 3
PAGE = os.sysconf("SC_PAGE_SIZE")

END_TO_END = (
    ("wall_s", "s"),
    ("triples_per_s", "1/s"),
    ("setup_s", "s"),
    ("peak_rss_mb", "MB"),
)
PER_LAYER = (
    ("prep.s", "s"), ("prep.jobs", "count"), ("prep.task_s", "s"),
    ("prep.shuffle_mb", "MB"), ("prep.rows_out", "count"),
    ("lookup.s", "s"), ("lookup.jobs", "count"), ("lookup.task_s", "s"),
    ("lookup.shuffle_mb", "MB"), ("lookup.spill_mb", "MB"),
    ("lookup.mentions", "count"), ("lookup.candidates", "count"),
    ("lookup.hit_ratio", "ratio"),
    ("annotate.build_inputs_s", "s"), ("annotate.pass1_s", "s"),
    ("annotate.pass2_s", "s"), ("annotate.pass3_s", "s"),
    ("annotate.pass4_s", "s"), ("annotate.jobs", "count"),
    ("annotate.task_s", "s"), ("annotate.shuffle_mb", "MB"),
    ("annotate.spill_mb", "MB"), ("annotate.gc_s", "s"),
    ("annotate.task_skew", "ratio"),
    ("materialize.s", "s"), ("materialize.jobs", "count"),
    ("materialize.triples", "count"),
    ("driver.jobs", "count"), ("driver.stages", "count"),
    ("driver.tasks", "count"), ("driver.gap_s", "s"),
    ("session.cached_mb", "MB"),
    ("ops.lookup_s", "s"), ("ops.kg_s", "s"), ("ops.materialize_s", "s"),
    ("ops.dedup_s", "s"), ("ops.similarity_s", "s"), ("ops.text_s", "s"),
    ("ops.relational_s", "s"), ("ops.graph_s", "s"), ("ops.sessions_s", "s"),
    ("ops.multimodal_s", "s"),
    ("trace.overhead", "ratio"),
)


# ------------------------------------------------------------ process tree
def _stat(pid: int) -> tuple[str, list[str]] | None:
    """(command name, the fields after it, state first) of /proc/<pid>/stat,
    or None once the process is gone."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            stat = fh.read()
    except OSError:
        return None
    end = stat.rindex(")")
    return stat[stat.index("(") + 1:end], stat[end + 2:].split()


def _tree(root: int) -> dict[int, tuple[str, str, int]]:
    """The process and its descendants, as {pid: (start time, command name,
    resident bytes)}; the start time tells a process from a later one that
    reuses its pid."""
    children: dict[int, list[int]] = {}
    info: dict[int, tuple[str, str, int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit() and (st := _stat(int(name))) is not None:
            comm, fields = st
            children.setdefault(int(fields[1]), []).append(int(name))
            info[int(name)] = (fields[19], comm, int(fields[21]) * PAGE)
    pids, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in info:
            pids[pid] = info[pid]
            todo.extend(children.get(pid, []))
    return pids


class TreeSampler(threading.Thread):
    """Samples the summed resident memory (RSS) of a process and all its
    descendants (Python driver, JVM, Python workers) every 0.5 s; also keeps
    the peak of the JVM's share and of the Python processes' share. Pages
    that forked Python workers share count once per process. RSS comes from
    /proc/<pid>/stat; PSS from smaps_rollup walks the JVM's page tables and
    took 16% of a core at five samples a second."""

    def __init__(self, root: int):
        super().__init__(daemon=True)
        self.root = root
        self.peak = 0
        self.peak_by_kind = {"jvm": 0, "python": 0}
        self.seen: dict[int, str] = {}
        self._done = threading.Event()

    def run(self) -> None:
        while not self._done.is_set():
            kinds = {"jvm": 0, "python": 0}
            for pid, (start, comm, rss) in _tree(self.root).items():
                self.seen[pid] = start
                kinds["jvm" if comm == "java" else "python"] += rss
            self.peak = max(self.peak, sum(kinds.values()))
            for k, v in kinds.items():
                self.peak_by_kind[k] = max(self.peak_by_kind[k], v)
            self._done.wait(0.5)

    def stop(self) -> None:
        self._done.set()
        self.join()


def _reap(pids: dict[int, str], timeout: float = 20.0) -> None:
    """Kill what is left of a finished child's process tree and wait until
    every process is gone."""
    alive = [p for p, start in pids.items() if _running(p, start)]
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass
    deadline = time.time() + timeout
    while alive and time.time() < deadline:
        time.sleep(0.1)
        alive = [p for p in alive if _running(p, pids[p])]


def _running(pid: int, start: str) -> bool:
    """True while the process that started at ``start`` exists and is not a
    zombie."""
    st = _stat(pid)
    return st is not None and st[1][19] == start and st[1][0] != "Z"


# --------------------------------------------------------------- children
def child_env(run_dir: str) -> dict:
    """The engine's environment: repo on PYTHONPATH (Python workers import
    the package), Spark's local and temp dirs under this run's directory,
    and no SPARK_GRAFT_* setting inherited from the caller."""
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    local = os.path.join(run_dir, "spark-local")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    env.update(
        PYTHONPATH=os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
        SPARK_LOCAL_DIRS=local,
        SPARK_GRAFT_LOCAL_DIR=local,
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        TMPDIR=tmp,
        PYTHONHASHSEED="0",
    )
    return env


def run_child(workload: str, seed: int, trace: int, setup_reps: int,
              timeout: float, corrupt: bool = False) -> dict:
    """Run one workload pass in a child process with a scratch directory of
    its own; return its result with the peak resident memory of its process
    tree added."""
    run_dir = tempfile.mkdtemp(prefix="run-", dir=WORK)
    out = os.path.join(run_dir, "result.json")
    cmd = [
        sys.executable, os.path.join(HERE, "workload.py"),
        "--workload", workload, "--seed", str(seed), "--trace", str(trace),
        "--setup-reps", str(setup_reps),
        "--work", run_dir, "--out", out,
    ]
    if corrupt:
        cmd.append("--corrupt")
    try:
        return _run(cmd, run_dir, out, timeout, workload)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def _run(cmd, run_dir, out, timeout, workload) -> dict:
    proc = subprocess.Popen(
        cmd, cwd=ROOT, env=child_env(run_dir), stdout=sys.stderr,
        stderr=sys.stderr,
    )
    sampler = TreeSampler(proc.pid)
    sampler.start()
    try:
        code = proc.wait(timeout=max(timeout, 1.0))
    except subprocess.TimeoutExpired:
        code = None
    finally:
        sampler.stop()
        _reap({**sampler.seen,
               **{p: v[0] for p, v in _tree(proc.pid).items()}})
        proc.wait()
    if code is None:
        raise RuntimeError(f"{workload} child timed out after {timeout:.0f} s")
    if code != 0:
        raise RuntimeError(f"{workload} child exited {code}")
    with open(out) as fh:
        result = json.load(fh)
    result["peak_rss_mb"] = sampler.peak / (1 << 20)
    result["peak_rss_mb_by_kind"] = {
        k: v / (1 << 20) for k, v in sampler.peak_by_kind.items()
    }
    return result


# ------------------------------------------------------- reference walls
def _ref_path(workload: str) -> str:
    return os.path.join(WORK, f"untraced-wall-{workload}.json")


def record_untraced_wall(workload: str, wall: float) -> None:
    path = _ref_path(workload)
    walls = []
    if os.path.exists(path):
        with open(path) as fh:
            walls = json.load(fh)
    with open(path, "w") as fh:
        json.dump((walls + [wall])[-20:], fh)


def untraced_walls(workload: str) -> list[float]:
    path = _ref_path(workload)
    if not os.path.exists(path):
        return []
    with open(path) as fh:
        return json.load(fh)


# ------------------------------------------------------------------ main
def timing(samples: list[float]) -> dict:
    """Median, and the highest whole percentile with at least ten samples
    beyond it (none below 11 samples), with the sample count."""
    out = {"n": len(samples), "median": statistics.median(samples)}
    if len(samples) >= 11:
        p = int(100 * (1 - 10 / len(samples)))
        out[f"p{p}"] = statistics.quantiles(samples, n=100)[p - 1]
    return out


def source_digest() -> str:
    """The commit when the tree is a git checkout, else a hash of the
    engine's sources."""
    import hashlib

    head = os.path.join(ROOT, ".git", "HEAD")
    if os.path.exists(head):
        with open(head) as fh:
            ref = fh.read().strip()
        if ref.startswith("ref: "):
            ref_file = os.path.join(ROOT, ".git", ref[5:])
            if os.path.exists(ref_file):
                with open(ref_file) as fh:
                    return fh.read().strip()
        return ref
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "__spark_entry__.py")]
    for d, _, names in sorted(os.walk(os.path.join(ROOT, "table_annotation_spark"))):
        files += [os.path.join(d, n) for n in sorted(names) if n.endswith(".py")]
    for f in files:
        with open(f, "rb") as fh:
            h.update(fh.read())
    return "src-sha256:" + h.hexdigest()[:16]


def measure(args, t_start: float) -> tuple[dict, dict, dict]:
    """Returns (metrics, detail, counts) for one invocation."""
    def left() -> float:
        return RUN_BUDGET_S - (time.perf_counter() - t_start)

    if not args.trace:
        res = run_child(args.workload, args.seed, 0, SETUP_REPS, left(),
                        args.corrupt)
        if res["failed"] == 0:
            record_untraced_wall(args.workload, res["wall_s"])
        metrics = {name: res[name] for name, _ in END_TO_END}
        return metrics, res, res

    t_traced = time.perf_counter()
    res = run_child(args.workload, args.seed, 1, 1, left(), args.corrupt)
    traced_s = time.perf_counter() - t_traced
    metrics = dict(res["layers"])
    refs = untraced_walls(args.workload)
    reference = None
    if not refs and left() > 1.25 * traced_s:
        # no untraced run in this checkout yet: time one here
        reference = run_child(args.workload, args.seed, 0, 1, left())
        refs = [reference["wall_s"]]
    # 0 when no untraced wall exists and the run's time budget cannot hold one
    metrics["trace.overhead"] = (
        res["wall_s"] / statistics.median(refs) if refs else 0.0
    )
    res["trace_reference_walls_s"] = refs
    failed = res["failed"] + (reference["failed"] if reference else 0)
    attempted = res["attempted"] + (reference["attempted"] if reference else 0)
    return metrics, res, {"failed": failed, "attempted": attempted}


def print_layer_table(res: dict) -> None:
    """The traced run's job groups, driver gap and remainder, which add up to
    the timed window's wall time."""
    cols = ("s", "jobs", "stages", "tasks", "task_s", "gc_s",
            "shuffle_read_mb", "shuffle_write_mb", "spill_mb", "task_skew")
    print(f"{'group':28s}" + "".join(f"{c:>17s}" for c in cols))
    for g, row in res["traced_groups"].items():
        print(f"{g:28s}" + "".join(f"{row[c]:17.3f}" for c in cols))
    acc = res["accounting"]
    for label, key in (("(driver gap)", "gap_s"), ("(remainder)", "remainder_s"),
                       ("(wall)", "wall_s")):
        print(f"{label:28s}{acc[key]:17.3f}")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--corrupt", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args()

    os.makedirs(WORK, exist_ok=True)
    t0 = time.perf_counter()
    metrics, res, counts = measure(args, t0)
    units = dict(END_TO_END if not args.trace else PER_LAYER)
    missing = set(units) - set(metrics)
    if missing:
        raise RuntimeError(f"metrics missing from the run: {sorted(missing)}")

    attempted, failed = counts["attempted"], counts["failed"]
    detail = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "seconds_budget": args.seconds,
        "over_budget": res["wall_s"] > args.seconds,
        "source": source_digest(), "host": res["host"],
        "settings": res["settings"],
        "failed_share": failed / attempted,
        "problems": res["problems"],
        "timings_s": {
            "wall_s": timing([res["wall_s"]]),
            "setup_s": timing(res["setup_samples"]),
        },
        "setup_samples_s": res["setup_samples"],
        "run_total_s": time.perf_counter() - t0,
    }
    if "per_query_s" in res:
        detail["timings_s"]["query_s"] = timing(list(res["per_query_s"].values()))
    for key in ("peak_rss_mb_by_kind", "pipeline_metrics", "per_query_s",
                "per_query_rows", "module_s", "order", "accounting",
                "traced_groups", "trace_reference_walls_s"):
        if key in res:
            detail[key] = res[key]
    if args.trace:
        print_layer_table(res)
    print(json.dumps({"detail": detail}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            name: {"value": float(metrics[name]), "unit": units[name]}
            for name in units
        },
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
