"""Repository benchmark: one workload, one seed, closed loop, one client.

    python3 perfbench/run.py --workload crm_interactive --seed 1 --seconds 5 --trace 0

Run it from the repository root.  It generates the workload's inputs
from the seed (cached per seed under ``.perfbench/``), computes the
DuckDB oracle outputs, starts a fresh engine process (``engine.py``)
that sets up and times the passes, and prints as its last stdout
line one JSON object ``{"correct", "attempted", "failed", "metrics"}``.
With ``--trace 0`` the metrics are the end-to-end ones; with
``--trace 1`` they are the per-layer ones from the traced run.  The
line before it is a JSON summary: cpus, tail percentile, pass and
execution counts, failures, per-query median walls, and in a traced
run the per-query layer rows' path, self times, tracing overhead and
whether each zero prediction held.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

ROOT = os.getcwd()
sys.path.insert(0, ROOT)

from perfbench import inputs, stats  # noqa: E402
from perfbench.workloads import SF, TAIL, TIMEOUT_S, WORKLOADS  # noqa: E402

PKG = "multi_crm_cross_sell_spark"
DRIVER_MEMORY = "2g"
CHILD_TIMEOUT_S = 150.0
BENCH_DIR = ".perfbench"

# Per-layer metrics that are zero by construction on a workload, and
# ones that must be positive there; the traced run states whether each held.
ZERO = {
    "crm_interactive": ("udf.", "streaming."),
    "vector_stream": (),
}
POSITIVE = {
    "crm_interactive": ("exec.jobs",),
    "vector_stream": ("udf.python_run_s", "udf.rows_from_python", "streaming.batches",
                      "streaming.state_rows"),
}


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def _digest(*parts: str) -> str:
    return hashlib.sha256("\0".join(parts).encode()).hexdigest()[:16]


def _prepare(wl, seed: int) -> tuple[str, str, float]:
    """Inputs for the seed and the workload's oracle outputs on them,
    generated on first use and cached.  The inputs are keyed on the
    generator's source, the oracle outputs on the member list and each
    member's oracle SQL, so an edit to either is never served stale.
    Returns both directories and the seconds spent generating (about 0
    when cached)."""
    from multi_crm_cross_sell_spark.plans import REGISTRY

    with open(inputs.__file__, "rb") as f:
        gen = _digest(f.read().decode())
    base = os.path.join(ROOT, BENCH_DIR, "inputs", f"sf{SF}-s{seed}-{gen}")
    data = os.path.join(base, "tables")
    oracles = os.path.join(
        base, f"oracle-{wl.name}-{_digest(*(f'{m}:{REGISTRY[m].oracle}' for m in wl.members))}"
    )
    t0 = time.time()
    os.makedirs(base, exist_ok=True)
    if not os.path.isdir(data):
        tmp = tempfile.mkdtemp(dir=base)
        inputs.generate(tmp, SF, seed)
        os.rename(tmp, data)
    if not os.path.isdir(oracles):
        tmp = tempfile.mkdtemp(dir=base)
        _oracles(wl, data, tmp)
        os.rename(tmp, oracles)
    return data, oracles, time.time() - t0


def _oracles(wl, data: str, out: str) -> None:
    """Run each member's DuckDB oracle once; keep its output (pickled,
    so dtypes survive exactly) and its type-lint problems."""
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from check import duck_connect, lint_oracle_types

    from multi_crm_cross_sell_spark.plans import REGISTRY

    con = duck_connect(data)
    lint = {}
    for name in wl.members:
        rel = con.sql(REGISTRY[name].oracle)
        lint[name] = lint_oracle_types(rel)
        rel.df().to_pickle(os.path.join(out, f"{name}.pkl"))
    con.close()
    with open(os.path.join(out, "lint.json"), "w") as f:
        json.dump(lint, f)


def _engine(args, data: str, oracles: str, env: dict, run_dir: str) -> dict:
    out = os.path.join(run_dir, "engine.json")
    cmd = [
        sys.executable, "-m", "perfbench.engine",
        "--workload", args.workload, "--inputs", data, "--oracles", oracles,
        "--seed", str(args.seed), "--seconds", str(args.seconds),
        "--cpus", env["SPARK_GRAFT_CPUS"], "--trace", str(args.trace), "--out", out,
    ]
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=sys.stderr, start_new_session=True)
    try:
        rc = proc.wait(timeout=CHILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        rc = None
    finally:
        # The JVM and the Python workers share the child's process group.
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()
        _wait_group_gone(proc.pid)
    if rc != 0:
        raise RuntimeError(f"engine process failed (exit {rc}): {' '.join(cmd)}")
    with open(out) as f:
        return json.load(f)


def _wait_group_gone(pgid: int, timeout_s: float = 30.0) -> None:
    """Wait until no live process is left in process group ``pgid``."""
    deadline = time.time() + timeout_s
    while time.time() < deadline:
        alive = False
        for pid in os.listdir("/proc"):
            if not pid.isdigit():
                continue
            try:
                with open(f"/proc/{pid}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            if int(fields[2]) == pgid and fields[0] != "Z":
                alive = True
                break
        if not alive:
            return
        time.sleep(0.1)


def _end_to_end(res: dict, tally: stats.Tally, bad: set[str]) -> dict:
    execs = res["executions"]
    # Every execution counts, so the percentiles are always taken over the
    # run's full number of executions; a failed one counts as missing any
    # latency limit, at no less than the timeout, so a fast failure never
    # reads as a faster run.
    walls = [e["t2"] - e["t0"] if e["error"] is None else max(e["t2"] - e["t0"], TIMEOUT_S)
             for e in execs]
    good = sum(1 for e in execs if e["error"] is None and e["query"] not in bad)
    return {
        "throughput_qpm": {"value": good / (res["timed_s"] / 60.0), "unit": "queries/min"},
        "latency_p50_s": {"value": stats.median(walls), "unit": "s"},
        "latency_tail_s": {"value": stats.percentile(walls, TAIL), "unit": "s"},
        "correct_share": {"value": 1.0 - tally.failed_share, "unit": "ratio"},
        "setup_s": {"value": res["setup_s"], "unit": "s"},
        "peak_rss_mb": {"value": sum(res["peak_rss_mib"].values()), "unit": "MiB"},
    }


def _per_layer(wl, res: dict) -> tuple[dict, dict]:
    tr = res["trace"]
    m = dict(tr["metrics"])
    m["session.get_spark_s"] = res["get_spark_s"]
    m["session.warmup_s"] = res["warmup_s"]
    checks = {}
    for prefix in ZERO[wl.name]:
        for k, v in m.items():
            if k.startswith(prefix):
                checks[f"{k} == 0"] = "held" if v == 0 else f"missed ({v:g})"
    for k in POSITIVE[wl.name]:
        checks[f"{k} > 0"] = "held" if m.get(k, 0) > 0 else "missed (0)"
    return {k: {"value": v, "unit": layer_unit(k)} for k, v in sorted(m.items())}, checks


def layer_unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_ms"):
        return "ms"
    if "bytes" in name:
        return "bytes"
    if name.endswith("utilization"):
        return "ratio"
    return "count"


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    missing = [p for p in (PKG, os.path.join("tools", "check.py")) if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: run from the repository root; missing {', '.join(missing)}", file=sys.stderr)
        return 2

    wl = WORKLOADS[args.workload]
    nproc = _nproc()
    cpus = wl.slots(nproc)
    os.makedirs(os.path.join(ROOT, BENCH_DIR), exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix="run-", dir=os.path.join(ROOT, BENCH_DIR))
    env = dict(
        os.environ,
        TMPDIR=os.path.join(run_dir, "tmp"),
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"),
        SPARK_DRIVER_MEMORY=DRIVER_MEMORY,
        # Keep the JVM's temp and perf-data files inside the run directory.
        SPARK_GRAFT_DRIVER_JAVA_OPTIONS=(
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')} -XX:-UsePerfData"
        ),
        SPARK_GRAFT_CPUS=str(cpus),
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    )
    os.makedirs(env["TMPDIR"])
    os.makedirs(env["SPARK_LOCAL_DIRS"])
    try:
        data, oracles, prep_s = _prepare(wl, args.seed)
        res = _engine(args, data, oracles, env, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    tally = stats.Tally()
    bad = set()
    for c in res["check"]:
        tally.record("mismatch" if c["problems"] else None)
        if c["problems"]:
            bad.add(c["query"])
    for e in res["executions"]:
        tally.record("timeout" if e["error"] == "timeout" else ("raised" if e["error"] else None))

    by_query: dict[str, list[float]] = {}
    for e in res["executions"]:
        by_query.setdefault(e["query"], []).append(e["t2"] - e["t0"])
    summary = {
        "workload": wl.name,
        "seed": args.seed,
        "cpus": cpus,
        "nproc": nproc,
        "sf": SF,
        "tail_percentile": TAIL,
        "passes": res["passes"],
        "executions": len(res["executions"]),
        "timed_s": res["timed_s"],
        "pass_wall_s": [
            sum(e["t2"] - e["t0"] for e in res["executions"] if e["pass"] == p)
            for p in range(res["passes"])
        ],
        "prep_s": prep_s,
        "get_spark_s": res["get_spark_s"],
        "warmup_s": res["warmup_s"],
        "peak_rss_mib": res["peak_rss_mib"],
        "steal_share": res["steal_share"],
        "failure_reasons": tally.reasons,
        "failures": {c["query"]: c["problems"] for c in res["check"] if c["problems"]}
        | {e["group"]: f'{e["query"]}: {e["error"]}' for e in res["executions"] if e["error"]},
        "median_wall_s": {k: stats.median(v) for k, v in sorted(by_query.items())},
        "warmup_wall_s": {c["query"]: c["wall_s"] - c["compare_s"] for c in res["check"]},
    }
    e2e = _end_to_end(res, tally, bad)
    results_dir = os.path.join(ROOT, BENCH_DIR, "results")
    os.makedirs(results_dir, exist_ok=True)
    if args.trace:
        metrics, checks = _per_layer(wl, res)
        path = os.path.join(ROOT, BENCH_DIR, "traces", f"{wl.name}-s{args.seed}.json")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(res["trace"], f)
        summary["trace_file"] = os.path.relpath(path, ROOT)
        summary["self_s"] = res["trace"]["self_s"]
        summary["predictions"] = checks
        summary["traced_end_to_end"] = {k: v["value"] for k, v in e2e.items()}
        untraced = os.path.join(results_dir, f"{wl.name}-s{args.seed}.json")
        if os.path.exists(untraced):
            with open(untraced) as f:
                base = json.load(f)
            summary["tracing_overhead"] = {
                k: e2e[k]["value"] - v["value"] for k, v in base["end_to_end"].items()
            }
    else:
        metrics = e2e
        with open(os.path.join(results_dir, f"{wl.name}-s{args.seed}.json"), "w") as f:
            json.dump({"end_to_end": e2e, "executions": res["executions"], "check": res["check"]}, f)
    print(json.dumps(summary))
    print(json.dumps({
        "correct": tally.failed == 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
