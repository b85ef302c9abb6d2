"""One engine process of a benchmark run.

Started by ``run.py`` with the repository root as working directory.
It sets up the way a user's session does -- imports, ``get_spark``
(JVM launch, ``tune``, ``_ship_package``) and a warm-up pass -- and
reports how long that took from its own process start.  The warm-up
pass executes every member once and collects its output, which is
checked against the cached DuckDB oracle output; the comparison itself
is left out of the set-up time.  It then

1. runs the members in seeded whole passes, closed loop, until
   ``--seconds`` have passed, timing each execution from calling
   ``q.fn`` to the noop sink's completion;
2. with ``--trace 1``, attaches the collectors in ``tracing.py`` and
   records spans around construct and run, plus the Spark jobs,
   Catalyst phases, SQL plan metrics and stream micro-batches inside
   each execution.

The result is one JSON file at ``--out``.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import resource
import sys
import threading
import time
import traceback

from perfbench.workloads import TIMEOUT_S, WORKLOADS


def _process_start_epoch() -> float:
    """This process's start time in epoch seconds, from /proc."""
    with open("/proc/self/stat") as f:
        ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(line.split()[1]) for line in f if line.startswith("btime"))
    return btime + ticks / os.sysconf("SC_CLK_TCK")


def _vm_hwm_mib(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _cpu_ticks() -> list[int]:
    """The machine-wide ``cpu`` line of /proc/stat: user, nice, system,
    idle, iowait, irq, softirq, steal."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def _steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests: a host
    slowdown the run cannot see otherwise."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) else 0.0


def _sink(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Engine:
    def __init__(self, args) -> None:
        sys.path.insert(0, os.path.join(os.getcwd(), "tools"))
        from multi_crm_cross_sell_spark.plans import all_queries
        from multi_crm_cross_sell_spark.session import get_spark

        self.args = args
        self.wl = WORKLOADS[args.workload]
        self.queries = all_queries()
        t0 = time.time()
        self.spark = get_spark("perfbench", master=f"local[{args.cpus}]")
        self.spark.sparkContext.setLogLevel("ERROR")
        self.get_spark_s = time.time() - t0
        self.sc = self.spark.sparkContext
        self.tracer = None

    def execute(self, name: str, group: str, n_pass: int) -> dict:
        """One timed execution: construct (``q.fn``) then the noop sink."""
        q = self.queries[name]
        self.sc.setJobGroup(group, name, interruptOnCancel=True)
        timer = threading.Timer(TIMEOUT_S, self.sc.cancelJobGroup, (group,))
        timer.start()
        rec = {"query": name, "group": group, "pass": n_pass, "error": None,
               "module": q.fn.__module__.removeprefix("multi_crm_cross_sell_spark.")}
        df = None
        calls0 = self.tracer.py4j.calls if self.tracer else 0
        rec["t0"] = time.time()
        try:
            df = q.fn(self.spark, self.args.inputs)
            rec["t1"] = time.time()
            if self.tracer:
                rec["py4j_calls"] = self.tracer.py4j.calls - calls0
                self.sc.setJobGroup(group + "r", name, interruptOnCancel=True)
            _sink(df)
        except Exception as e:  # noqa: BLE001 — a failed execution is a counted result
            rec["error"] = f"{type(e).__name__}: {str(e).splitlines()[0] if str(e) else ''}"[:300]
        finally:
            timer.cancel()
            rec["t2"] = time.time()
            rec.setdefault("t1", rec["t2"])
        if rec["error"] is None and rec["t2"] - rec["t0"] > TIMEOUT_S:
            rec["error"] = "timeout"
        if self.tracer:
            self.tracer.after(rec, df)
        return rec

    def check(self) -> list[dict]:
        """The warm-up pass: collect every member's output once and
        compare it with the cached oracle output, using
        ``tools/check.py``'s ``compare``.  ``compare_s`` is the part of
        ``wall_s`` spent comparing."""
        import pandas as pd
        from check import compare

        oracle_dir = self.args.oracles
        with open(os.path.join(oracle_dir, "lint.json")) as f:
            lint = json.load(f)
        out = []
        for name in self.wl.members:
            self.sc.setJobGroup("check", name)
            t0 = time.time()
            rec = {"query": name, "problems": [], "t0": t0}
            try:
                sdf = self.queries[name].fn(self.spark, self.args.inputs).toPandas()
                t1 = time.time()
                odf = pd.read_pickle(os.path.join(oracle_dir, f"{name}.pkl"))
                rec["rows"] = len(sdf)
                rec["problems"] = lint.get(name, []) + compare(name, sdf, odf)
            except Exception as e:  # noqa: BLE001 — reported as a failed check
                t1 = time.time()
                rec["problems"] = [f"raised {type(e).__name__}: {str(e)[:300]}"]
                traceback.print_exc(file=sys.stderr)
            rec["wall_s"] = time.time() - t0
            rec["compare_s"] = time.time() - t1
            out.append(rec)
        return out

    def timed(self) -> tuple[list[dict], float]:
        # Whole passes only, so every run times the same query mix.
        rng = random.Random(self.args.seed)
        execs: list[dict] = []
        t_start = time.time()
        n_pass = 0
        while n_pass < self.wl.passes or time.time() - t_start < self.args.seconds:
            for name in self.wl.pass_order(rng):
                execs.append(self.execute(name, f"x{len(execs)}", n_pass))
            n_pass += 1
        return execs, time.time() - t_start

    def peak_rss_mib(self) -> dict[str, float]:
        """Peak RSS of the driver JVM and of this Python driver, MiB."""
        jvm_pid = self.sc._jvm.java.lang.ProcessHandle.current().pid()
        return {
            "jvm": _vm_hwm_mib(int(jvm_pid)),
            "python": resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0,
        }


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--inputs", required=True)
    ap.add_argument("--oracles", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--cpus", type=int, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out", required=True)
    args = ap.parse_args(argv)

    proc_start = _process_start_epoch()
    eng = Engine(args)
    t0 = time.time()
    checks = eng.check()
    compare_s = sum(c["compare_s"] for c in checks)
    result = {
        "setup_s": time.time() - proc_start - compare_s,
        "get_spark_s": eng.get_spark_s,
        "warmup_s": time.time() - t0 - compare_s,
        "check": checks,
    }
    if args.trace:
        from perfbench.tracing import Tracer

        eng.tracer = Tracer(eng.spark, args.cpus)
        eng.tracer.add_checks(checks)
    ticks = _cpu_ticks()
    execs, elapsed = eng.timed()
    result["steal_share"] = _steal_share(ticks, _cpu_ticks())
    result["executions"] = execs
    result["timed_s"] = elapsed
    result["passes"] = 1 + max(e["pass"] for e in execs)
    result["peak_rss_mib"] = eng.peak_rss_mib()
    if eng.tracer:
        result["trace"] = eng.tracer.report(result["passes"])
    eng.spark.stop()
    with open(args.out, "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
