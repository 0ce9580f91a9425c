"""End-to-end benchmark of the expenses engine.

    python3 e2ebench/run.py --workload agent_sql --seed 1 --seconds 10 --trace 0

Builds the workload's inputs from the seed, starts ``worker.py`` (one
process, one SparkSession on ``local[nproc / 2]``, one closed-loop client),
times its set-up, and prints a ``detail:`` line and then, as the last line,
one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` —
the end-to-end metrics with ``--trace 0``, the per-layer metrics of a run
with Spark's event log on with ``--trace 1``. See README.md.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HEAP = "2g"
# G1's adaptive young-generation sizing adds a slow, run-to-run variable
# component to the warm-up curve; the throughput collector's fixed young
# generation does not (README.md, "Warm-up").
JVM_OPTS = "-XX:+UseParallelGC"
# Untimed warm-up ops per workload (whole cycles). The JIT keeps speeding
# ops up for minutes (README.md, "Warm-up"); a fixed op count measures every
# run, and every commit, at the same point of that curve.
WARM_OPS = {"agent_sql": 4, "curation": 6, "daily_ingest": 4}
# Measured ops: ``--seconds`` worth of ops at the workload's reference op
# time (a quiet 4-vCPU host), in whole cycles, at least MIN_CYCLES. The
# count, not the time, is fixed, so a run on a busy host, or of a slower
# commit, is measured over the same ops of the warm-up curve as any other.
REF_OP_S = {"agent_sql": 1.4, "curation": 1.25, "daily_ingest": 2.5}
MIN_CYCLES = 2
# Safety stops, in seconds since the worker started: warm-up, and then
# measuring (after MIN_CYCLES), end at the next cycle boundary past these,
# so that even a much slower commit ends within the run's time limit. On
# a quiet host a run reaches neither.
WARM_UNTIL_S = 60.0
RUN_UNTIL_S = 75.0


def measure_ops(workload: str, seconds: float, cycle: int) -> int:
    return cycle * max(MIN_CYCLES, math.ceil(seconds / REF_OP_S[workload] / cycle))


def spark_cores() -> int:
    """``local[n]`` with n half the usable cores. Host steal stalls a
    stage until its slowest task's vCPU runs again: with a task thread on
    every vCPU, one core of simulated steal made a curation op 1.9x slower,
    with half of them 1.5x, and neither workload is slower on half on a
    quiet host (README.md, "Contention")."""
    return max(1, len(os.sched_getaffinity(0)) // 2)


WORKER_TIMEOUT_S = 160

# Each workload's own layers (spans are timed in worker.py around calls into
# public functions). A traced run reports the layers of every workload in
# BENCHMARK.json, 0 for those it does not run, and then its own.
LAYERS = {
    "agent_sql": {"sources.register_views_s": "s", "pipelines.sql_plan_s": "s", "pipelines.sql_exec_s": "s"},
    "curation": {"plans.build_s": "s", "plans.exec_s": "s", "plans.build_jobs": "count"},
    "daily_ingest": {"pipelines.ticket_s": "s", "pipelines.mp_report_s": "s", "pipelines.bank_mail_s": "s",
                     "merge.gold_files_added": "count", "proc.py_worker_cpu_s": "s"},
}


def build_inputs(workload: str, seed: int, work: str, tiny: bool) -> dict:
    """Write the workload's inputs and expected results under ``work``."""
    from e2ebench import inputs

    spec = {"expected": f"{work}/expected.json"}
    if workload == "agent_sql":
        spec["tables"] = f"{work}/tables"
        inputs.write_tables(spec["tables"], 0.001 if tiny else 0.1, seed)
        expected = inputs.agent_questions(spec["tables"], seed, per_template=1 if tiny else 3)
        spec["cycle"] = len(inputs.TEMPLATES)
    elif workload == "daily_ingest":
        expected = inputs.write_ingest(f"{work}/bronze", seed, tiny)
        spec["cycle"] = len(expected["days"])
    else:
        from etl_expenses_spark.plans import REGISTRY

        spec["tables"] = f"{work}/tables"
        inputs.write_documents(spec["tables"], 50 if tiny else 500, seed)
        expected = inputs.curation_answer(spec["tables"], REGISTRY["dedup_cluster_components"].oracle)
        spec["cycle"] = 1
    with open(spec["expected"], "w") as f:
        json.dump(expected, f)
    return spec


def _reap_all() -> None:
    """Kill and wait for every process left below this one (orphans are
    re-parented here: this process is a child subreaper)."""
    from e2ebench.procstat import descendants

    for pid in descendants(os.getpid())[1:]:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while True:
        try:
            if os.waitpid(-1, 0)[0] == 0:
                break
        except ChildProcessError:
            break


def run_worker(spec: dict, work: str) -> tuple[float, dict]:
    """Start the worker; return (set-up seconds, its result record)."""
    env = dict(os.environ, TMPDIR=f"{work}/tmp", SPARK_LOCAL_DIRS=f"{work}/spark-local",
               PYTHONDONTWRITEBYTECODE="1")
    env["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, env.get("PYTHONPATH")]))
    spec_path = f"{work}/spec.json"
    with open(spec_path, "w") as f:
        json.dump(spec, f)
    log = open(f"{work}/worker.log", "w")
    t0 = time.perf_counter()
    proc = subprocess.Popen(
        [sys.executable, os.path.join(ROOT, "e2ebench", "worker.py"), spec_path],
        stdout=subprocess.PIPE, stderr=log, env=env, text=True,
    )
    setup_s = None
    try:
        for line in proc.stdout:
            if line.strip() == "READY":
                setup_s = time.perf_counter() - t0
                break
        proc.wait(timeout=max(1.0, WORKER_TIMEOUT_S - (time.perf_counter() - t0)))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    finally:
        log.close()
        _reap_all()
    if proc.returncode != 0 or setup_s is None or not os.path.exists(spec["result"]):
        with open(f"{work}/worker.log") as f:
            tail = f.read()[-4000:]
        raise RuntimeError(f"worker failed (exit {proc.returncode}):\n{tail}")
    with open(spec["result"]) as f:
        return setup_s, json.load(f)


def _median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def _layer(name: str, ops: list[dict], rows: list[dict]) -> float:
    """Median over the ops of one ``LAYERS`` metric (0 if not run)."""
    if name == "plans.build_jobs":
        return _median(row.get("jobs_in:plans.build_s", 0) for row in rows)
    if name == "merge.gold_files_added":
        return _median(r["gold_files_added"] for r in ops)
    if name == "proc.py_worker_cpu_s":
        return _median(r["cpu"]["py_worker"] for r in ops)
    return _median(r["spans"][name][1] - r["spans"][name][0] for r in ops if name in r["spans"])


def metrics(workload: str, setup_s: float, res: dict, trace: bool) -> dict:
    ops = res["ops"]
    if not trace:
        vals = {
            "setup_s": (setup_s, "s"),
            "cpu_s_per_op": (sum(sum(r["cpu"].values()) for r in ops) / len(ops), "s"),
            "peak_rss_mb": (res["peak_rss_mb"], "MB"),
        }
    else:
        from e2ebench.eventlog import SPARK_METRICS

        rows = res["layers"]
        vals = {"trace.op_p50_s": (_median(r["wall"] for r in ops), "s")}
        for name, unit in SPARK_METRICS.items():
            vals[name] = (_median(row[name] for row in rows), unit)
        for cls in ("jvm", "py_driver"):
            vals[f"proc.{cls}_cpu_s"] = (_median(r["cpu"][cls] for r in ops), "s")
        for name in ("session.jvm_s", "session.first_job_s", "session.py_workers_s"):
            vals[name] = (res["phases"][name], "s")
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            benchmarked = [w["name"] for w in json.load(f)["workloads"]]
        for w in benchmarked + [workload]:
            for name, unit in LAYERS[w].items():
                vals[name] = (_layer(name, ops, rows), unit)
    return {k: {"value": v, "unit": u} for k, (v, u) in vals.items()}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WARM_OPS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="tiny inputs and warm-up (smoke test)")
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import etl_expenses_spark  # noqa: F401
    except ImportError as e:
        print(f"the engine is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl(36, 1, 0, 0, 0)  # PR_SET_CHILD_SUBREAPER
    # on SIGTERM, unwind through the finally blocks that stop the worker
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))

    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    for sub in ("tmp", "spark-local"):
        os.makedirs(f"{work}/{sub}")
    try:
        spec = build_inputs(args.workload, args.seed, work, args.tiny)
        spec.update(
            root=ROOT, work=work, workload=args.workload,
            trace=args.trace, heap=HEAP, jvm_opts=JVM_OPTS, cores=spark_cores(),
            warm_ops=2 if args.tiny else WARM_OPS[args.workload], warm_until_s=WARM_UNTIL_S,
            measure_ops=measure_ops(args.workload, args.seconds, spec["cycle"]),
            min_cycles=MIN_CYCLES, run_until_s=RUN_UNTIL_S,
            result=f"{work}/result.json",
        )
        setup_s, res = run_worker(spec, work)
    except Exception as e:
        print(f"benchmark failed: {e}", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)

    ops = res["ops"]
    walls = [r["wall"] for r in ops]
    failed = sum(not r["ok"] for r in ops)
    detail = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "local_n": spec["cores"], "heap": HEAP, "py_workers": res["phases"]["py_workers"],
        "setup_s": round(setup_s, 3), "warm_ops": res["warm_ops"], "warm_s": round(res["warm_s"], 2),
        "warm_cpu_level": res["warm_cpu_level"], "warm_failed": res["warm_failed"],
        "ops": len(ops), "cycle": res["cycle"], "failed": failed,
        "measure_s": round(res["measure_s"], 2), "op_p50_s": round(_median(walls), 4),
        "op_p90_s": round(statistics.quantiles(walls, n=10, method="inclusive")[8], 4),
        "drift": res["drift"],
        "steal_cores": round(res["steal_cores"], 3), "ext_cores": round(res["ext_cores"], 3),
        "errors": res["errors"],
    }
    print("detail: " + json.dumps(detail))
    print(json.dumps({
        "correct": failed == 0 and res["warm_failed"] == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": metrics(args.workload, setup_s, res, bool(args.trace)),
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
