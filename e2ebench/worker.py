"""Spark side of the benchmark: one process, one SparkSession on
``local[n]``, one closed-loop client.

``python3 worker.py SPEC.json`` — started by ``run.py``, which times set-up
from this process's start until it prints ``READY``. By then the session is
up, its first job has run and a Python worker runs on every task slot. It then
prepares the workload, runs a fixed number of untimed warm-up ops and
then a fixed number of measured ops, both in whole cycles, checks every
op's output, and writes a JSON record to ``SPEC["result"]``.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import time
from contextlib import contextmanager

T_START = time.perf_counter()


class CheckFailed(Exception):
    pass


def expect(label: str, got, want) -> None:
    if got != want:
        raise CheckFailed(f"{label}: got {str(got)[:300]} want {str(want)[:300]}")


class Spans:
    """Wall time of the public calls inside one op (traced runs only)."""

    def __init__(self, on: bool) -> None:
        self.on = on
        self.spans: dict[str, list[float]] = {}

    @contextmanager
    def span(self, name: str):
        t0 = time.time()
        try:
            yield
        finally:
            if self.on:
                self.spans[name] = [t0, time.time()]


def gold_files(path: str) -> int:
    return sum(len([f for f in fs if f.endswith(".parquet")]) for _, _, fs in os.walk(path))


# --------------------------------------------------------------------------
# workloads: prepare() once, then per op reset(k), op(k, spans), check(k, out).
# Op k uses input k mod the number of inputs; spec["cycle"] ops make one
# pass over the input mix, and warm-up and measurement run whole cycles, so
# every run times the same mix.
# --------------------------------------------------------------------------


class AgentSql:
    """One op = one agent question: ``sql_surface`` then ``result_markdown``."""

    def __init__(self, spark, spec: dict) -> None:
        self.spark, self.dir = spark, spec["tables"]
        with open(spec["expected"]) as f:
            self.questions = json.load(f)

    def prepare(self) -> None:
        pass

    def reset(self, k: int) -> None:
        pass

    def op(self, k: int, sp: Spans):
        from etl_expenses_spark.pipelines import result_markdown, sql_surface
        from etl_expenses_spark.sources.readers import register_views

        sql = self.questions[k % len(self.questions)]["sql"]
        if not sp.on:
            return result_markdown(sql_surface(self.spark, self.dir, sql))
        # sql_surface's two steps, timed apart
        with sp.span("sources.register_views_s"):
            register_views(self.spark, self.dir)
        with sp.span("pipelines.sql_plan_s"):
            df = self.spark.sql(sql)
            df.schema
        with sp.span("pipelines.sql_exec_s"):
            return result_markdown(df)

    def check(self, k: int, md: str) -> None:
        q = self.questions[k % len(self.questions)]
        lines = md.splitlines()
        cells = [[c.strip() for c in ln.strip()[1:-1].split("|")] for ln in lines]
        expect("columns", cells[0], q["columns"])
        expect(q["sql"], cells[2:], q["rows"])


class DailyIngest:
    """One op = one day's bronze drop through the three flows, into gold
    restored (untimed) to the same history before every op."""

    def __init__(self, spark, spec: dict) -> None:
        self.spark = spark
        with open(spec["expected"]) as f:
            self.plan = json.load(f)
        self.gold0 = os.path.join(spec["work"], "gold_history")
        self.gold = os.path.join(spec["work"], "gold")
        self.files_added = 0

    def _flows(self, bronze: str, gold: str, sp: Spans) -> tuple[int, int, int]:
        from etl_expenses_spark import pipelines as P

        with sp.span("pipelines.ticket_s"):
            n1 = P.run_ticket_pipeline(self.spark, f"{bronze}/tickets", f"{gold}/carrefour_data")
        with sp.span("pipelines.mp_report_s"):
            n2 = P.run_mp_report_pipeline(self.spark, f"{bronze}/reports", f"{gold}/mp_data")
        with sp.span("pipelines.bank_mail_s"):
            n3 = P.run_bank_mail_pipeline(self.spark, f"{bronze}/mails", f"{gold}/bank_payments")
        return n1, n2, n3

    def prepare(self) -> None:
        self._flows(self.plan["history"], self.gold0, Spans(False))

    def reset(self, k: int) -> None:
        shutil.rmtree(self.gold, ignore_errors=True)
        shutil.copytree(self.gold0, self.gold)

    def op(self, k: int, sp: Spans):
        day = self.plan["days"][k % len(self.plan["days"])]
        before = gold_files(self.gold) if sp.on else 0
        out = self._flows(day["bronze"], self.gold, sp)
        self.files_added = gold_files(self.gold) - before if sp.on else 0
        return out

    def check(self, k: int, loaded) -> None:
        from pyspark.sql import functions as F

        day = self.plan["days"][k % len(self.plan["days"])]
        want = day["loaded"]
        expect("rows loaded", list(loaded), [want["tickets"], want["reports"], want["mails"]])
        read = lambda t: self.spark.read.parquet(f"{self.gold}/{t}")  # noqa: E731

        def per_key(df, key: str, amount: str) -> dict:
            rows = df.groupBy(key).agg(
                F.count(F.lit(1)).alias("n"), F.sum(F.col(amount).cast("decimal(18,2)")).alias("s")
            ).collect()
            return {str(r[key]): [r["n"], str(r["s"])] for r in rows}

        gold = day["gold"]
        expect("carrefour_data", per_key(read("carrefour_data"), "nro_ticket", "p_total"), gold["tickets"])
        expect("mp_data", per_key(read("mp_data"), "report_id", "transaction_amount"), gold["reports"])
        mids = sorted(r.message_id for r in read("bank_payments").select("message_id").collect())
        expect("bank_payments", mids, gold["mails"])


class Curation:
    """One op = the ``dedup_cluster_components`` registry builder (its BSP
    rounds run eagerly inside ``build``) followed by a noop write."""

    def __init__(self, spark, spec: dict) -> None:
        from etl_expenses_spark.plans import REGISTRY

        self.spark, self.dir = spark, spec["tables"]
        self.query = REGISTRY["dedup_cluster_components"]
        with open(spec["expected"]) as f:
            self.answer = json.load(f)

    def prepare(self) -> None:
        pass

    def reset(self, k: int) -> None:
        pass

    def op(self, k: int, sp: Spans):
        with sp.span("plans.build_s"):
            df = self.query.build(self.spark, self.dir)
        with sp.span("plans.exec_s"):
            df.write.format("noop").mode("overwrite").save()
        return df

    def check(self, k: int, df) -> None:
        rows = sorted([r.doc_id, r.cluster_id, r.is_canonical, r.cluster_size] for r in df.collect())
        expect("clusters", rows, self.answer)


WORKLOADS = {
    "agent_sql": AgentSql,
    "daily_ingest": DailyIngest,
    "curation": Curation,
}


# --------------------------------------------------------------------------
# session set-up
# --------------------------------------------------------------------------


def _worker_pid(batches):
    import os as _os
    import time as _time

    for b in batches:
        _time.sleep(0.25)  # hold the core so every task gets its own worker
        yield b.assign(pid=_os.getpid())


def start_session(spec: dict):
    from etl_expenses_spark.session import get_spark

    work, n = spec["work"], spec["cores"]
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = spec["heap"]
    conf = {
        "spark.driver.extraJavaOptions":
            f"-Duser.timezone=UTC -Djava.io.tmpdir={work}/tmp -XX:-UsePerfData -Xms{spec['heap']} "
            + spec["jvm_opts"],
        "spark.local.dir": f"{work}/spark-local",
        "spark.sql.warehouse.dir": f"{work}/warehouse",
    }
    if spec["trace"]:
        os.makedirs(f"{work}/eventlog")
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{work}/eventlog",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    phases = {}
    spark = get_spark("e2ebench", cpus=n, extra_conf=conf)
    phases["session.jvm_s"] = time.perf_counter() - T_START
    t = time.perf_counter()
    spark.range(0, n, 1, n).count()
    phases["session.first_job_s"] = time.perf_counter() - t
    t = time.perf_counter()
    pids = spark.range(0, n, 1, n).mapInPandas(_worker_pid, "id long, pid long").select("pid").collect()
    phases["session.py_workers_s"] = time.perf_counter() - t
    phases["py_workers"] = len({r.pid for r in pids})
    return spark, phases


# --------------------------------------------------------------------------
# the closed loop
# --------------------------------------------------------------------------


def half_ratio(values: list[float], cycle: int) -> float | None:
    """Median per-cycle mean of the second half of the cycles over that of
    the first half (a middle cycle of an odd count is left out). Every
    cycle holds the same input mix, so a rise late in a series reads as a
    value above 1 and a fall as a value below 1."""
    means = [statistics.mean(values[i : i + cycle]) for i in range(0, len(values) - cycle + 1, cycle)]
    half = len(means) // 2
    if not half:
        return None
    return statistics.median(means[-half:]) / statistics.median(means[:half])


def run_op(spark, wl, k: int, tree, traced: bool, group: str) -> dict:
    wl.reset(k)
    sp = Spans(traced)
    cpu0 = tree.sample()
    spark.sparkContext.setJobGroup(group, group)
    t0, p0 = time.time(), time.perf_counter()
    rec: dict = {"ok": False}
    try:
        out = wl.op(k, sp)
        rec["wall"] = time.perf_counter() - p0
        rec["t0"], rec["t1"] = t0, time.time()
        cpu1 = tree.sample()
        rec["cpu"] = {c: cpu1[c] - cpu0[c] for c in cpu1}
        spark.sparkContext.setJobGroup("check", "check")
        wl.check(k, out)
        rec["ok"] = True
    except Exception as e:  # a failed op is counted, never retried
        rec["error"] = f"{type(e).__name__}: {str(e)[:400]}"
        rec.setdefault("wall", time.perf_counter() - p0)
        rec.setdefault("t0", t0)
        rec.setdefault("t1", time.time())
        rec.setdefault("cpu", {c: v - cpu0[c] for c, v in tree.sample().items()})
    rec["spans"] = sp.spans
    rec["gold_files_added"] = getattr(wl, "files_added", 0)
    return rec


def main(spec_path: str) -> None:
    with open(spec_path) as f:
        spec = json.load(f)
    sys.path.insert(0, spec["root"])
    from e2ebench.procstat import ProcTree, steal_ticks
    from tools.cpuprobe import ContentionWindow

    spark, phases = start_session(spec)
    print("READY", flush=True)

    traced = bool(spec["trace"])
    tree = ProcTree()
    tree.start_sampler()
    wl = WORKLOADS[spec["workload"]](spark, spec)
    wl.prepare()
    cycle = spec["cycle"]

    # Warm-up: a fixed number of ops, cut short (in whole cycles) only once
    # warm_until_s have passed since this process started, which keeps a
    # much slower commit inside the run's time limit.
    warm: list[dict] = []
    t_warm = time.perf_counter()
    while len(warm) < spec["warm_ops"] and not (
        len(warm) % cycle == 0 and time.perf_counter() - T_START > spec["warm_until_s"]
    ):
        warm.append(run_op(spark, wl, len(warm), tree, False, "warm"))
    warm_s = time.perf_counter() - t_warm

    # Measured ops: a fixed number of whole cycles, cut short (at a cycle
    # boundary, after min_cycles) only once run_until_s have passed since
    # this process started. Every op is timed.
    ops: list[dict] = []
    steal0 = steal_ticks()
    contention = ContentionWindow()
    t_meas = time.perf_counter()
    while len(ops) < spec["measure_ops"] and not (
        len(ops) % cycle == 0
        and len(ops) >= spec["min_cycles"] * cycle
        and time.perf_counter() - T_START > spec["run_until_s"]
    ):
        ops.append(run_op(spark, wl, len(ops), tree, traced, f"op-{len(ops)}"))
    meas_s = time.perf_counter() - t_meas
    tree.stop_sampler()
    steal1 = steal_ticks()

    result = {
        "phases": phases,
        "cycle": cycle,
        "warm_ops": len(warm),
        "warm_s": warm_s,
        "warm_cpu_level": half_ratio([sum(r["cpu"].values()) for r in warm], cycle),
        "drift": half_ratio([r["wall"] for r in ops], cycle),
        "warm_failed": sum(not r["ok"] for r in warm),
        "ops": ops,
        "measure_s": meas_s,
        "peak_rss_mb": tree.peak_rss() / (1024 * 1024),
        "steal_cores": (steal1 - steal0) / os.sysconf("SC_CLK_TCK") / meas_s,
        "ext_cores": contention.external_cores(meas_s),
        "errors": sorted({r["error"] for r in warm + ops if "error" in r})[:5],
    }
    spark.stop()
    if traced:
        from e2ebench.eventlog import op_metrics

        (log,) = os.listdir(f"{spec['work']}/eventlog")
        result["layers"] = op_metrics(f"{spec['work']}/eventlog/{log}", ops)
    with open(spec["result"], "w") as f:
        json.dump(result, f)


if __name__ == "__main__":
    main(sys.argv[1])
