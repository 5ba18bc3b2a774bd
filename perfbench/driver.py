"""Engine process of one benchmark run.

    python3 perfbench/driver.py PLAN_JSON SPAWN_TIME

Started fresh by ``run.py`` for every run.  It sets the engine up the
way a server would (Spark session, catalog, Flask app, rollups), runs
the plan's operations as a closed loop with one client, and writes raw
observations next to the plan: per-operation latency, status, CPU,
Spark jobs (by job group), response bodies for checking, peak RSS, and
the spans of a traced run.  It computes no metric and checks no answer;
``run.py`` does both after this process has exited.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import sys
import time

ROOT = os.getcwd()
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def vm_hwm_kb(pid: int | str = "self") -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


class Engine:
    """One set-up of the program: session, app and rollups."""

    def __init__(self, plan: dict):
        from mondrian_rest_spark import api, tpch
        from mondrian_rest_spark.sources import registry

        self.plan = plan
        self.spark = registry.build_session(
            app_name="perfbench", master=plan["master"],
            shuffle_partitions=plan["shuffle_partitions"])
        self.spark.sparkContext.setLogLevel("ERROR")
        self.mgr = self.app = self.client = self.queries = None
        data = plan["data_dir"]
        if plan["workload"] == "corpus_batch":
            import __spark_entry__
            self.queries = __spark_entry__.queries()
            return
        if plan["rollups"]:
            from mondrian_rest_spark.plans.rollup import RollupManager
            self.mgr = RollupManager(self.spark, data, tpch.CATALOG, "Sales")
            for name, grain in plan["rollups"]:
                self.mgr.register(name, tuple(grain))
        self.app = api.create_app(tpch.CATALOG, data, spark=self.spark,
                                  rollup_manager=self.mgr)
        self.client = self.app.test_client()

    def cache_stats(self) -> dict | None:
        if self.app is None:
            return None
        return dict(self.app.extensions["mrs_result_cache"][1])


def job_records(sc, rid: str) -> list[list]:
    """[job id, submitted s, completed s, stages run, stages skipped,
    tasks] for every Spark job of one request's job group."""
    store = sc._jsc.sc().statusStore()
    out = []
    for j in sc.statusTracker().getJobIdsForGroup(rid):
        jd = store.job(j)
        sub, comp = jd.submissionTime(), jd.completionTime()
        out.append([j, sub.get().getTime() / 1e3 if sub.isDefined() else None,
                    comp.get().getTime() / 1e3 if comp.isDefined() else None,
                    jd.numCompletedStages(), jd.numSkippedStages(),
                    jd.numCompletedTasks()])
    return out


def run_op(eng: Engine, op: dict, state: dict):
    """Execute one operation; returns (status, body or rows)."""
    kind = op["kind"]
    if kind == "get":
        r = eng.client.get(op["url"])
        return r.status_code, r.get_data()
    if kind == "mdx":
        r = eng.client.post(op["url"], data=op["body"])
        return r.status_code, r.get_data()
    if kind == "append":
        from mondrian_rest_spark.sources.registry import load_table
        src = os.path.join(state["batches"], f"b{op['batch']:03d}")
        # the batch lands in the fact table's directory, then the rollups
        # fold it in through the manager (the app's cache hook fires)
        shutil.copy(os.path.join(src, "lineitem.parquet"),
                    os.path.join(eng.plan["data_dir"], "lineitem.parquet",
                                 f"batch-{op['batch']:03d}.parquet"))
        eng.mgr.append(load_table(eng.spark, src, "lineitem"))
        state["epoch"] += 1
        return 200, None
    if kind == "corpus":
        df = eng.queries[op["query"]](
            eng.spark, os.path.join(state["slices"], op["slice"]))
        return 200, (list(df.columns), df.collect())
    raise ValueError(f"unknown operation kind {kind!r}")


def fresh_modules() -> None:
    """Forget the program's modules so the next set-up imports them anew."""
    for name in [m for m in sys.modules
                 if m.split(".")[0] in ("mondrian_rest_spark",
                                        "__spark_entry__")]:
        del sys.modules[name]


class Runner:
    """Runs operations with a request id as Spark job group and keeps
    what the checks and metrics need."""

    def __init__(self, plan: dict, work: str, tracer):
        self.plan, self.tracer = plan, tracer
        self.state = {"epoch": 0, "batches": os.path.join(work, "batches"),
                      "slices": os.path.join(work, "slices")}
        self.bodies, self.digests, self.corpus_rows = {}, {}, {}

    def __call__(self, eng: Engine, op: dict, phase: str, i: int) -> dict:
        sc = eng.spark.sparkContext
        rid = f"{self.plan['workload']}-{self.plan['seed']}-{phase}{i}"
        if self.tracer:
            self.tracer.rid = rid
        sc.setJobGroup(rid, rid)
        epoch = self.state["epoch"]
        ts, t0, c0 = time.time(), time.perf_counter(), time.process_time()
        err = None
        try:
            status, out = run_op(eng, op, self.state)
        except Exception as e:  # a failed operation is a result, not a crash
            status, out, err = "exception", None, f"{type(e).__name__}: {e}"
        rec = {"phase": phase, "i": i, "rid": rid, "kind": op["kind"],
               "ts": ts, "lat": time.perf_counter() - t0,
               "cpu": time.process_time() - c0, "status": status,
               "err": err, "epoch": epoch}
        if op["kind"] in ("get", "mdx") and isinstance(out, bytes):
            key = (f"{phase}{i}" if phase == "first"
                   else f"t{op.get('tile', i)}-e{epoch}")
            d = hashlib.blake2b(out, digest_size=16).hexdigest()
            if key not in self.digests:
                self.digests[key], self.bodies[key] = d, out
            elif self.digests[key] != d:
                rec["err"] = "response differs from an earlier identical request"
            rec["key"] = key
        elif op["kind"] == "corpus" and out is not None:
            self.corpus_rows[f"{phase}{i}"] = out
        if self.tracer:
            rec["jobs"] = job_records(sc, rid)
            rec["persisted"] = sc._jsc.getPersistentRDDs().size()
        return rec

    def save(self, work: str) -> None:
        os.makedirs(os.path.join(work, "bodies"), exist_ok=True)
        for key, body in self.bodies.items():
            with open(os.path.join(work, "bodies", key), "wb") as f:
                f.write(body)
        for key, (cols, rows) in self.corpus_rows.items():
            with open(os.path.join(work, "bodies", key + ".json"), "w") as f:
                json.dump({"columns": cols, "rows": [
                    [v.isoformat(sep=" ") if hasattr(v, "isoformat") else v
                     for v in r] for r in rows]}, f)


def main() -> None:
    plan_path, spawn = sys.argv[1], float(sys.argv[2])
    with open(plan_path) as f:
        plan = json.load(f)
    work = os.path.dirname(os.path.abspath(plan_path))
    tracer = None
    if plan["trace"]:
        from tracing import Tracer, install
        tracer = Tracer()

    # three set-ups: the first from process start, followed by the
    # workload's first request; the others with freshly imported program
    # modules and a new Spark session on the warm JVM.  setup_s is their
    # median; the window runs on the last one.
    run = Runner(plan, work, tracer)
    setups, firsts, eng = [], [], None
    for k in range(3):
        if eng is not None:
            eng.spark.stop()
            fresh_modules()
        t0 = time.perf_counter()
        if tracer:
            tracer.unpatch()
            tracer.rid = f"setup-{k}"
            if plan["workload"] == "corpus_batch":
                import __spark_entry__  # noqa: F401  (wrap its names too)
            install(tracer)
        eng = Engine(plan)
        setups.append(time.time() - spawn if k == 0
                      else time.perf_counter() - t0)
        if k == 0:
            firsts.append(run(eng, plan["first_ops"][0], "first", 0))

    sc = eng.spark.sparkContext
    jvm_pid = sc._jvm.java.lang.ProcessHandle.current().pid()
    ops, cycle, seconds = plan["ops"], plan["cycle"], plan["seconds"]
    max_ops = plan.get("max_ops") or len(ops)
    records = []
    cache0 = eng.cache_stats()
    t_window = time.perf_counter()
    for i, op in enumerate(ops[:max_ops]):
        el = time.perf_counter() - t_window
        if i and ((el >= seconds and i % cycle == 0)
                  or el >= plan["hard_cap_s"]):
            break
        records.append(run(eng, op, "op", i))
    window_s = time.perf_counter() - t_window
    cache1 = eng.cache_stats()
    rss = {"py_kb": vm_hwm_kb(), "jvm_kb": vm_hwm_kb(jvm_pid)}
    import pyspark
    spark_version = eng.spark.version
    eng.spark.stop()

    run.save(work)
    if tracer:
        tracer.dump(os.path.join(work, "spans.jsonl"))
    with open(os.path.join(work, "result.json"), "w") as f:
        json.dump({"setups_s": setups, "firsts": firsts, "ops": records,
                   "window_s": window_s, "cache_start": cache0,
                   "cache_end": cache1, "rss": rss,
                   "spark_version": spark_version,
                   "pyspark_version": pyspark.__version__}, f)


if __name__ == "__main__":
    main()
