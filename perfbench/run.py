#!/usr/bin/env python3
"""End-to-end benchmark of the REST OLAP server and the corpus operators.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --workload all --seed N --seconds S

Run from the repository root.  Workloads:

- ``olap_cold``: an analyst exploring; distinct /aggregate and /mdx
  requests over the headline OLAP shapes, so the result cache never hits;
- ``olap_dashboard``: a dashboard refreshed while facts land; a fixed
  Zipf-skewed pool of reads through a rollup-routed app, with a
  RollupManager.append of a 1k-row batch in every 13 operations;
- ``corpus_batch``: corpus-cleaning operator calls (thunk + collect),
  each over its own seeded slice of the corpus.

For each run this script generates the data and the operation list from
the seed, starts a fresh engine process (``driver.py``) that serves them
as a closed loop with one in-process client on ``local[4]``, checks every
answer against DuckDB over the same parquet, and prints a full report
line followed, as the last line, by one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.  ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` wraps the layer boundaries and
reports per-layer metrics instead.  ``--workload all`` runs every
workload untraced and traced and reports the tracing overhead.

The engine is set up three times in the run (``setup_s`` is the median);
the first request follows the first set-up, and the measured window runs
on the last one.  The window ends on the first cycle boundary after
``--seconds``: 13 operations with one append (olap_dashboard), a pass
over the eight operators (corpus_batch), a pass over the 13 shapes
(olap_cold).  Every run of a workload thus does whole cycles of the same
operation kinds.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("olap_cold", "olap_dashboard", "corpus_batch")
N_CORES = min(4, os.cpu_count() or 1)
APPEND_EVERY = 13
COLD_CYCLE = 13
BATCH_ROWS = 1000
RUN_LIMIT_S = 170
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem")

END_TO_END = {  # name -> unit
    "setup_s": "s", "first_request_s": "s", "throughput_rps": "ops/s",
    "latency_p50_s": "s", "latency_tail_s": "s", "driver_rss_mb": "MB",
}
OPERATOR_MODULES = ("dedup", "similarity", "textstats", "windows",
                    "multimodal")
PER_LAYER = {
    "parser.params_s": "s", "mdx.compile_s": "s",
    "planner.build_s": "s", "planner.build_jobs": "count",
    "spark.execute_s": "s", "spark.jobs": "count", "spark.stages": "count",
    "spark.tasks": "count", "spark.persisted_rdds": "count",
    "api.cache_hits": "count", "api.cache_misses": "count",
    "api.cache_hit_ratio": "ratio", "api.cache_cells": "cells",
    "result.shape_s": "s", "result.cells": "cells",
    "formats.json_s": "s", "formats.csv_s": "s", "formats.jsonrecords_s": "s",
    "formats.xlsx_s": "s", "formats.bytes_out": "bytes",
    "members.payload_s": "s", "members.jobs": "count",
    "rollup.route_s": "s", "rollup.routed_ratio": "ratio",
    "rollup.append_s": "s", "rollup.append_jobs": "count",
    "rollup.read_stages": "count",
    **{f"operators.{m}.{k}": u for m in OPERATOR_MODULES
       for k, u in (("build_s", "s"), ("execute_s", "s"), ("jobs", "count"))},
    "registry.build_session_s": "s", "registry.load_table_s": "s",
    "driver.py_cpu_s": "s", "trace.throughput_rps": "ops/s",
}


def fail(msg: str) -> None:
    sys.stderr.write(f"perfbench: {msg}\n")
    sys.exit(2)


# ------------------------------------------------------------------ inputs

def prepare(work: str, workload: str, seed: int, seconds: int, size: str,
            max_ops: int | None) -> dict:
    """Generate data and the operation list; returns the plan."""
    import numpy as np
    import pyarrow.parquet as pq

    import datagen
    import workloads as W

    data = os.path.join(work, "data")
    sizes = datagen.generate(data, seed, size,
                             corpus=workload == "corpus_batch")
    cycles = min(12, math.ceil(seconds / 2) + 2)
    plan = {"workload": workload, "seed": seed, "seconds": seconds,
            "data_dir": data, "master": f"local[{N_CORES}]",
            "shuffle_partitions": N_CORES, "rollups": [],
            "hard_cap_s": 90,
            "max_ops": max_ops}
    if workload == "olap_cold":
        first, ops = W.plan_olap_cold(seed, cycles)
        plan.update(first_ops=first, ops=ops, cycle=COLD_CYCLE)
    elif workload == "olap_dashboard":
        first, ops = W.plan_dashboard(seed, APPEND_EVERY * cycles,
                                      APPEND_EVERY)
        plan.update(first_ops=first, ops=ops, cycle=APPEND_EVERY,
                    rollups=W.ROLLUPS)
        # the fact table becomes a directory so appended batches land in it
        li = os.path.join(data, "lineitem.parquet")
        os.rename(li, li + ".base")
        os.makedirs(li)
        os.rename(li + ".base", os.path.join(li, "part-000.parquet"))
        rng = np.random.default_rng([seed, 4])
        for b in range(sum(o["kind"] == "append" for o in ops)):
            out = os.path.join(work, "batches", f"b{b:03d}")
            os.makedirs(out)
            pq.write_table(datagen.lineitem_table(
                rng, BATCH_ROWS, sizes["orders"], sizes["part"],
                sizes["supplier"]), os.path.join(out, "lineitem.parquet"))
    else:
        first, ops = W.plan_corpus(seed, min(8, math.ceil(seconds / 4) + 1))
        W.write_slices(data, os.path.join(work, "slices"), first + ops)
        plan.update(first_ops=first, ops=ops, cycle=len(W.CORPUS_OPS))
    return plan


# ------------------------------------------------------------- the engine

def _group_alive(pgid: int) -> bool:
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            try:
                with open(f"/proc/{pid}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
                # fields: state, ppid, pgrp; a zombie has already ended
                if fields[0] != "Z" and int(fields[2]) == pgid:
                    return True
            except (OSError, IndexError, ValueError):
                continue
    return False


def run_engine(work: str, deadline: float) -> None:
    """Start driver.py in its own process group, wait for it, and make
    sure every process it started (the JVM included) has ended."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ,
               PYTHONPATH=os.pathsep.join(
                   [ROOT] + [p for p in os.environ.get(
                       "PYTHONPATH", "").split(os.pathsep) if p]),
               PYSPARK_SUBMIT_ARGS=(
                   "--conf spark.ui.showConsoleProgress=false "
                   "--conf spark.ui.enabled=false pyspark-shell"),
               # every JVM spark-submit starts keeps its files in the run
               JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
               SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
               SPARK_GRAFT_DRIVER_MEM="1g", TMPDIR=tmp, TZ="UTC",
               PYTHONHASHSEED="0")
    with open(os.path.join(work, "driver.log"), "w") as log:
        p = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "driver.py"),
             os.path.join(work, "plan.json"), repr(time.time())],
            cwd=ROOT, env=env, stdout=log, stderr=subprocess.STDOUT,
            start_new_session=True)
        try:
            p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            pass
        finally:
            _stop_group(p)
    if p.returncode != 0 or not os.path.exists(
            os.path.join(work, "result.json")):
        with open(os.path.join(work, "driver.log")) as f:
            tail = f.read()[-3000:]
        fail(f"engine process failed (exit {p.returncode}):\n{tail}")


def _stop_group(p: subprocess.Popen) -> None:
    """Stop every process left in the engine's process group and wait
    until they have ended."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        if not _group_alive(p.pid):
            break
        try:
            os.killpg(p.pid, sig)
        except ProcessLookupError:
            break
        for _ in range(50):
            if not _group_alive(p.pid):
                break
            time.sleep(0.1)
    p.wait()


# ------------------------------------------------------------------ checks

def _duck_olap(data: str, batches: list[str]):
    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        if t == "lineitem" and os.path.isdir(os.path.join(data, t + ".parquet")):
            files = [os.path.join(data, t + ".parquet", "part-000.parquet")]
            files += batches
            src = "read_parquet([" + ", ".join(f"'{f}'" for f in files) + "])"
        else:
            src = f"read_parquet('{os.path.join(data, t + '.parquet')}')"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM {src}")
    return con


def check(work: str, plan: dict, res: dict) -> list[str]:
    """Check every executed operation; returns one message per failure
    (exceptions, non-2xx statuses and wrong answers alike)."""
    import checks as C

    failures = []
    done = {}
    cons = {}
    for rec in res["firsts"] + res["ops"]:
        op = op_of(plan, rec)
        name = f"{rec['phase']} {rec['i']}"
        if rec["err"] or rec["status"] != 200:
            failures.append(f"{name} ({op['kind']}): "
                            f"{rec['err'] or 'status ' + str(rec['status'])}")
            continue
        if op["kind"] == "append":
            continue
        try:
            if op["kind"] == "corpus":
                msg = _check_corpus(work, plan, rec, op)
            else:
                key = rec["key"]
                if key in done:
                    msg = done[key]
                else:
                    ep = rec["epoch"]
                    if ep not in cons:
                        cons[ep] = _duck_olap(plan["data_dir"], [
                            os.path.join(work, "batches", f"b{b:03d}",
                                         "lineitem.parquet")
                            for b in range(ep)])
                    with open(os.path.join(work, "bodies", key), "rb") as f:
                        body = f.read()
                    got = C.response_rows(op["fmt"], body, op["expect"])
                    want = C.expected_rows(cons[ep], op["expect"])
                    msg = done[key] = C.diff_rows(got, want)
        except Exception as e:  # an unreadable answer is a wrong answer
            msg = f"{type(e).__name__}: {e}"
        if msg:
            failures.append(f"{name} ({op.get('url') or op.get('query')})"
                            f": {msg}")
    return failures


def op_of(plan: dict, rec: dict) -> dict:
    return plan["first_ops" if rec["phase"] == "first" else "ops"][rec["i"]]


def _check_corpus(work: str, plan: dict, rec: dict, op: dict) -> str | None:
    import duckdb

    import __spark_entry__
    import checks as C
    import workloads as W

    with open(os.path.join(work, "bodies",
                           f"{rec['phase']}{rec['i']}.json")) as f:
        got = json.load(f)
    con = duckdb.connect()
    src = os.path.join(plan["data_dir"], f"{op['table']}.parquet")
    con.execute(f"CREATE VIEW {op['table']} AS SELECT * FROM read_parquet("
                f"'{src}') WHERE {W.slice_sql(op['key'], op['mult'], op['off'])}")
    cur = con.execute(__spark_entry__.oracle_sql()[op["query"]])
    cols = [d[0] for d in cur.description]
    want = [[v.isoformat(sep=" ") if hasattr(v, "isoformat") else v
             for v in r] for r in cur.fetchall()]
    if sorted(cols) != sorted(got["columns"]):
        return f"columns {sorted(got['columns'])} != expected {sorted(cols)}"
    return C.diff_rows(C.frame_rows(got["columns"], got["rows"]),
                       C.frame_rows(cols, want))


# ----------------------------------------------------------------- metrics

def tail(lats: list[float]) -> tuple[float, float, int]:
    """(value, percentile, samples): the highest percentile with at least
    ten samples beyond it, once that is at least the 90th (100 samples);
    below that it would not be a tail, so the maximum is reported."""
    s = sorted(lats)
    n = len(s)
    if n >= 100:
        return s[n - 11], 100.0 * (n - 10) / n, n
    return (s[-1] if s else 0.0), 100.0, n


def end_to_end(res: dict) -> tuple[dict, dict]:
    window = res["ops"]
    reads = [r["lat"] for r in window if r["kind"] != "append"]
    writes = [r["lat"] for r in window if r["kind"] == "append"]
    tv, tp, tn = tail(reads)
    m = {
        "setup_s": statistics.median(res["setups_s"]),
        "first_request_s": res["firsts"][0]["lat"],
        "throughput_rps": len(window) / res["window_s"],
        "latency_p50_s": statistics.median(reads) if reads else 0.0,
        "latency_tail_s": tv,
        "driver_rss_mb": (res["rss"]["py_kb"] + res["rss"]["jvm_kb"]) / 1024,
    }
    extra = {"latency_tail_percentile": tp, "latency_samples": tn,
             "write_p50_s": statistics.median(writes) if writes else None,
             "writes": len(writes), "setup_samples_s": res["setups_s"],
             "window_s": res["window_s"], "ops_in_window": len(window)}
    return m, extra


def _outermost(spans: list[dict], name_pred) -> list[int]:
    out = []
    for i, s in enumerate(spans):
        if not name_pred(s["name"]):
            continue
        p = s["parent"]
        nested = False
        while p is not None:
            if name_pred(spans[p]["name"]):
                nested = True
                break
            p = spans[p]["parent"]
        if not nested:
            out.append(i)
    return out


def per_layer(plan: dict, res: dict, spans: list[dict]) -> tuple[dict, dict]:
    import tracing

    ops = res["firsts"] + res["ops"]
    window = {r["rid"]: r for r in res["ops"]}
    n = max(1, len(window))
    dur = lambda s: s["end"] - s["start"]  # noqa: E731
    jobs_of = {r["rid"]: r.get("jobs", []) for r in ops}

    def incl(pred, rids=window):
        return sum(dur(spans[i]) for i in _outermost(spans, pred)
                   if spans[i]["rid"] in rids)

    def jobs_in(pred) -> int:
        c = 0
        for i in _outermost(spans, pred):
            s = spans[i]
            if s["rid"] in window:
                c += sum(1 for j in jobs_of[s["rid"]]
                         if j[1] is not None
                         and s["start"] - 0.002 <= j[1] <= s["end"] + 0.002)
        return c

    def exec_time(jobs: list) -> float:
        iv = sorted((j[1], j[2]) for j in jobs if j[1] and j[2])
        tot, cur_s, cur_e = 0.0, None, None
        for a, b in iv:
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    tot += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        return tot + ((cur_e - cur_s) if cur_e is not None else 0.0)

    wj = [jobs_of[r] for r in window]
    m = {k: 0.0 for k in PER_LAYER}
    m["parser.params_s"] = incl(lambda x: x == "parser.params") / n
    m["mdx.compile_s"] = incl(lambda x: x == "mdx.compile") / n
    m["planner.build_s"] = incl(lambda x: x == "planner.build") / n
    m["planner.build_jobs"] = jobs_in(lambda x: x == "planner.build") / n
    m["spark.execute_s"] = sum(exec_time(j) for j in wj) / n
    m["spark.jobs"] = sum(len(j) for j in wj) / n
    m["spark.stages"] = sum(x[3] for j in wj for x in j) / n
    m["spark.tasks"] = sum(x[5] for j in wj for x in j) / n
    m["spark.persisted_rdds"] = max(
        (r.get("persisted", 0) for r in window.values()), default=0)
    c0, c1 = res["cache_start"], res["cache_end"]
    if c0 and c1:
        hits, misses = c1["hits"] - c0["hits"], c1["misses"] - c0["misses"]
        m["api.cache_hits"], m["api.cache_misses"] = hits, misses
        m["api.cache_hit_ratio"] = hits / (hits + misses) if hits + misses else 0.0
        m["api.cache_cells"] = c1["cells"]
    m["result.shape_s"] = incl(lambda x: x == "result.shape") / n
    m["result.cells"] = sum(s.get("cells", 0) for s in spans
                            if s["name"] == "result.shape"
                            and s["rid"] in window) / n
    for f in ("json", "csv", "jsonrecords", "xlsx"):
        m[f"formats.{f}_s"] = incl(lambda x, f=f: x == f"formats.{f}") / n
    m["formats.bytes_out"] = sum(s.get("bytes", 0) for s in spans
                                 if s["name"].startswith("formats.")
                                 and s["rid"] in window) / n
    m["members.payload_s"] = incl(lambda x: x == "members.payload") / n
    m["members.jobs"] = jobs_in(lambda x: x == "members.payload") / n
    routes = [spans[i] for i in _outermost(spans, lambda x: x == "rollup.route")
              if spans[i]["rid"] in window]
    m["rollup.route_s"] = sum(dur(s) for s in routes) / n
    if routes:
        m["rollup.routed_ratio"] = sum(
            s.get("source", "base") != "base" for s in routes) / len(routes)
    appends = [r for r in window.values() if r["kind"] == "append"]
    if appends:
        m["rollup.append_s"] = incl(lambda x: x == "rollup.append") / len(appends)
        m["rollup.append_jobs"] = jobs_in(
            lambda x: x == "rollup.append") / len(appends)
    routed = {s["rid"] for s in routes if s.get("source", "base") != "base"}
    routed_stages = [sum(x[3] for x in jobs_of[r]) for r in routed]
    if routed_stages:
        m["rollup.read_stages"] = statistics.mean(routed_stages)
    for mod in OPERATOR_MODULES:
        name = f"operators.{mod}"
        m[f"{name}.build_s"] = incl(lambda x, name=name: x == name) / n
        mine = {s["rid"] for s in spans if s["name"] == name
                and s["rid"] in window}
        m[f"{name}.execute_s"] = incl(lambda x: x == "spark.collect",
                                      mine) / n
        m[f"{name}.jobs"] = sum(len(jobs_of[r]) for r in mine) / n
    # build_session: median over the set-ups, like setup_s; load_table:
    # the cold set-up and the first request, like first_request_s
    m["registry.build_session_s"] = statistics.median(
        incl(lambda x: x == "registry.build_session", {f"setup-{k}"})
        for k in range(len(res["setups_s"])))
    m["registry.load_table_s"] = incl(
        lambda x: x == "registry.load_table",
        {"setup-0"} | {r["rid"] for r in res["firsts"]})
    m["driver.py_cpu_s"] = sum(r["cpu"] for r in window.values()) / n
    m["trace.throughput_rps"] = (len(window) / res["window_s"]
                                 if res["window_s"] else 0.0)
    selfs = tracing.self_times(spans)
    self_by = {}
    for s, t in zip(spans, selfs):
        if s["rid"] in window:
            self_by[s["name"]] = self_by.get(s["name"], 0.0) + t / n
    extra = {"self_time_per_op_s": dict(sorted(self_by.items())),
             "persisted_rdds_series": [r.get("persisted") for r in ops],
             "routed_read_stages": [
                 [window[r]["i"], window[r]["epoch"],
                  sum(x[3] for x in jobs_of[r])] for r in sorted(routed)]}
    return m, extra


# -------------------------------------------------------------------- main

def run_record() -> dict:
    import duckdb
    import pyarrow
    try:
        sha = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                             capture_output=True, text=True,
                             timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        sha = None
    return {"nproc": os.cpu_count(), "git_sha": sha,
            "pyarrow": pyarrow.__version__, "duckdb": duckdb.__version__,
            "python": sys.version.split()[0]}


def run_one(workload: str, seed: int, seconds: int, trace: int,
            size: str = "bench", max_ops: int | None = None
            ) -> tuple[dict, dict]:
    t_start = time.time()
    record = run_record()
    record["loadavg_start"] = list(os.getloadavg())
    work = os.path.join(ROOT, ".perfbench", f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        plan = prepare(work, workload, seed, seconds, size, max_ops)
        plan["trace"] = trace
        with open(os.path.join(work, "plan.json"), "w") as f:
            json.dump(plan, f)
        phases = {"prepare_s": time.time() - t_start}
        run_engine(work, t_start + RUN_LIMIT_S - 15)
        phases["engine_s"] = time.time() - t_start - phases["prepare_s"]
        with open(os.path.join(work, "result.json")) as f:
            res = json.load(f)
        failures = check(work, plan, res)
        phases["check_s"] = (time.time() - t_start - phases["prepare_s"]
                             - phases["engine_s"])
        e2e, extra = end_to_end(res)
        layers, layer_extra = {}, {}
        if trace:
            with open(os.path.join(work, "spans.jsonl")) as f:
                spans = [json.loads(line) for line in f]
            layers, layer_extra = per_layer(plan, res, spans)
            last = os.path.join(ROOT, ".perfbench", "last")
            os.makedirs(last, exist_ok=True)
            shutil.copy(os.path.join(work, "spans.jsonl"),
                        os.path.join(last, f"{workload}.spans.jsonl"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    attempted = len(res["firsts"]) + len(res["ops"])
    record.update(loadavg_end=list(os.getloadavg()), master=plan["master"],
                  shuffle_partitions=plan["shuffle_partitions"],
                  spark=res["spark_version"], pyspark=res["pyspark_version"],
                  size=size)
    report = {
        "workload": workload, "seed": seed, "trace": trace,
        "metrics": {k: {"value": v, "unit": END_TO_END[k]}
                    for k, v in e2e.items()},
        "error_rate": {"value": len(failures) / attempted, "unit": "ratio"},
        "write_p50_s": {"value": extra.pop("write_p50_s"), "unit": "s"},
        "details": dict(extra, phases_s=phases, op_latencies_s=[
            [op_of(plan, r).get("query") or op_of(plan, r)["kind"], r["lat"]]
            for r in res["firsts"] + res["ops"]]),
        "failures": failures[:20],
        "per_layer": {k: {"value": v, "unit": PER_LAYER[k]}
                      for k, v in layers.items()},
        "layer_details": layer_extra, "run": record,
    }
    metrics = report["per_layer"] if trace else report["metrics"]
    result = {"correct": not failures, "attempted": attempted,
              "failed": len(failures), "metrics": metrics}
    return report, result


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=8)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("bench", "smoke"), default="bench",
                    help="data size: bench (default) or smoke (tiny)")
    ap.add_argument("--max-ops", type=int, default=None,
                    help="stop after this many operations (smoke runs)")
    args = ap.parse_args()
    # on SIGTERM, unwind so the engine's process group is stopped and the
    # work directory removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not (os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))
            and os.path.isdir(os.path.join(ROOT, "mondrian_rest_spark"))):
        fail("run from the repository root: the engine "
             "(mondrian_rest_spark/, __spark_entry__.py) is not here")
    sys.path[:0] = [ROOT, HERE]
    if args.workload != "all":
        report, result = run_one(args.workload, args.seed, args.seconds,
                                 args.trace, args.size, args.max_ops)
        print("perfbench report: " + json.dumps(report))
        print(json.dumps(result))
        return
    summary = {}
    for w in WORKLOADS:
        runs = {}
        for trace in (0, 1):
            report, result = run_one(w, args.seed, args.seconds, trace,
                                     args.size, args.max_ops)
            print("perfbench report: " + json.dumps(report), flush=True)
            runs[trace] = (report, result)
        base = runs[0][1]["metrics"]["throughput_rps"]["value"]
        traced = runs[1][1]["metrics"]["trace.throughput_rps"]["value"]
        summary[w] = {
            "correct": runs[0][1]["correct"] and runs[1][1]["correct"],
            "error_rate": runs[0][0]["error_rate"],
            "write_p50_s": runs[0][0]["write_p50_s"],
            **runs[0][1]["metrics"],
            "tracing_overhead_rps": {"value": base - traced, "unit": "ops/s"},
            "tracing_overhead_share": {
                "value": (base - traced) / base if base else 0.0,
                "unit": "ratio"},
        }
    print(json.dumps({"seed": args.seed, "workloads": summary}))


if __name__ == "__main__":
    main()
