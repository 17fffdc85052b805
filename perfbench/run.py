"""End-to-end benchmark of the engine, driven through its public entry points.

    python3 perfbench/run.py --workload cohort --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --smoke

Run from the root of a checkout. One closed-loop client: an op starts only
once the previous op's result is back on the driver. A run builds its
inputs from ``--seed``, starts one fresh Spark session, runs the cold pass
(every op once), then steady passes until ``--seconds`` have been measured,
and checks every op's output against an answer computed without the
program. The last stdout line is one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
ones (see README.md). Inputs, the Spark working and local directories and
the event log live under ``.perfbench_work/`` and are removed at the end;
host context and spans go to ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
DRIVER_MEM = "2g"
RSS_PERIOD_S = 0.1


# -- processes -----------------------------------------------------------

def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


def tree_rss_mb(pid: int) -> float:
    total = 0
    for p in [pid, *descendants(pid)]:
        try:
            with open(f"/proc/{p}/status") as fh:
                for line in fh:
                    if line.startswith("VmRSS:"):
                        total += int(line.split()[1])
                        break
        except OSError:
            continue
    return total / 1024.0


class RssSampler(threading.Thread):
    """Peak RSS summed over this process, the JVM and the Python workers."""

    def __init__(self):
        super().__init__(daemon=True)
        self.peak = 0.0
        self._stop_evt = threading.Event()

    def run(self) -> None:
        while not self._stop_evt.is_set():
            self.peak = max(self.peak, tree_rss_mb(os.getpid()))
            self._stop_evt.wait(RSS_PERIOD_S)

    def stop(self) -> float:
        self._stop_evt.set()
        self.join()
        return self.peak


# -- session -------------------------------------------------------------

def pin_environment(root: str, work: str) -> dict:
    """Settings the program reads from the environment, fixed per run."""
    cpus = len(os.sched_getaffinity(0))
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "PYTHONPATH": os.pathsep.join(p for p in (root, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
    }
    os.environ.update(env)
    os.makedirs(env["SPARK_LOCAL_DIRS"], exist_ok=True)
    return env


def _warm_workers(batches):
    import numpy  # noqa: F401
    import pandas as pd

    for _ in batches:
        yield pd.DataFrame({"v": [1]})


def start_session(workload: str, event_dir: str | None):
    """``get_spark`` plus warm-up: one JVM action and one Python worker per
    core with numpy and pandas imported, as the repository's bench does."""
    from clinpy_spark.session import get_spark

    conf = {"spark.ui.showConsoleProgress": "false"}
    if event_dir:
        os.makedirs(event_dir, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + event_dir,
                     "spark.eventLog.rolling.enabled": "false",
                     "spark.eventLog.compress": "false"})
    spark = get_spark(f"perfbench-{workload}", extra_conf=conf)
    spark.range(1).count()
    cpus = int(os.environ["SPARK_GRAFT_CPUS"])
    spark.range(cpus, numPartitions=cpus).mapInPandas(_warm_workers, "v long").count()
    return spark


def stop_session(spark) -> None:
    """Stop Spark, end the JVM and wait until every child process is gone."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.time() + 20
    while descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.2)
    for p in descendants(os.getpid()):
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies over all CPUs: time the hypervisor gave
    to other guests is how a slow host window shows from inside a VM."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return fields[7] if len(fields) > 7 else 0, sum(fields)


def host_versions(spark) -> dict:
    return {
        "spark": spark.version,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
        "nproc": len(os.sched_getaffinity(0)),
    }


# -- ops -----------------------------------------------------------------

def force_plan(obj) -> None:
    """Catalyst analysis, optimisation and physical planning, no execution."""
    jdf = getattr(obj, "_jdf", None)
    if jdf is not None:
        jdf.queryExecution().executedPlan()


def run_pass(ops, tracer, spark, records: list, pass_no: int, kind: str) -> None:
    for op in ops:
        op_id = len(records)
        traced = tracer.enabled
        tracer.begin_op(op_id, op.name)
        t_wall, t0 = time.time(), time.perf_counter()
        ok, rows = False, 0
        try:
            obj = tracer.span("op.build", op.build)
            if traced:
                tracer.span("op.plan", force_plan, obj)
            res = tracer.span("op.collect", op.collect, obj)
            latency = time.perf_counter() - t0
            t_end = time.time()
            rows = len(res[1]) if isinstance(res, tuple) else 1 if isinstance(res, str) else len(res)
            ok = bool(op.check(res))
        except Exception:
            latency = time.perf_counter() - t0
            t_end = time.time()
            traceback.print_exc()
        tracer.end_op()
        if not ok:
            print(f"# FAILED op {op.name} (pass {pass_no})", file=sys.stderr)
        pinned = spark.sparkContext._jsc.getPersistentRDDs().size() if traced else 0
        records.append({"op": op_id, "name": op.name, "pass": pass_no, "kind": kind,
                        "traced": traced, "start": t_wall, "end": t_end,
                        "latency_s": latency, "ok": ok, "rows": rows, "pinned_rdds": pinned})


def pass_times(records: list, kind: str, traced: bool | None = None) -> list[float]:
    by_pass: dict[int, float] = {}
    for r in records:
        if r["kind"] == kind and (traced is None or r["traced"] == traced):
            by_pass[r["pass"]] = by_pass.get(r["pass"], 0.0) + r["latency_s"]
    return list(by_pass.values())


# -- metrics -------------------------------------------------------------

def end_to_end(records: list, setup_s: float, peak_rss: float) -> tuple[dict, dict]:
    """Reported metrics, and printed-only numbers: ``op_p90_ms`` with the
    count of samples beyond it (a tail needs ten there to be supported)."""
    steady = [r["latency_s"] * 1000 for r in records if r["kind"] == "steady"]
    p90 = statistics.quantiles(steady, n=10, method="inclusive")[8]
    info = {"op_samples": len(steady), "op_p90_ms": p90,
            "op_p90_beyond": sum(v > p90 for v in steady),
            "steady_passes": len(pass_times(records, "steady"))}
    return {
        "setup_s": (setup_s, "s"),
        "cold_s": (sum(pass_times(records, "cold")), "s"),
        "batch_s": (statistics.median(pass_times(records, "steady")), "s"),
        "op_p50_ms": (statistics.median(steady), "ms"),
        "peak_rss_mb": (peak_rss, "MB"),
    }, info


def per_layer(records: list, tracer, events: dict, setup: dict, layer: str) -> tuple[dict, dict]:
    """Per-layer numbers over the traced cold pass plus the median traced
    steady pass; set-up layers over the set-up phase."""
    import tracing

    spans = tracer.spans
    span_layer = {"op.build": layer, "op.plan": "catalyst", "op.collect": "exec"}
    by_op: dict[int, dict] = {}
    for s, st in zip(spans, tracing.self_times(spans)):
        if s.op is None:
            continue
        d = by_op.setdefault(s.op, {})
        d[s.name + "_ms"] = d.get(s.name + "_ms", 0.0) + s.dur * 1000
        d[s.name + "_calls"] = d.get(s.name + "_calls", 0) + 1
        d[s.name + "_jobs"] = d.get(s.name + "_jobs", 0) + s.jobs
        self_key = f"self.{span_layer.get(s.name, s.name.split('.')[0])}_ms"
        d[self_key] = d.get(self_key, 0.0) + st * 1000

    def op_values(r: dict) -> dict:
        d = by_op.get(r["op"], {})
        ev = events.get(f"perfbench-op-{r['op']}", {})
        busy = tracing.covered(ev.get("intervals", []), r["start"], r["end"])
        return {
            "session.table_ms": d.get("session.table_ms", 0.0),
            "session.table_calls": d.get("session.table_calls", 0),
            "session.table_jobs": d.get("session.table_jobs", 0),
            "op.build_ms": d.get("op.build_ms", 0.0),
            "op.jobs_in_build": d.get("op.build_jobs", 0),
            "op.plan_ms": d.get("op.plan_ms", 0.0),
            "op.exec_ms": d.get("op.collect_ms", 0.0),
            "op.collect_rows": r["rows"],
            **{f"exec.{k}": ev.get(k, 0) for k in (
                "jobs", "stages", "tasks", "task_s", "cpu_s", "gc_s", "shuffle_write_mb",
                "shuffle_read_mb", "spill_mb", "python_in_mb", "python_out_mb")},
            "exec.no_job_s": max(0.0, (r["end"] - r["start"]) - busy),
            **{f"self.{x}_ms": d.get(f"self.{x}_ms", 0.0)
               for x in ("session", layer, "catalyst", "exec")},
        }

    traced = [r for r in records if r["traced"]]
    passes: dict[int, list[dict]] = {}
    for r in traced:
        passes.setdefault(r["pass"], []).append(op_values(r))
    sums = {p: {k: sum(v[k] for v in vals) for k in vals[0]} for p, vals in passes.items()}
    cold = [p for p in sums if any(r["pass"] == p and r["kind"] == "cold" for r in traced)]
    warm = [sums[p] for p in sums if p not in cold]
    out, detail = {}, {}
    for k in sums[cold[0]]:
        (detail if k.startswith("self.") else out)[k] = (
            sums[cold[0]][k] + statistics.median(w[k] for w in warm))
    out["session.pinned_rdds"] = max(r["pinned_rdds"] for r in traced)
    out["session.start_s"] = setup["start_s"]
    # Workloads without an ETL set-up report zero ETL work.
    out.update(setup.get("etl") or dict.fromkeys(
        ("etl.jobs_per_sample", "etl.files_per_sample", "etl.write_amp"), 0))
    untraced = pass_times(records, "steady", traced=False)
    traced_t = pass_times(records, "steady", traced=True)
    out["trace.overhead_pct"] = (statistics.median(traced_t) / statistics.median(untraced) - 1) * 100

    # Module-level detail: per call type, medians over the traced passes.
    per_type: dict[str, list[float]] = {}
    for s in spans:
        if s.op is not None and s.name.startswith("assays.") and (
                s.parent is None or not spans[s.parent].name.startswith("assays.")):
            per_type.setdefault(s.name + "_ms", []).append(s.dur * 1000)
    if layer == "queries":
        for r in traced:
            per_type.setdefault(f"queries.{r['name']}_ms", []).append(r["latency_s"] * 1000)
    detail.update({k: statistics.median(v) for k, v in per_type.items()})
    for k in ("build_ms", "jobs_in_build", "plan_ms", "exec_ms", "collect_rows"):
        name = {"exec_ms": "collect_ms"}.get(k, k) if layer == "assays" else k
        detail[f"{layer}.{name}"] = out[f"op.{k}"]
    detail.update(setup.get("etl_detail", {}))
    return out, detail


UNITS = {"_ms": "ms", "_s": "s", "_mb": "MB", "_pct": "%"}


def unit_of(name: str) -> str:
    for suffix, unit in UNITS.items():
        if name.endswith(suffix):
            return unit
    return "ratio" if name.endswith("write_amp") else "count"


# -- one run -------------------------------------------------------------

def run(args) -> int:
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "clinpy_spark", "__init__.py")):
        print(f"perfbench: no clinpy_spark package under {root}; run from a checkout root",
              file=sys.stderr)
        return 2
    work = os.path.join(root, ".perfbench_work", f"{args.workload}-s{args.seed}-p{os.getpid()}")
    out_dir = os.path.join(root, ".perfbench_out")
    os.makedirs(work, exist_ok=True)
    os.makedirs(out_dir, exist_ok=True)
    env = pin_environment(root, work)
    os.chdir(work)  # spark-warehouse/ and metastore_db/ land here
    sys.path[:0] = [root, HERE]
    load_before = os.getloadavg()
    try:
        return _run_in(args, root, work, out_dir, env, load_before, cpu_times())
    finally:
        os.chdir(root)
        shutil.rmtree(work, ignore_errors=True)


def _run_in(args, root, work, out_dir, env, load_before, cpu_before) -> int:
    import tracing
    import workloads

    t = time.perf_counter()
    wl = workloads.WORKLOADS[args.workload](work, args.seed, args.size)
    gen_s = time.perf_counter() - t

    trace = bool(args.trace)
    tracer = tracing.Tracer(enabled=trace)
    if trace:
        tracer.install()
    sampler = RssSampler()
    sampler.start()
    records: list[dict] = []
    setup: dict = {}
    spark = None
    try:
        t0 = time.perf_counter()
        spark = tracer.span("session.start", start_session, args.workload,
                            os.path.join(work, "events") if trace else None)
        setup["start_s"] = time.perf_counter() - t0
        tracer.attach(spark)
        wl.setup(spark, tracer)
        setup_s = time.perf_counter() - t0
        versions = host_versions(spark)
        ops = wl.ops(fault=args.inject_fault)

        run_pass(ops, tracer, spark, records, 0, "cold")
        measured, pass_no = 0.0, 1
        while measured < args.seconds or (trace and pass_no < 3):
            tracer.enabled = trace and pass_no % 2 == 0  # traced runs alternate
            t = time.perf_counter()
            run_pass(ops, tracer, spark, records, pass_no, "steady")
            measured += time.perf_counter() - t
            pass_no += 1
        tracer.enabled = False
    finally:
        peak_rss = sampler.stop()
        if spark is not None:
            stop_session(spark)
        tracer.unwrap_all()
    load_after = os.getloadavg()
    steal, total = (after - before for after, before in zip(cpu_times(), cpu_before))

    metrics, info = end_to_end(records, setup_s, peak_rss)
    failed = sum(not r["ok"] for r in records)
    info.update(error_rate=failed / len(records), gen_s=gen_s, measured_s=measured)
    detail: dict = {}
    if trace:
        events = tracing.read_event_log(os.path.join(work, "events"))
        if hasattr(wl, "setup_counts"):
            setup.update(etl_metrics(tracer, events, wl.setup_counts()))
        layer_vals, detail = per_layer(records, tracer, events, setup, wl.layer)
        metrics = {k: (v, unit_of(k)) for k, v in layer_vals.items()}
        tracer.dump(os.path.join(out_dir, f"{args.workload}-s{args.seed}-spans.jsonl"))

    context = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "size": args.size, "inputs": wl.inputs(),
        "env": {k: v for k, v in env.items() if k != "PYTHONPATH"},
        "host": {**versions, "loadavg_before": load_before, "loadavg_after": load_after,
                 "cpu_steal_pct": 100.0 * steal / max(total, 1)},
        "metrics": {k: v for k, (v, _) in metrics.items()}, "info": info, "detail": detail,
        "ops": [{k: r[k] for k in ("name", "pass", "kind", "traced", "start", "end",
                                   "latency_s", "ok", "rows")} for r in records],
    }
    with open(os.path.join(out_dir, f"{args.workload}-s{args.seed}-t{args.trace}.json"), "w") as fh:
        json.dump(context, fh, indent=1)

    print(f"# {args.workload} seed={args.seed} inputs={json.dumps(wl.inputs())}")
    print(f"# env {json.dumps(context['env'])} host {json.dumps(context['host'])}")
    printed = {**metrics, "error_rate": (info["error_rate"], "ratio")}
    if not trace:
        printed["op_p90_ms"] = (info["op_p90_ms"], "ms")
    for k, (v, u) in printed.items():
        print(f"# {k:32s} {v:14.4f} {u}")
    for k, v in detail.items():
        print(f"# {k:32s} {v:14.4f} {unit_of(k)}")
    print(f"# steady samples={info['op_samples']} passes={info['steady_passes']} "
          f"p90_beyond={info['op_p90_beyond']} loadavg {load_before[0]:.2f}->{load_after[0]:.2f} "
          f"cpu steal {context['host']['cpu_steal_pct']:.1f}%")
    print(json.dumps({
        "correct": failed == 0, "attempted": len(records), "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


def etl_metrics(tracer, events: dict, counts: dict) -> dict:
    """Set-up (ETL) layer numbers from the spans outside any op."""
    total: dict[str, float] = {}
    for s in tracer.spans:
        if s.op is None:
            total[s.name + "_ms"] = total.get(s.name + "_ms", 0.0) + s.dur * 1000
    setup_jobs = events.get("perfbench-setup", {}).get("jobs", 0)
    n = counts["samples"]
    return {
        "etl": {
            "etl.jobs_per_sample": setup_jobs / n,
            "etl.files_per_sample": counts["files"] / n,
            "etl.write_amp": counts["bytes"] / counts["raw_bytes"],
        },
        "etl_detail": {k: v for k, v in total.items()
                       if k.startswith(("etl.", "sources.", "session.write"))},
    }


# -- self-test -----------------------------------------------------------

def smoke() -> int:
    """Each workload once at tiny size, traced and untraced, plus one run
    with a deliberately wrong answer that must show as a failed op."""
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    want = {0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
            1: {m["name"]: m["unit"] for m in spec["per_layer"]}}
    problems = []

    def once(workload: str, trace: int, fault: bool = False) -> dict:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", workload, "--seed", "1",
               "--seconds", "1", "--trace", str(trace), "--size", "tiny"]
        if fault:
            cmd.append("--inject-fault")
        out = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
        if out.returncode != 0:
            problems.append(f"{workload} trace={trace}: exit {out.returncode}\n{out.stderr[-2000:]}")
            return {}
        return json.loads(out.stdout.strip().splitlines()[-1])

    for w in [x["name"] for x in spec["workloads"]]:
        for trace in (0, 1):
            res = once(w, trace)
            if not res:
                continue
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            if got != want[trace]:
                problems.append(f"{w} trace={trace}: metrics {got} != {want[trace]}")
            if not res["correct"] or res["failed"]:
                problems.append(f"{w} trace={trace}: {res['failed']} failed ops")
            print(f"smoke {w} trace={trace}: {res['attempted']} ops, {res['failed']} failed")
        bad = once(w, 0, fault=True)
        if bad and (bad["correct"] or bad["failed"] == 0):
            problems.append(f"{w}: an injected wrong answer was not counted")
        print(f"smoke {w} fault: {bad.get('failed')} failed of {bad.get('attempted')}")
    for p in problems:
        print("SMOKE FAIL:", p)
    return 1 if problems else 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=["cohort", "analytics_batch"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=["default", "tiny"], default="default")
    ap.add_argument("--inject-fault", action="store_true",
                    help="check one op against a wrong answer (self-test)")
    ap.add_argument("--smoke", action="store_true", help="run the self-test")
    args = ap.parse_args()
    if args.smoke:
        return smoke()
    if not args.workload:
        ap.error("--workload is required")
    return run(args)


if __name__ == "__main__":
    sys.exit(main())
