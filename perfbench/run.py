"""KG-construction benchmark: one seeded workload per invocation.

    python3 perfbench/run.py --workload kg_build --seed 1 --seconds 6 --trace 0

Run from the root of a checkout. Closed loop: one client, one job at a time,
``local[N]`` with N = the usable cores. ``--trace 0`` prints the end-to-end
metrics; ``--trace 1`` prints the per-layer metrics of a separate traced pass
(see README.md). The last line of stdout is the JSON result; the line before
it records the pinned environment and the generator's measured shares. Both
also land in ``.perfbench_out/<workload>-seed<seed>/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DRIVER_MEMORY = "2g"  # a 15 GB box shared with other jobs; inputs are small
JVM_GC = "-XX:+UseParallelGC -XX:-UseAdaptiveSizePolicy -Xmn512m"
SETUP_REPEATS = 3
# a run must end within 180 s; optional traced-run steps are skipped when
# their estimate would not fit in this budget (see time_left)
RUN_LIMIT_S = 165
T_START = time.perf_counter()
RML_STEPS = ("rml.parse", "rml.compile", "rml.write_nt", "rml.write_quads")


def cores() -> int:
    return len(os.sched_getaffinity(0))


def pin_env(work: str) -> dict:
    """Environment every run uses, set before the JVM starts. Spark's scratch
    space lives inside the checkout, so SPARK_GRAFT_TMPFS stays unset and
    the session keeps Spark's default (compressed) shuffle and spill."""
    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    os.environ.pop("SPARK_GRAFT_TMPFS", None)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["SPARK_GRAFT_CPUS"] = str(cores())
    os.environ["TMPDIR"] = tmp
    # G1 grows the heap when GC pauses take long, so on a shared box its
    # peak RSS followed the box's load (quartile spread 0.29 of the median
    # over five kg_build seeds). The throughput collector with a fixed
    # sizing policy grows the old generation only when live data needs it:
    # spread 0.05, well below the 2g maximum, so a change in heap use still
    # shows. The young generation is fixed at a quarter of the maximum;
    # left at a third of the small initial heap, GC took twice as long.
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-memory {DRIVER_MEMORY} "
        f"--driver-java-options '{JVM_GC} -Djava.io.tmpdir={tmp}' pyspark-shell")
    # pandas-UDF workers import the package by name: without this they fail
    # with ModuleNotFoundError: rossete_rdf_spark
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    with open("/proc/meminfo", encoding="ascii") as f:
        mem_kb = int(f.readline().split()[1])
    return {
        "nproc": cores(),
        "master": f"local[{cores()}]",
        "shuffle_partitions": cores(),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "driver_gc": JVM_GC,
        "box_mem_gb": round(mem_kb / 2**20, 1),
        "SPARK_GRAFT_TMPFS": None,
        "SPARK_LOCAL_DIRS": os.path.relpath(local, ROOT),
        "shuffle_compress": True,
        "PYTHONPATH": "<checkout root>",
    }


class Session:
    """One SparkSession at a time on one driver JVM."""

    def __init__(self):
        self.spark = None

    def start(self, event_log: str | None = None):
        from rossete_rdf_spark.session import get_spark

        conf = {"spark.ui.showConsoleProgress": "false"}
        if event_log:
            os.makedirs(event_log, exist_ok=True)
            conf |= {"spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": "file://" + event_log,
                    "spark.eventLog.compress": "false"}
        self.spark = get_spark(app_name="perfbench", master=f"local[{cores()}]",
                               shuffle_partitions=cores(), extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def jvm_pid(self) -> int:
        return int(self.spark._jvm.java.lang.ProcessHandle.current().pid())

    def versions(self) -> dict:
        import pyspark

        jvm = self.spark._jvm
        return {"spark": self.spark.version, "pyspark": pyspark.__version__,
                "java": jvm.java.lang.System.getProperty("java.version"),
                "python": sys.version.split()[0]}

    @staticmethod
    def shutdown_jvm() -> None:
        """Stop the gateway JVM (and the Python workers it forked) and wait
        for it to exit."""
        from pyspark import SparkContext

        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        try:
            gw.shutdown()
        finally:
            SparkContext._gateway = None
            SparkContext._jvm = None
            if proc is not None:
                if proc.stdin:
                    proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait(timeout=30)


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status", encoding="ascii") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("VmHWM not found")


def set_up(session: Session, wl, event_log: str | None) -> dict:
    """Session start, input generation (repeated; median), warm-up pass."""
    t0 = time.perf_counter()
    spark = session.start(event_log)
    start_s = time.perf_counter() - t0
    gen_s, digests = [], set()
    for _ in range(SETUP_REPEATS):
        t = time.perf_counter()
        digests.add(wl.generate())
        gen_s.append(time.perf_counter() - t)
    if len(digests) != 1:
        wl.setup_problems.append("input generation is not deterministic per seed")
    t = time.perf_counter()
    wl.setup(spark)
    warm_s = time.perf_counter() - t
    return {"session_start_s": start_s, "generate_s": statistics.median(gen_s),
            "warmup_s": warm_s,
            "setup_s": start_s + statistics.median(gen_s) + warm_s}


def timed_loop(spark, wl, work: str, seconds: float,
               jvm_pid: int | None = None) -> list[dict]:
    """Closed loop: each pass starts when the previous one ends; passes
    start until ``seconds`` have elapsed (at least one). Every pass writes
    into its own directory and is checked after the loop, so untimed checks
    do not take up the measured window. With ``jvm_pid`` the first pass also
    records the driver JVM's peak RSS right after it ends: later passes
    only add old-generation growth whose timing varies from run to run."""
    runs = []
    t_end = time.perf_counter() + seconds
    while not runs or time.perf_counter() < t_end:
        out = os.path.join(work, f"out-{len(runs)}")
        shutil.rmtree(out, ignore_errors=True)
        rec = {"ok": False, "out": out, "problems": []}
        try:
            t = time.perf_counter()
            wl.run_once(spark, out)
            rec["wall_s"] = time.perf_counter() - t
        except Exception:  # a failed pass is a measured outcome, not a crash
            rec["problems"] = [traceback.format_exc(limit=3)]
        if jvm_pid is not None and not runs:
            rec["rss_mb"] = vm_hwm_mb(jvm_pid)
        runs.append(rec)
    for i, rec in enumerate(runs):
        out = rec.pop("out")
        if not rec["problems"]:
            try:
                rec["triples"] = wl.triples_written(out)
                rec["bytes"] = wl.result_bytes(out)
                t = time.perf_counter()
                rec["problems"] = wl.check(spark, out)
                rec["check_s"] = time.perf_counter() - t
                rec["ok"] = not rec["problems"]
            except Exception:
                rec["problems"] = [traceback.format_exc(limit=3)]
        if rec["problems"]:
            print(f"[perfbench] pass {i} failed: {rec['problems']}", file=sys.stderr)
        shutil.rmtree(out, ignore_errors=True)
    return runs


def end_to_end(setup: dict, runs: list[dict], rss_mb: float) -> dict:
    """Medians over the passes whose output check passed, so a wrong but
    faster pass cannot improve them; over every completed pass only when no
    pass was correct (the result then says correct: false)."""
    done = ([r for r in runs if r["ok"]]
            or [r for r in runs if r.get("triples")])
    if not done:
        raise RuntimeError("no pass completed")
    return {
        "setup_s": (setup["setup_s"], "s"),
        "wall_s": (statistics.median(r["wall_s"] for r in done), "s"),
        "triples_per_s": (statistics.median(r["triples"] / r["wall_s"]
                                            for r in done), "triples/s"),
        "peak_rss_mb": (rss_mb, "MB"),
        "bytes_per_triple": (statistics.median(r["bytes"] / r["triples"]
                                               for r in done), "B/triple"),
        "ok_frac": (sum(r["ok"] for r in runs) / len(runs), "frac"),
    }


def per_layer(wl, tracer, setup: dict, overhead: tuple | None, counts: dict,
              manifest_rows: dict, jvm: dict) -> dict:
    """Every per-layer metric; a layer this workload does not run reads 0,
    and so does the overhead when it was not measured."""
    spans = tracer.spans
    selfs = tracer.self_times()
    kids: dict[int, list] = {}
    for s in spans:
        kids.setdefault(s.parent, []).append(s)

    def subtree(s):
        out = [s]
        for k in kids.get(s.id, []):
            out += subtree(k)
        return out

    def spark_sum(group, key):
        return sum(x.spark.get(key, 0) for x in group)

    def counters(group, span_wall):
        run_s = spark_sum(group, "run_ms") / 1000
        busy = run_s / (span_wall * cores()) if span_wall > 0 else 0.0
        return {"jobs": (spark_sum(group, "jobs"), "count"),
                "tasks": (spark_sum(group, "tasks"), "count"),
                "busy_frac": (busy, "frac"),
                "shuffle_mb": (spark_sum(group, "shuffle_write_b") / 1e6, "MB"),
                "spill_mb": (spark_sum(group, "spill_b") / 1e6, "MB")}

    m: dict[str, tuple] = {}
    by_name = {}
    for s in spans:
        by_name.setdefault(s.name, []).append(s)

    def wall(name):
        return sum(s.wall for s in by_name.get(name, []))

    def layer(name):
        """Spark counters of every span called name, children included."""
        group = [x for s in by_name.get(name, []) for x in subtree(s)]
        return counters(group, wall(name))

    from rossete_rdf_spark.pipeline.kg import STAGES

    for stage in STAGES:
        m[f"{stage}.build_s"] = (wall(f"{stage}.build"), "s")
        m[f"{stage}.exec_s"] = (sum(selfs[s.id] for s in by_name.get(stage, [])), "s")
        for k, v in layer(stage).items():
            m[f"{stage}.{k}"] = v
        m[f"{stage}.rows"] = (manifest_rows.get(stage, 0), "count")

    for key in ("pagedup.lsh_pairs", "pagedup.cc_jobs", "canonical.lsh_pairs",
                "canonical.cc_jobs"):
        m[key] = (counts.get(key, 0), "count")
    for key in ("pagedup.verified_frac", "pagedup.kept_frac",
                "canonical.verified_frac"):
        m[key] = (counts.get(key, 0.0), "frac")
    for key in ("pagedup.cc", "canonical.cc"):
        m[f"{key}_s"] = (wall(key), "s")
    m["checkpoint.write_s"] = (counts.get("checkpoint.write_s", 0.0), "s")
    m["checkpoint.load_s"] = (counts.get("checkpoint.load_s", 0.0), "s")
    m["checkpoint.mb"] = (counts.get("checkpoint.mb", 0.0), "MB")

    for step in RML_STEPS:
        m[f"{step}.s"] = (wall(step), "s")
        for k, v in layer(step).items():
            m[f"{step}.{k}"] = v
    m["rml.sources.s"] = (wall("rml.sources"), "s")

    m["jvm.gc_s"] = (jvm["gc_ms"] / 1000, "s")
    m["jvm.jit_s"] = (jvm["jit_ms"] / 1000, "s")
    m["jvm.codegen_s"] = (jvm["codegen_n"] * jvm["codegen_mean_ms"] / 1000, "s")
    m["session.start_s"] = (setup["session_start_s"], "s")
    root = by_name[wl.name][0]
    m["trace.overhead_frac"] = (
        (overhead[1] - overhead[0]) / overhead[0] if overhead else 0.0, "frac")
    m["trace.residual_s"] = (selfs[root.id], "s")
    return m


def time_left() -> float:
    return RUN_LIMIT_S - (time.perf_counter() - T_START)


def traced(session: Session, wl, work: str, out_dir: str, setup: dict,
           runs: list[dict], info: dict, event_log: str) -> tuple[dict, bool]:
    """The traced pass, its check, the count pass and the overhead pair ->
    per-layer metrics. The last two are skipped (their metrics read 0, the
    info line says so) when their estimate does not fit the time limit."""
    from perfbench.trace import Tracer

    spark = session.spark
    tracer = Tracer(spark)
    out = os.path.join(work, "traced")
    wl.traced_pass(spark, tracer, out)
    traced_wall = next(s.wall for s in tracer.spans if s.name == wl.name)
    problems = wl.check(spark, out)
    info["traced_problems"] = problems
    rows = {}
    manifest = os.path.join(out, "manifest.json")
    if os.path.exists(manifest):
        with open(manifest, encoding="utf-8") as f:
            rows = {k: v["rows"] for k, v in json.load(f)["stages"].items()}
    counts = {}
    if time_left() > wl.count_estimate_s(traced_wall):
        counts = wl.count_pass(spark, out, os.path.join(work, "count"))
    else:
        info["count_pass"] = "skipped to stay in the time limit; its metrics read 0"
    overhead = None
    if time_left() > wl.overhead_estimate_s():
        overhead, more = wl.overhead(spark, lambda: Tracer(spark, "perfbench-overhead"),
                                     out, runs, traced_wall)
        problems += more
    if overhead is None:
        info["overhead"] = "not measured in the time limit; trace.overhead_frac reads 0"
    else:
        info["overhead_untraced_traced_s"] = overhead
    jvm_totals = tracer.jvm_totals()
    session.stop()  # flushes the event log
    tracer.attribute(event_log)
    metrics = per_layer(wl, tracer, setup, overhead, counts, rows, jvm_totals)
    tracer.dump(os.path.join(out_dir, "spans.json"),
                {"workload": wl.name, "seed": wl.seed, "cores": cores(),
                 "overhead_untraced_traced_s": overhead,
                 "metrics": {k: v[0] for k, v in metrics.items()}})
    return metrics, not problems


def run(args) -> tuple[dict, dict]:
    from perfbench.workloads import WORKLOADS

    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench_out", f"{args.workload}-seed{args.seed}")
    os.makedirs(out_dir, exist_ok=True)
    env = pin_env(work)
    wl = WORKLOADS[args.workload](work, args.seed)
    session = Session()
    # a traced run logs Spark events from its first job; untraced runs never do
    event_log = os.path.join(work, "eventlog") if args.trace else None
    try:
        setup = set_up(session, wl, event_log)
        env["versions"] = session.versions()
        info = {"workload": args.workload, "seed": args.seed, "env": env,
                **wl.info, "setup": setup, "setup_problems": wl.setup_problems}
        runs = []
        if not args.trace or wl.timed_before_trace:
            runs = timed_loop(session.spark, wl, work, args.seconds, session.jvm_pid())
        info["passes"] = [{k: v for k, v in r.items() if k != "problems"}
                          for r in runs]
        if runs:
            e2e = end_to_end(setup, runs, runs[0]["rss_mb"])
            info["end_to_end"] = {k: v for k, (v, _u) in e2e.items()}
        oks = [r["ok"] for r in runs]
        if not args.trace:
            metrics = e2e
        else:
            metrics, traced_ok = traced(session, wl, work, out_dir, setup, runs,
                                        info, event_log)
            oks.append(traced_ok)
        result = {
            "correct": all(oks) and not wl.setup_problems,
            "attempted": len(oks),
            "failed": oks.count(False),
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
        with open(os.path.join(out_dir, f"result-trace{args.trace}.json"), "w",
                  encoding="utf-8") as f:
            json.dump({"info": info, "result": result}, f, indent=1, default=str)
        return info, result
    finally:
        session.stop()
        Session.shutdown_jvm()
        shutil.rmtree(work, ignore_errors=True)


def main(argv=None) -> int:
    from perfbench.workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "rossete_rdf_spark")):
        print("perfbench: run from a checkout that holds the rossete_rdf_spark "
              "package", file=sys.stderr)
        return 2
    info, result = run(args)
    print(json.dumps(info, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    sys.exit(main())
