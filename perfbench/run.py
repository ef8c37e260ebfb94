"""Benchmark of pd_explain_spark as an analyst uses it.

One closed-loop client: one Python process, one local Spark session
with half the CPUs as task slots; each call starts only after the
previous one returned.

    python3 perfbench/run.py --workload explain_sampled --seed 1 --seconds 10 --trace 0

Run it from the repository root. The last line of standard output is a
JSON object with ``correct``, ``attempted``, ``failed`` and ``metrics``:
the end-to-end metrics with ``--trace 0``, the per-layer metrics (from
spans joined to Spark's event log) with ``--trace 1``. See README.md.
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

T_PROCESS = time.perf_counter()  # setup_s counts from process start
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402

WORKLOADS = ("explain_sampled", "curate_docs")
KINDS = ("fedex_filter", "fedex_groupby", "fedex_join", "shapley_join",
         "shapley_filter", "outlier", "many_to_one", "metainsight")
FUNCTIONS = ("curation_pipeline", "dedup_near", "write_shards")

# name -> (unit, the end-to-end metric and workload it should move)
END_TO_END = {
    "setup_s": ("s", "process start to first timed call (JVM start, load, warm-up)"),
    "session_s": ("s", "median wall time of one session (explain) or pass (curate)"),
}
PER_LAYER = {
    "session.start_s": ("s", "setup_s on both workloads"),
    "sources.load_s": ("s", "setup_s on both workloads"),
    "core.capture_s": ("s", "session_s on explain_sampled"),
    "core.capture_jobs": ("count", "session_s on explain_sampled (expected 0: capture is lazy)"),
    "core.result_s": ("s", "session_s on explain_sampled"),
}
for _k in KINDS:
    PER_LAYER[f"explainers.{_k}.s"] = ("s", "session_s (and explain_p50_s) on explain_sampled")
    PER_LAYER[f"explainers.{_k}.jobs"] = ("count", "session_s on explain_sampled")
    PER_LAYER[f"explainers.{_k}.tasks"] = ("count", "session_s on explain_sampled")
    PER_LAYER[f"explainers.{_k}.job_s"] = ("s", "session_s on explain_sampled")
    PER_LAYER[f"explainers.{_k}.driver_s"] = ("s", "session_s on explain_sampled")
PER_LAYER["explainers.render_s"] = ("s", "session_s (and explain_p50_s) on explain_sampled")
for _f in FUNCTIONS:
    PER_LAYER[f"functions.{_f}.s"] = ("s", "session_s (and docs_per_s) on curate_docs")
    PER_LAYER[f"functions.{_f}.jobs"] = ("count", "session_s on curate_docs")
PER_LAYER["functions.write_shards.output_mb"] = ("MB", "session_s on curate_docs")
PER_LAYER.update({
    "spark.input_mb": ("MB", "session_s on both workloads"),
    "spark.shuffle_write_mb": ("MB", "session_s (and peak_rss_mb) on both workloads"),
    "spark.spill_mb": ("MB", "session_s (and peak_rss_mb) on both workloads"),
    "jvm.gc_s": ("s", "session_s (and peak_rss_mb) on both workloads"),
    "trace.overhead_s": ("s", "none: job-group calls the tracer makes per session"),
    "trace.session_s": ("s", "none: session_s with tracing on; minus untraced session_s = tracing overhead"),
})


def pin_environment(tmp: str, trace: bool) -> None:
    """Everything the engine needs from the environment, set before the
    JVM starts: cores, memory, and every scratch path under ``tmp``."""
    mem_mb = int(open("/proc/meminfo").read().split()[1]) // 1024
    # half the CPUs run Spark tasks; the rest keep the Python driver, the
    # JVM's compiler and GC threads off the task threads' cores
    os.environ["SPARK_GRAFT_CPUS"] = str(max(1, len(os.sched_getaffinity(0)) // 2))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{min(1024, mem_mb // 4)}m"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "local")
    os.environ["TMPDIR"] = tmp
    # no hsperfdata files in /tmp, java temp files under the run dir
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    args = ["--conf spark.ui.showConsoleProgress=false"]
    if trace:
        events = os.path.join(tmp, "events")
        os.makedirs(events)
        args += ["--conf spark.eventLog.enabled=true",
                 f"--conf spark.eventLog.dir=file://{events}",
                 "--conf spark.eventLog.compress=false",
                 "--conf spark.eventLog.rolling.enabled=false"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(args + ["pyspark-shell"])
    os.makedirs(os.environ["SPARK_LOCAL_DIRS"])


def load_goldens(scale: str) -> dict:
    with open(os.path.join(HERE, "goldens.json")) as f:
        return json.load(f)[scale]


def warm_up(spark, docs) -> None:
    """curate_docs' first look at the data before the timed pass: an
    aggregate, a join and a small local frame, each collected. Untimed;
    charged to setup_s. It takes the engine's first shuffle, first join
    and first local-rows frame off the pass."""
    docs.groupBy(docs.columns[-1]).count().collect()
    docs.join(docs.select("doc_id"), "doc_id").count()
    spark.createDataFrame([(1, "a", 1.0)], "rank int, attribute string, score double").collect()


def stop_engine(spark) -> float:
    """Stop Spark and its JVM and wait until the JVM has exited; return
    the peak RSS of this process plus the JVM, in MB."""
    from pyspark import SparkContext

    import tracing

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    rss = tracing.vm_hwm_mb("self") + (tracing.vm_hwm_mb(proc.pid) if proc else 0.0)
    spark.stop()
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    return rss


def run(args) -> dict:
    tmp = os.path.join(os.getcwd(), ".perfbench_tmp", f"run-{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    try:
        pin_environment(tmp, args.trace)
        data_dir = os.path.join(tmp, "data")
        t = time.perf_counter()
        info = gen.write_inputs(args.workload, args.seed, args.scale, data_dir)
        # input generation is the harness's work, not the user's wait
        gen_s = time.perf_counter() - t
        return measure(args, tmp, data_dir, info, gen_s)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def measure(args, tmp, data_dir, info, gen_s) -> dict:
    import numpy as np

    import tracing

    from pd_explain_spark import get_spark

    import workloads

    tracer = tracing.Tracer()
    with tracer.span("session.start"):
        spark = get_spark("perfbench")
    sc = spark.sparkContext
    if args.trace:
        tracer.sc = sc
    explain = args.workload == "explain_sampled"
    failures: list[str] = []
    attempted = 0
    sessions: list[float] = []
    calls: list[float] = []
    ops: list[float] = []
    try:
        if explain:
            runner = workloads.ExplainSession(spark, tracer, data_dir)
            goldens = load_goldens(args.scale)
        else:
            runner = workloads.CuratePass(spark, tracer, data_dir, os.path.join(tmp, "out"))
        rng = np.random.default_rng(args.seed)
        results = []

        def one_session(timed: bool) -> None:
            """One explain session or curate pass, its outputs checked.
            Call walls are kept only when ``timed`` (curate_docs runs no
            untimed pass)."""
            nonlocal attempted
            if explain:
                for step in gen.make_session(rng, info):
                    attempted += 1
                    try:
                        r = runner.run_step(step)
                    except Exception:
                        failures.append(f"{step['key']}: {traceback.format_exc(limit=3)}")
                        continue
                    if timed:
                        ops.append(r["op_s"])
                        calls.append(r["call_s"])
                    want = goldens.get(step["key"])
                    if want != r["digest"]:
                        failures.append(f"{step['key']}: digest {r['digest']} != golden {want}")
                return
            attempted += len(FUNCTIONS)
            try:
                res = runner.run()
            except Exception:
                tb = traceback.format_exc(limit=3)
                failures.extend(f"{f} (pass raised): {tb}" for f in FUNCTIONS)
                return
            calls.extend(s["wall"] for s in tracer.spans if s["session"] == tracer.session
                         and s["name"].startswith("functions."))
            results.append(res)

        # untimed warm-up, charged to setup_s (it runs as session 0, like
        # the rest of set-up)
        with tracer.span("warmup"):
            if explain:
                # a whole session: it takes each explainer kind's first-call
                # cost (imports, most JIT and code generation), which moved
                # with host load, off the timed session
                one_session(timed=False)
            else:
                warm_up(spark, runner.docs)
        setup_s = time.perf_counter() - T_PROCESS - gen_s
        gc0 = tracing.jvm_gc_seconds(sc)
        t_loop = time.perf_counter()
        while not sessions or time.perf_counter() - t_loop < args.seconds:
            tracer.session += 1
            t0 = time.perf_counter()
            with tracer.span("session"):
                one_session(timed=True)
            sessions.append(time.perf_counter() - t0)
        gc_s = tracing.jvm_gc_seconds(sc) - gc0
        if not explain:
            oracle = workloads.curate_oracle(data_dir, _curation_oracle_sql())
            for res in results:
                res["output_mb"] = workloads.output_mb(res["out"])
                failures += workloads.check_curate(res, oracle)
    finally:
        peak_rss = stop_engine(spark)

    out = {"sessions": sessions, "calls": calls, "ops": ops, "failures": failures,
           "attempted": attempted, "setup_s": setup_s, "peak_rss_mb": peak_rss,
           "gc_s": gc_s, "tracer": tracer, "explain": explain, "info": info}
    if not explain:
        out["output_mb"] = [r["output_mb"] for r in results]
    if args.trace:
        out["jobs"] = tracing.read_event_log(os.path.join(tmp, "events"))
    return out


def _curation_oracle_sql() -> str:
    """The curation_pipeline oracle SQL the repository already keeps."""
    import __spark_entry__

    return __spark_entry__.oracle_sql()["curation_pipeline"]


def tail(values: list[float]) -> tuple[str, float | None]:
    """Highest of p50/p75/p90/p95/p99 with at least ten samples beyond it."""
    best = ("none", None)
    for q in (50, 75, 90, 95, 99):
        if len(values) * (100 - q) / 100 >= 10:
            best = (f"p{q}", statistics.quantiles(values, n=100)[q - 1])
    return best


def end_to_end(r: dict) -> dict:
    return {"setup_s": r["setup_s"], "session_s": statistics.median(r["sessions"])}


def per_layer(r: dict) -> dict:
    import tracing

    spans, jobs = r["tracer"].spans, r["jobs"]
    by_span = tracing.attribute_jobs(spans, jobs)
    n_sessions = len(r["sessions"])
    m = {name: 0.0 for name in PER_LAYER}

    # layer metrics describe the timed sessions; set-up spans (session 0,
    # the warm-up included) feed only session.start_s and sources.load_s
    timed = [s for s in spans if s["session"] > 0]

    def walls(name, among=timed):
        return [s["wall"] for s in among if s["name"] == name]

    def med(xs):
        return statistics.median(xs) if xs else 0.0

    def job_stats(name):
        """Per call: wall, jobs, tasks, union of job intervals."""
        per = []
        for s in timed:
            if s["name"] == name:
                js = tracing.span_jobs(spans, by_span, s["id"])
                per.append((s["wall"], len(js), sum(j["tasks"] for j in js),
                            tracing.union_seconds([(j["start"], j["end"]) for j in js if j["end"]])))
        return per

    m["session.start_s"] = med(walls("session.start", spans))
    m["sources.load_s"] = med(walls("sources.load", spans))
    m["core.capture_s"] = med(walls("core.capture"))
    m["core.result_s"] = med(walls("core.result"))
    m["core.capture_jobs"] = sum(n for _, n, _, _ in job_stats("core.capture")) / n_sessions
    for k in KINDS:
        per = job_stats(f"explainers.{k}")
        if per:
            m[f"explainers.{k}.s"] = statistics.mean(p[0] for p in per)
            m[f"explainers.{k}.jobs"] = statistics.mean(p[1] for p in per)
            m[f"explainers.{k}.tasks"] = statistics.mean(p[2] for p in per)
            m[f"explainers.{k}.job_s"] = statistics.mean(p[3] for p in per)
            m[f"explainers.{k}.driver_s"] = statistics.mean(p[0] - p[3] for p in per)
    m["explainers.render_s"] = med(walls("explainers.render"))
    for f in FUNCTIONS:
        per = job_stats(f"functions.{f}")
        if per:
            m[f"functions.{f}.s"] = med([p[0] for p in per])
            m[f"functions.{f}.jobs"] = med([p[1] for p in per])
    if r.get("output_mb"):
        m["functions.write_shards.output_mb"] = med(r["output_mb"])
    measured = [j for s in spans if s["name"] == "session" for j in tracing.span_jobs(spans, by_span, s["id"])]
    m["spark.input_mb"] = sum(j["input"] for j in measured) / 1e6 / n_sessions
    m["spark.shuffle_write_mb"] = sum(j["shuffle_write"] for j in measured) / 1e6 / n_sessions
    m["spark.spill_mb"] = sum(j["spill"] for j in measured) / 1e6 / n_sessions
    m["jvm.gc_s"] = r["gc_s"] / n_sessions
    m["trace.overhead_s"] = r["tracer"].overhead_s / n_sessions
    m["trace.session_s"] = statistics.median(r["sessions"])
    return m


def report(args, r: dict) -> dict:
    failed = len(r["failures"])
    attempted = max(r["attempted"], 1)
    for f in r["failures"]:
        print(f"FAILED {f}", file=sys.stderr)
    check = "ok" if failed == 0 else f"{failed} FAILED"
    n_sess, n_calls = len(r["sessions"]), len(r["calls"])
    print(f"# {args.workload} seed={args.seed} trace={args.trace} scale={args.scale} "
          f"sessions={n_sess} calls={n_calls} output check: {check}")
    if args.trace:
        metrics = per_layer(r)
        table = PER_LAYER
        print(f"# tracing overhead: trace.session_s={metrics['trace.session_s']:.3f} s "
              f"(compare with session_s of an untraced run), job-group calls "
              f"{metrics['trace.overhead_s']:.4f} s per session")
        for name, v in metrics.items():
            print(f"{name:<34} {v:12.4f} {table[name][0]:<5} moves {table[name][1]}")
    else:
        metrics = end_to_end(r)
        table = END_TO_END
        counts = {"setup_s": 1, "session_s": n_sess}
        for name, v in metrics.items():
            print(f"{name:<24} {v:12.4f} {table[name][0]:<5} n={counts[name]:<4} {table[name][1]}")
        # printed, not gated: see README.md
        print(f"{'peak_rss_mb':<24} {r['peak_rss_mb']:12.4f} MB    n=1    "
              "peak resident memory of the Python driver plus its java child")
        label = "explain" if r["explain"] else "stage"
        if r["calls"]:
            print(f"{label + '_p50_s':<24} {statistics.median(r['calls']):12.4f} s     n={n_calls}")
        q, v = tail(r["calls"])
        print(f"{label + '_tail_s':<24} {'n/a' if v is None else f'{v:.4f}':>12} s     n={n_calls:<4} "
              f"percentile={q} (highest with >= 10 samples beyond it)")
        if r["ops"]:
            print(f"{'op_p50_s':<24} {statistics.median(r['ops']):12.4f} s     n={len(r['ops'])}")
        if not r["explain"]:
            docs_per_s = r["info"]["n_docs"] / metrics["session_s"]
            print(f"{'docs_per_s':<24} {docs_per_s:12.4f} 1/s   n={n_sess}")
        print(f"{'error_rate':<24} {failed / attempted:12.4f} 1     n={attempted}")
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": v, "unit": table[k][0]} for k, v in metrics.items()}}


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=sorted(gen.SCALES), default="bench",
                   help="input size: bench (timed runs) or smoke (the smoke test)")
    args = p.parse_args(argv)
    sys.path.insert(0, os.getcwd())
    try:
        import pd_explain_spark
    except ImportError as e:
        print(f"perfbench: run from the repository root; cannot import pd_explain_spark: {e}",
              file=sys.stderr)
        return 2
    if not os.path.abspath(pd_explain_spark.__file__).startswith(os.getcwd() + os.sep):
        print(f"perfbench: pd_explain_spark comes from {pd_explain_spark.__file__}, "
              "not from this checkout", file=sys.stderr)
        return 2
    result = run(args)
    if args.trace:
        os.makedirs(".perfbench_out", exist_ok=True)
        result["tracer"].write_jsonl(
            os.path.join(".perfbench_out", f"spans-{args.workload}-seed{args.seed}.jsonl"))
    line = report(args, result)
    sys.stdout.flush()
    print(json.dumps(line), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
